package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Recode

/** A loaded dataset plus the metadata the experiment harness needs —
  * the reference returns the tuple
  * `(df, label, positive_label, sensitive_features, unpriv_group, k)`
  * (reference `replication_package/src/getdataset.py:5,82`).
  *
  * @param k the convergence-sweep step for `eval_demv` (SURVEY §6)
  */
final case class DatasetSpec(
    df: DataFrame,
    label: String,
    positiveLabel: Any,
    sensitiveVars: Seq[String],
    unprivGroup: Map[String, Any],
    k: Int)

/** The reference's 10 dataset ETL loaders, Spark-first (reference
  * `replication_package/src/getdataset.py`). Faithful semantics: same
  * recodes, same encoder orderings (sklearn LabelEncoder = alphabetical),
  * same unprivileged-group selection by `numberOfFeatures`/`singleFeature`/
  * `sensitiveFeature` (each loader's `sfs` table).
  *
  * Differences, by design:
  *  - paths are parameters (the reference hard-codes `data/...`);
  *  - crime reads a CSV conversion of `crime_data_normalized.xlsx` (Spark
  *    has no Excel reader — SURVEY §2.1 S6: pre-convert offline);
  *  - park's 200-row relabel uses a SEEDED sample (the reference's
  *    `df.sample(n=200)` is unseeded, `getdataset.py:451` — only the count
  *    is contractual).
  */
object Datasets {

  /** Seal a loader output with a LAZY lineage truncation
    * (`localCheckpoint(eager = false)`): the recode pipelines stack
    * ~100 CaseWhen-aliased columns (one-hot blocks, encode ladders), and
    * Catalyst's constraint propagation goes combinatorial when a
    * multi-key join or window sits on top of that alias tower — measured
    * as MINUTES of driver optimizer CPU for adult+DEMV (optimize drops to
    * 0.1 s once the tower is behind a leaf). These are small, eagerly
    * re-read experiment datasets reused across folds and repetitions, so
    * one materialization on first action is also a reuse win, not a cost.
    * The one checkpoint outside [[graft.etl.CacheTracker]]: it lives as
    * long as the [[DatasetSpec]], which a caller may hold across drains.
    */
  private def seal(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Dispatch by name (reference `getdataset.getdataset`). */
  def get(
      spark: SparkSession,
      dataset: String,
      dataDir: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = dataset match {
    case "adult" => adult(spark, s"$dataDir/adult.data", numberOfFeatures, singleFeature, sensitiveFeature)
    case "cmc" => cmc(spark, s"$dataDir/cmc.data", numberOfFeatures, singleFeature, sensitiveFeature)
    case "compas" => compas(spark, s"$dataDir/compas.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "crime" => crime(spark, s"$dataDir/crime_data_normalized.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "drug" => drug(spark, s"$dataDir/drugs.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "german" => german(spark, s"$dataDir/german.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "law" => law(spark, s"$dataDir/bar_pass_prediction.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "obesity" => obesity(spark, s"$dataDir/obesity.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "park" => park(spark, s"$dataDir/park.csv", numberOfFeatures, singleFeature, sensitiveFeature)
    case "wine" => wine(spark, s"$dataDir/winequality-red.csv", s"$dataDir/winequality-white.csv",
      numberOfFeatures, singleFeature, sensitiveFeature)
    case other => throw new IllegalArgumentException(
      s"No dataset called '$other' (reference getdataset.py:544-545)")
  }

  /** Threshold binarization `data.loc[data[k] < t] = 0 else 1` — the
    * reference's per-dataset third-feature recode idiom.
    */
  private def binarizeCol(df: DataFrame, c: String, threshold: Double): DataFrame =
    df.withColumn(c, when(col(c) < threshold, 0).otherwise(1))

  /** Resolve the unprivileged group the way every loader does: explicit
    * `sensitiveFeature` list wins (validated against `sfs`), else the
    * `numberOfFeatures`/`singleFeature` ladder. Loaders call it before any
    * I/O, so a bad request fails here, not on a missing file.
    */
  private def resolveGroup(
      sfs: Seq[(String, Any)],
      numberOfFeatures: Int,
      singleFeature: Int,
      sensitiveFeature: Option[Seq[String]]): Map[String, Any] = {
    val table = sfs.toMap
    sensitiveFeature match {
      case Some(requested) =>
        requested.map { sf =>
          sf -> table.getOrElse(sf, throw new IllegalArgumentException(
            s"Sensitive feature '$sf' not found in selected dataset."))
        }.toMap
      case None =>
        val names = sfs.map(_._1)
        numberOfFeatures match {
          case 1 => val n = if (singleFeature != 2) names(0) else names(1); Map(n -> table(n))
          case 2 => Map(names(0) -> table(names(0)), names(1) -> table(names(1)))
          case 3 => names.take(3).map(n => n -> table(n)).toMap
          case other => throw new IllegalArgumentException(s"Wrong number of features: $other")
        }
    }
  }

  /** Does the resolved group include the dataset's binarize-on-demand
    * third feature?
    */
  private def needsThird(group: Map[String, Any], third: String): Boolean =
    group.contains(third)

  // ------------------------------------------------------------------ adult
  /** UCI Adult (reference `getdataset.py:10-82`): Black/White-only filter,
    * age/hours binning, 7 one-hot blocks, label+ordinal encodes.
    */
  def adult(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("sex" -> 0, "race" -> 0, "Bachelors" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    val columnNames = Seq("age", "workclass", "fnlwgt", "education", "education-num",
      "marital-status", "occupation", "relationship", "race", "sex", "capital-gain",
      "capital-loss", "hours-per-week", "native-country", "income")
    val schema = StructType(columnNames.map {
      case c @ ("age" | "fnlwgt" | "education-num" | "capital-gain" | "capital-loss" | "hours-per-week") =>
        StructField(c, IntegerType)
      case c => StructField(c, StringType)
    })
    var df = spark.read.schema(schema).csv(path)
      // values carry a leading space in the raw file (" Black") — preserved,
      // as the reference matches on them verbatim (getdataset.py:17-18)
      .where(col("race") === " Black" || col("race") === " White")
      .withColumn("native-country",
        when(col("native-country") === " ?", "Not known").otherwise(col("native-country")))

    val ageLabels = Seq("age<10", "age between 10 and 20", "age between 20 and 30",
      "age between 30 and 40", "age between 40 and 50", "age between 50 and 60",
      "age between 60 and 70", "age>70")
    val hourLabels = Seq("hour<10", "hours between 10 and 20", "hours between 20 and 30",
      "hours between 30 and 40", "hour between 40 and 50", "hour>70")
    df = df
      .withColumn("age_class",
        Recode.cut(col("age").cast("double"), Seq(0, 9, 19, 29, 39, 49, 59, 69, 99), ageLabels))
      .withColumn("hour-per-week-class",
        Recode.cut(col("hours-per-week").cast("double"), Seq(0, 9, 19, 29, 39, 49, 99), hourLabels))
      .drop("hours-per-week", "workclass", "fnlwgt", "capital-gain", "capital-loss", "age", "education-num")

    // pd.get_dummies blocks (getdataset.py:35-48): object columns emit
    // observed values; Categorical (cut output) emits every declared label
    for (c <- Seq("education", "marital-status", "occupation", "relationship", "native-country")) {
      df = Recode.oneHot(df, c).drop(c)
    }
    df = Recode.oneHotValues(df, "age_class", ageLabels).drop("age_class")
    df = Recode.oneHotValues(df, "hour-per-week-class", hourLabels).drop("hour-per-week-class")

    df = Recode.labelEncode(df, "income")
    df = Recode.ordinalEncode(df, Seq("sex", "race"))
    df = df.withColumnRenamed(" Bachelors", "Bachelors").withColumnRenamed("hour<10", "hours")

    // sex/race are ordinal-encoded doubles; align the group literal types
    val typedGroup = group.map {
      case (k @ ("sex" | "race"), v: Int) => k -> (v.toDouble: Any)
      case kv => kv
    }
    DatasetSpec(seal(df), "income", 1, typedGroup.keys.toSeq, typedGroup, 200)
  }

  // -------------------------------------------------------------------- cmc
  /** Contraceptive method choice (reference `getdataset.py:84-123`). */
  def cmc(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("wife_religion" -> 1, "wife_work" -> 1, "wife_edu" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    val names = Seq("wife_age", "wife_edu", "hus_edu", "num_child", "wife_religion",
      "wife_work", "hus_occ", "living", "media", "contr_use")
    val schema = StructType(names.map(StructField(_, IntegerType)))
    var df = spark.read.schema(schema).csv(path)
    if (needsThird(group, "wife_edu")) df = binarizeCol(df, "wife_edu", 33)
    DatasetSpec(seal(df), "contr_use", 2, group.keys.toSeq, group, 3)
  }

  // ----------------------------------------------------------------- compas
  /** COMPAS recidivism (reference `getdataset.py:126-163`). */
  def compas(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("sex" -> 0, "race" -> 0, "age" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = dropIndexCol(spark.read.option("header", true).option("inferSchema", true).csv(path))
    if (needsThird(group, "age")) df = binarizeCol(df, "age", 50)
    DatasetSpec(seal(df), "two_year_recid", 1, group.keys.toSeq, group, 29)
  }

  // ------------------------------------------------------------------ crime
  /** Communities & crime (reference `getdataset.py:165-222`): NA-column
    * pruning, full z-scoring, quantile class construction with the
    * reference's sequential `loc` reassignment semantics.
    *
    * `path` is a CSV conversion of `crime_data_normalized.xlsx` with the
    * same `?` NA sentinels (S6: Spark has no Excel source).
    */
  def crime(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("black_people" -> 1, "hisp_people" -> 1, "MedRent" -> 1),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = spark.read.option("header", true).option("inferSchema", true)
      .option("nullValue", "?").csv(path)
      .drop("state", "county", "community", "communityname", "fold", "OtherPerCap")
    df = Recode.dropColumnsWithNulls(df)
    df = Recode.zscore(df, df.columns.toSeq)

    // np.quantile(..., [0,.2,.4,.6,.8,1]) then sequential `loc <= cl` walk
    // (getdataset.py:173-179): a row's final class is the fold of
    // c = v; for (i, cl): if c <= cl then c = i*100 — expressed as a when
    // chain evaluated in the same order
    val quantiles = df.stat.approxQuantile("ViolentCrimesPerPop", Array(0, 0.2, 0.4, 0.6, 0.8, 1.0), 0.0)
    val cls = quantiles.zipWithIndex.foldLeft(col("ViolentCrimesPerPop")) {
      case (acc, (cl, i)) => when(acc <= cl, lit(i * 100.0)).otherwise(acc)
    }
    df = df.withColumn("ViolentCrimesClass", cls).drop("ViolentCrimesPerPop")
    df = df
      .withColumn("black_people", (col("racepctblack") > -0.45).cast("int"))
      .withColumn("hisp_people", (col("racePctHisp") > -0.4).cast("int"))
      .drop("racepctblack", "racePctHisp")

    if (needsThird(group, "MedRent")) df = binarizeCol(df, "MedRent", 0.1)
    DatasetSpec(seal(df), "ViolentCrimesClass", 100.0, group.keys.toSeq, group, 41)
  }

  // ------------------------------------------------------------------- drug
  /** Drug consumption (reference `getdataset.py:224-278`). */
  def drug(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("race" -> 1, "gender" -> 0, "age" -> 1),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = spark.read.option("header", true).option("inferSchema", true).csv(path)
      .drop("yhat", "a")
      // gender is a z-scored constant pair +-0.48246 -> 1/0 (getdataset.py:228-229);
      // match pandas' exact float equality by comparing the rounded value
      .withColumn("gender",
        when(round(col("gender"), 5) === 0.48246, 1)
          .when(round(col("gender"), 5) === -0.48246, 0)
          .otherwise(col("gender").cast("int")))
      .withColumn("y",
        when(col("y") === "never", 0)
          .when(col("y") === "not last year", 1)
          .when(col("y") === "last year", 2))
      .withColumn("race",
        when(col("race") === "non-white", 0).when(col("race") === "white", 1))
    // drop remaining string columns (getdataset.py:237-238)
    val stringCols = df.schema.fields.collect { case StructField(n, StringType, _, _) => n }
    df = df.drop(stringCols.toSeq: _*)
    if (needsThird(group, "age")) df = binarizeCol(df, "age", 0)
    DatasetSpec(seal(df), "y", 0, group.keys.toSeq, group, 22)
  }

  // ----------------------------------------------------------------- german
  /** German credit (reference `getdataset.py:280-322`). */
  def german(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("sex" -> 0, "age" -> 0, "investment_as_income_percentage" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = dropIndexCol(spark.read.option("header", true).option("inferSchema", true).csv(path))
    if (needsThird(group, "investment_as_income_percentage"))
      df = binarizeCol(df, "investment_as_income_percentage", 3)
    DatasetSpec(seal(df), "credit", 1, group.keys.toSeq, group, 2)
  }

  // -------------------------------------------------------------------- law
  /** Law school bar passage (reference `getdataset.py:325-378`). */
  def law(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("race" -> 1, "gender" -> 1, "age" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = dropIndexCol(spark.read.option("header", true).option("inferSchema", true).csv(path))
      .drop("ID", "decile1b", "decile3", "decile1", "cluster", "bar1", "bar2",
        "sex", "male", "race1", "race2", "other", "asian", "black", "hisp", "bar",
        "index6040", "indxgrp", "indxgrp2", "dnn_bar_pass_prediction", "grad",
        "bar1_yr", "bar2_yr", "ugpa")
      .withColumn("Dropout",
        when(col("Dropout") === "NO", 0).when(col("Dropout") === "YES", 1)
          .otherwise(col("Dropout").cast("int")))
      .na.drop()
      .withColumn("gender",
        when(col("gender") === "female", 1).when(col("gender") === "male", 0)
          .otherwise(col("gender").cast("int")))
      .withColumn("race", when(col("race") === 7.0, 0).otherwise(1))
    // gpa: qcut(3, labels=a,b,c) then LabelEncoder — alphabetical labels
    // encode to their quantile index, so the composition is the bucket id
    df = Recode.qcut(df, "gpa", 3, Seq("a", "b", "c"))
    df = df.drop("gpa").withColumnRenamed("gpa_bin", "gpa")
    df = Recode.labelEncode(df, "gpa")
    if (needsThird(group, "age")) df = binarizeCol(df, "age", 61)
    DatasetSpec(seal(df), "gpa", 2, group.keys.toSeq, group, 103)
  }

  // ---------------------------------------------------------------- obesity
  /** Obesity levels (reference `getdataset.py:380-438`). */
  def obesity(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("Gender" -> 1, "Age" -> 1, "MTRANS" -> 1),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = spark.read.option("header", true).option("inferSchema", true).csv(path)
      .drop("NObeyesdad", "weight_cat", "yhat", "a")
    for (c <- Seq("Gender", "family_history_with_overweight", "FAVC", "CAEC", "SMOKE", "SCC", "CALC", "MTRANS"))
      df = Recode.labelEncode(df, c)
    df = df.withColumn("y",
      when(col("y") === "Normal_Weight", 0)
        .when(col("y") === "Overweight_Level_I", 1)
        .when(col("y") === "Overweight_Level_II", 2)
        .when(col("y") === "Obesity_Type_I", 3)
        .when(col("y") === "Insufficient_Weight", 4))
    df = binarizeCol(df, "Age", 22)
    if (needsThird(group, "MTRANS")) df = binarizeCol(df, "MTRANS", 3)
    DatasetSpec(seal(df), "y", 0, group.keys.toSeq, group, 10)
  }

  // ------------------------------------------------------------------- park
  /** Parkinson telemonitoring (reference `getdataset.py:440-491`).
    * The 200-row relabel of the (age=1, sex=1, score_cut=1) cell uses a
    * seeded sample (the reference's is unseeded — only the count is
    * contractual).
    */
  def park(
      spark: SparkSession,
      path: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None,
      seed: Long = 42L): DatasetSpec = {
    val group = resolveGroup(
      Seq("age" -> 1, "sex" -> 0, "PPE" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    var df = spark.read.option("header", true).option("inferSchema", true).csv(path)
      .drop("subject#", "a", "y", "yhat", "motor_UPDRS", "total_UPDRS", "test_time")
    df = binarizeCol(df, "age", 65)
    df = df.withColumn("score_cut",
      when(col("score_cut") === "Mild", 0)
        .when(col("score_cut") === "Moderate", 1)
        .when(col("score_cut") === "Severe", 2))
    // relabel 200 random rows of the (1,1,1) cell to 0 (getdataset.py:451-452):
    // seeded rank inside the cell, flip the first 200
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("age"), col("sex"), col("score_cut")).orderBy(rand(seed))
    df = df
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("score_cut",
        when(col("age") === 1 && col("sex") === 1 && col("score_cut") === 1 && col("__rn") <= 200, 0)
          .otherwise(col("score_cut")))
      .drop("__rn")
    if (needsThird(group, "PPE")) df = binarizeCol(df, "PPE", 0.14)
    DatasetSpec(seal(df), "score_cut", 0, group.keys.toSeq, group, 34)
  }

  // ------------------------------------------------------------------- wine
  /** Wine quality, red+white union (reference `getdataset.py:493-542`). */
  def wine(
      spark: SparkSession,
      redPath: String,
      whitePath: String,
      numberOfFeatures: Int,
      singleFeature: Int = 1,
      sensitiveFeature: Option[Seq[String]] = None): DatasetSpec = {
    val group = resolveGroup(
      Seq("alcohol" -> 0, "type" -> 1, "density" -> 0),
      numberOfFeatures, singleFeature, sensitiveFeature)
    def read(p: String) =
      spark.read.option("header", true).option("inferSchema", true).option("sep", ";").csv(p)
    var df = read(redPath).withColumn("type", lit(0))
      .unionByName(read(whitePath).withColumn("type", lit(1)))
      .where(!col("quality").isin(3, 8, 9))
      // alcohol <= 10 -> 0; (> 10 and != 0) -> 1 (getdataset.py:501-502)
      .withColumn("alcohol", when(col("alcohol") <= 10, 0).otherwise(1))
    if (needsThird(group, "density")) df = binarizeCol(df, "density", 1.1)
    DatasetSpec(seal(df), "quality", 6, group.keys.toSeq, group, 76)
  }

  /** Drop a pandas index column round-tripped through CSV
    * (`read_csv(index_col=0)` — SURVEY §2.1 S3: Spark has no row index).
    */
  private def dropIndexCol(df: DataFrame): DataFrame = {
    val first = df.columns.head
    if (first == "Unnamed: 0" || first.startsWith("_c0") || first.isEmpty) df.drop(first) else df
  }
}
