package graft.text

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** Trained language identification — the fastText-shape LID that opens
  * the CCNet pipeline (Wenzek et al. 2020 route documents by a trained
  * fastText classifier, Joulin et al. 2016; the q103 marker-word
  * heuristic is the bootstrap tier below this one): hashing-trick
  * character-n-gram counts into a multinomial logistic regression.
  * Char n-grams carry script AND morphology (fastText's own LID
  * recipe), the hashing trick keeps the feature space a fixed
  * `numFeatures` buckets with no fitted vocabulary artifact, and LID
  * labels come from whatever seed corpora the deployment trusts.
  *
  * Scale shape (the [[QualityClassifier]] argument, one model up):
  * feature extraction is one compiled map-side pass
  * ([[Kernels.charNgramsLid]]) + stateless hashing; LR training is a
  * handful of full scans over the BOUNDED seed corpus via
  * tree-aggregated gradients; scoring broadcasts the model and is
  * map-side per row.
  *
  * ==The bounded-export tier (the declared-query / cross-engine form)==
  *
  * [[exportBounded]] captures the trained model as an explicit
  * (gram, lang, w) table over the top `maxGrams` training n-grams
  * (+ per-class intercepts): the margin of class c for a document is
  * `b_c + sum over n-gram occurrences g of W_c[hash(g)]`, so
  * restricting to a bounded gram set gives a model another engine
  * replays by STRING join — no feature hash ever crosses engines (the
  * q124 captured-model pattern). [[scoreBounded]] evaluates exactly
  * that margin distributively: explode n-grams map-side, broadcast-join
  * the bounded table, one per-(doc, lang) aggregation, rank-based
  * argmax with the (rounded margin desc, lang asc) tie-break both
  * engines reproduce.
  */
object LanguageId {

  /** Compiled LID char-n-gram column (array<string>). */
  def charNgrams(text: Column, n: Int): Column =
    Kernels.charNgramsLid(text, n)

  /** A trained LID model: the spark.ml pipeline plus the label order
    * (class index i predicts `labels(i)`) and the feature params needed
    * to score/export consistently.
    */
  final case class LidModel(pipeline: PipelineModel, labels: Seq[String],
      n: Int, numFeatures: Int)

  /** Fit multinomial LR on (textCol, langCol) seed rows. Labels are the
    * SORTED distinct languages (deterministic class indexing).
    */
  def train(
      df: DataFrame,
      textCol: String,
      langCol: String,
      n: Int = 3,
      numFeatures: Int = 1 << 18,
      regParam: Double = 1e-4,
      maxIter: Int = 80): LidModel = {
    // one job for labels AND the seed row count (was: a distinct-only
    // pass) — the count drives the coalesce below
    val byLang = df.groupBy(col(langCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__n")).collect()
    val labels = byLang.map(_.getString(0)).sorted.toSeq
    val nRows = byLang.map(_.getLong(1)).sum
    require(labels.length >= 2, s"LID needs >= 2 languages, got $labels")
    val labelIdx = labels.zipWithIndex.toMap
    val toIdx = udfFreeLabelIndex(labels, col(langCol))
    // Coalesce the bounded seed to a size-derived partition count before
    // the iterative fit: every LBFGS iteration treeAggregates a DENSE
    // gradient of numClasses x numFeatures doubles PER PARTITION (~4 MB
    // at the 8 x 2^16 default), so a small seed spread over the scan's
    // 32 input splits pays 32 gradient serializations x maxIter for no
    // parallelism gain — measured 10.2 s -> dominated by exactly this on
    // the r11 baseline (q135). Scale-adaptive, not a local[32] constant:
    // ~4k rows per partition, capped at defaultParallelism, so a real
    // 100k-doc seed still fans out.
    val parts = math.max(1L, math.min(
      df.sparkSession.sparkContext.defaultParallelism.toLong, nRows / 4096L)).toInt
    val prepared = df.coalesce(parts)
      .withColumn("__graft_lid_label", toIdx)
      .withColumn("__graft_lid_grams", charNgrams(col(textCol), n))
    val tf = new HashingTF()
      .setInputCol("__graft_lid_grams").setOutputCol("__graft_lid_features")
      .setNumFeatures(numFeatures)
    val lr = new LogisticRegression()
      .setFeaturesCol("__graft_lid_features").setLabelCol("__graft_lid_label")
      .setFamily("multinomial")
      .setRegParam(regParam).setMaxIter(maxIter)
      .setProbabilityCol("__graft_lid_prob")
    val fitted = new Pipeline().setStages(Array(tf, lr)).fit(prepared)
    require(labelIdx.size == labels.length, "duplicate labels")
    LidModel(fitted, labels, n, numFeatures)
  }

  /** Label string -> class index as a pure column expression (no UDF):
    * a when-ladder over the bounded label set.
    */
  private def udfFreeLabelIndex(labels: Seq[String], lang: Column): Column =
    labels.zipWithIndex.tail.foldLeft(when(lang === labels.head, lit(0.0))) {
      case (acc, (l, i)) => acc.when(lang === l, lit(i.toDouble))
    }.otherwise(lit(-1.0))

  /** `df` plus `predCol` = the predicted language string (full-model
    * tier: map-side spark.ml transform, broadcast coefficients).
    */
  def score(model: LidModel, df: DataFrame, textCol: String,
      predCol: String = "lang_pred"): DataFrame = {
    val prepared = df.withColumn("__graft_lid_grams", charNgrams(col(textCol), model.n))
    val labelArr = typedlit(model.labels)
    model.pipeline.transform(prepared)
      .withColumn(predCol, element_at(labelArr, col("prediction").cast("int") + 1))
      .drop("__graft_lid_grams", "__graft_lid_features", "__graft_lid_prob",
        "rawPrediction", "prediction")
  }

  /** Capture the trained model as a bounded (gram, lang, w) table over
    * the top `maxGrams` n-grams of `seedDf` by count (ties on the gram
    * string — deterministic), plus one ("", lang, intercept) row per
    * class. The string forms make the artifact ORACLE-CAPTURABLE and
    * human-auditable; each w is the trained coefficient of the gram's
    * OWN hash bucket, so scoring restricted to these grams is exactly
    * the LR margin restricted to them.
    */
  def exportBounded(model: LidModel, seedDf: DataFrame, textCol: String,
      maxGrams: Int): DataFrame = {
    require(maxGrams >= 1, s"maxGrams must be >= 1, got $maxGrams")
    val spark = seedDf.sparkSession
    import spark.implicits._
    val grams = seedDf
      .select(explode(charNgrams(col(textCol), model.n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("gram").asc)
      .limit(maxGrams)
      .select(col("gram"))
      .collect().map(_.getString(0))
    val tf = model.pipeline.stages(0).asInstanceOf[org.apache.spark.ml.feature.HashingTF]
    val lr = model.pipeline.stages(1).asInstanceOf[LogisticRegressionModel]
    val coef = lr.coefficientMatrix // nLabels x numFeatures
    val inter = lr.interceptVector
    val rows = grams.toSeq.flatMap { g =>
      val bucket = tf.indexOf(g)
      model.labels.zipWithIndex.map { case (l, li) => (g, l, coef(li, bucket)) }
    } ++ model.labels.zipWithIndex.map { case (l, li) => ("", l, inter(li)) }
    rows.toDF("gram", "lang", "w")
  }

  /** Score documents against a bounded exported model: per-class margin
    * `intercept + sum of matched-gram weights`, predicted language =
    * the rank-1 class under (round(margin, roundDigits) DESC, lang ASC)
    * — a total order both engines reproduce (the PerplexityBuckets
    * rank-based discipline). Output: (doc_id, lang_pred, margin).
    *
    * Plan: compiled n-gram explode (map-side) -> broadcast hash join on
    * the gram string (model rows only survive) -> per-(doc, lang)
    * partial-agg sum -> margins for ALL classes via a map-side explode
    * of the bounded label set (documents matching NO model gram still
    * predict by intercept) -> per-doc rank. The only exchanges carry
    * (doc, lang) slim rows.
    */
  def scoreBounded(df: DataFrame, idCol: String, textCol: String,
      bounded: DataFrame, n: Int, roundDigits: Int = 6): DataFrame = {
    val inter = bounded.where(col("gram") === "")
      .select(col("lang"), col("w").as("b"))
    val weights = bounded.where(col("gram") =!= "")
    // the label set is bounded by construction — collect it once so the
    // all-classes expansion is a map-side literal explode, not a
    // nested-loop join
    val langSeq: Seq[String] = inter.select(col("lang"))
      .collect().map(_.getString(0)).sorted.toSeq
    require(langSeq.nonEmpty, "bounded LID model carries no intercept rows")
    val occ = df.select(col(idCol).as("doc_id"),
        explode(charNgrams(col(textCol), n)).as("gram"))
      .join(broadcast(weights), Seq("gram"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("w")).as("gw"))
    val margins = df.select(col(idCol).as("doc_id"),
        explode(typedlit(langSeq)).as("lang"))
      .join(occ, Seq("doc_id", "lang"), "left")
      .join(broadcast(inter), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        round(coalesce(col("gw"), lit(0.0)) + col("b"), roundDigits).as("margin"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("margin").desc, col("lang").asc)
    margins.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"), col("margin"))
  }
}
