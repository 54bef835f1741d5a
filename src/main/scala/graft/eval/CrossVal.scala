package graft.eval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.classification.{Classifier, GBTClassifier, LinearSVC, LogisticRegression, MultilayerPerceptronClassifier, OneVsRest}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}

import graft.core.{DEMV, ExactSampler}
import graft.data.DatasetSpec
import graft.etl.CacheTracker
import graft.functions.OpaqueLiteral
import graft.metrics.{FairnessMetrics, GroupCondition, MetricsResult}

/** One (fold, stop) evaluation record — the row shape of the reference's
  * result CSVs (`ris/...csv` schema `(stat_par, eq_odds, zero_one_loss,
  * disp_imp, acc)`, reference `replication_package/src/utils.py:138-144,
  * 342-354`). Lists never materialize: one row per fold from the start
  * (SURVEY §2.12 E10).
  */
final case class MetricRow(
    fold: Int,
    stop: Long,
    statPar: Double,
    eqOdds: Double,
    zeroOneLoss: Double,
    dispImp: Double,
    acc: Double)

/** K-fold cross-validation harness with fairness metrics and
  * debiaser-in-the-loop training (reference `utils.py:136-158` `cross_val`,
  * `:214-228` `eval_demv`).
  *
  * Scale design: fold assignment is a deterministic hash of the row id —
  * no global sort, no extra shuffle (the reference's `KFold(shuffle=True,
  * random_state=2)` exact-equal split sizes are a single-node artifact;
  * distributionally the hash split is the same contract). `spark.ml`
  * pipelines (VectorAssembler -> StandardScaler -> classifier) mirror the
  * reference's `Pipeline(StandardScaler, clf)` (`generatemetrics.py:196`).
  */
object CrossVal {

  /** E1: add a deterministic fold column in [0, k).
    *
    * Hashing all columns (the default) sends DUPLICATE rows to the same
    * fold — they can never straddle train/test, a mild but deterministic
    * bias vs sklearn's positional KFold (documented deviation; positional
    * splits don't exist in a distributed setting without a total order).
    * Pass `idCols` (a unique row identifier) to spread duplicates
    * independently and to prune the hash input on wide tables.
    */
  def withFolds(df: DataFrame, k: Int, seed: Long = 2L,
      idCols: Option[Seq[String]] = None): DataFrame =
    df.withColumn("__fold", ExactSampler.salt(idCols.getOrElse(df.columns.toSeq), seed, k))

  /** spark.ml classifiers require labels in [0, numClasses) — the reference
    * datasets use arbitrary label values (cmc {1,2,3}, wine {4..7}, crime
    * {0,100,...,500}; sklearn accepts them, spark.ml does not). Index the
    * label to a dense 0-based column for training and map predictions back
    * to the ORIGINAL label domain, so fairness metrics and outputs stay in
    * reference terms.
    *
    * @return (df with "__y" indexed label, ascending original label values)
    */
  def labelValues(df: DataFrame, labelCol: String): Seq[Any] =
    // numeric-aware ascending sort = np.unique's ordering (a toString sort
    // would put 10 before 2 for labels like {2, 10})
    df.select(labelCol).distinct().collect().map(_.get(0))
      .sortBy(identity)(graft.core.DEMV.anyOrdering).toSeq

  /** Add "__y" = the 0-based index of `labelCol` within `values` (the
    * mapping must be derived ONCE from the full dataset — a fold can miss
    * classes).
    */
  def indexLabel(df: DataFrame, labelCol: String, values: Seq[Any]): DataFrame = {
    val ladder = values.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (v, i)) => when(col(labelCol) === lit(v), i.toDouble).otherwise(acc)
    }
    df.withColumn("__y", ladder)
  }

  /** Map a 0-based prediction column back to the original label domain. */
  def mapPredictionBack(df: DataFrame, values: Seq[Any], predCol: String = "prediction"): DataFrame = {
    val back = values.zipWithIndex.foldLeft(lit(null)) {
      case (acc, (v, i)) => when(col(predCol) === i.toDouble, lit(v)).otherwise(acc)
    }
    df.withColumn(predCol, back)
  }

  /** The assembler and scaler in front of every classifier. Every stage
    * built here has a fixed uid: the assembler writes its uid into the
    * names of its cast columns (`<col>_double_<uid>`), and those names go
    * into the generated code of every stage that reads the assembled
    * frame, so a random uid would make each fit compile that code anew.
    */
  private[eval] def features(featureCols: Seq[String]): Array[PipelineStage] = Array(
    new VectorAssembler("graft_assembler")
      .setInputCols(featureCols.toArray).setOutputCol("__features_raw")
      .setHandleInvalid("skip"),
    new StandardScaler("graft_scaler")
      .setInputCol("__features_raw").setOutputCol("__features")
      .setWithMean(true).setWithStd(true))

  /** E3/E4: the reference's classifier matrix (`generatemetrics.py:173-196`).
    * GBT and SVC are binary-only in spark.ml -> OneVsRest wrap when the
    * label has more than two classes (SURVEY E4). Every stage has a fixed
    * uid (see [[features]]).
    */
  def pipeline(
      classifier: String,
      featureCols: Seq[String],
      labelCol: String,
      numClasses: Int): Pipeline = {
    def oneVsRest(c: Classifier[_, _, _]): PipelineStage =
      if (numClasses > 2) new OneVsRest(s"graft_ovr_$classifier").setClassifier(c)
        .setLabelCol(labelCol).setFeaturesCol("__features")
      else c
    val clf: PipelineStage = classifier match {
      case "logistic" =>
        new LogisticRegression("graft_logistic").setLabelCol(labelCol).setFeaturesCol("__features")
      case "gradient" =>
        oneVsRest(new GBTClassifier("graft_gradient").setLabelCol(labelCol).setFeaturesCol("__features"))
      case "svc" =>
        oneVsRest(new LinearSVC("graft_svc").setLabelCol(labelCol).setFeaturesCol("__features"))
      case "mlp" =>
        // layer sizes filled at fit time by the caller via numClasses and
        // feature count; sklearn default hidden size is 100
        new MultilayerPerceptronClassifier("graft_mlp")
          .setLabelCol(labelCol).setFeaturesCol("__features")
          .setLayers(Array(featureCols.length, 100, numClasses))
      case other => throw new IllegalArgumentException(s"Unknown classifier '$other'")
    }
    new Pipeline("graft_pipeline").setStages(features(featureCols) :+ clf)
  }

  /** E2 + E5 + E9: k-fold CV; `method` = "biased" (train as-is) or "demv"
    * (balance the train folds first). Returns one MetricRow per fold and
    * repetition, in fold order and then repetition order.
    *
    * The reference re-runs DEMV `repetitions` times per fold to average its
    * stochasticity (`utils.py:231-239`); we re-seed per repetition.
    *
    * Folds are independent, so `min(k, defaultParallelism)` of them run at
    * once on driver threads named `crossval-fold-<i>` (the pattern of
    * spark.ml's `CrossValidator` `parallelism` param): one fold is a dozen
    * tiny jobs whose driver-side planning would otherwise leave the
    * executors idle. The rows do not depend on the thread count. Each
    * fold's jobs carry the description "CrossVal fold <fold>/<k>".
    *
    * Failure contract: once a fold throws, no further fold starts; the call
    * waits for the folds in flight to finish, releases its cache and
    * rethrows the first failing fold's own exception, unwrapped (e.g.
    * DEMV's empty-cell `IllegalStateException`). No fold thread outlives
    * the call.
    *
    * Compiled once: every fold, and every later call with the same
    * arguments, generates the same Java source, so Spark's codegen cache
    * serves it and a warm call compiles next to nothing (compiling was
    * most of a warm call's fixed cost). The pipeline's stages have fixed
    * uids, and the per-fold constants (the fold id in the fold filters,
    * the DEMV seed in the sampler's salt) enter the plan as
    * [[graft.functions.OpaqueLiteral]]s, which the generated code reads
    * from its references instead of inlining. The sampler's `rand(seed)`
    * still inlines its seed: one class per fold, which the cache holds.
    */
  def crossVal(
      spec: DatasetSpec,
      classifier: String,
      method: String = "biased",
      k: Int = 10,
      stop: Long = 10000L,
      repetitions: Int = 1,
      seed: Long = 2L): Seq[MetricRow] = {
    val labelCol = spec.label
    val featureCols = spec.df.columns.filterNot(_ == labelCol).toSeq
    val folded = CacheTracker.persistTracked(withFolds(spec.df, k, seed))
    val sc = spec.df.sparkSession.sparkContext
    try {
      // this job fills `folded`'s cache (and any lazy checkpoint of
      // spec.df) before the folds fork, so no two folds race to fill it
      val allLabels = labelValues(folded, labelCol)
      val numClasses = allLabels.length
      def score(fold: Int, pred: DataFrame): MetricRow = {
        val m = FairnessMetrics.compute(
          pred, spec.sensitiveVars, GroupCondition(spec.unprivGroup),
          "prediction", labelCol, spec.positiveLabel)
        MetricRow(fold, stop, m.statisticalParity, m.equalizedOdds,
          m.zeroOneLossDiff, m.disparateImpact, m.accuracy)
      }
      inParallel(k, math.min(k, sc.defaultParallelism)) { fold =>
        sc.setJobDescription(s"CrossVal fold $fold/$k")
        try {
          val test = folded.where(col("__fold") === OpaqueLiteral.lit(fold)).drop("__fold")
          val trainBase = folded.where(col("__fold") =!= OpaqueLiteral.lit(fold)).drop("__fold")
          (0 until repetitions).map { rep =>
            // "eg"/"grid" are in-processing reductions (reference
            // `generatemetrics.py:101-131`): the fair model IS the method, so
            // they bypass the plain classifier pipeline. Both train a
            // logistic learner internally (matching BASELINE.md's eg/grid
            // rows); `classifier` is ignored for them.
            method match {
              case "eg" =>
                val ens = Reductions.ExponentiatedGradient.fitEnsemble(
                  indexLabel(trainBase, labelCol, allLabels), featureCols, "__y",
                  spec.sensitiveVars, bound = 0.1, seed = seed + fold * 31 + rep)
                score(fold, mapPredictionBack(
                  ens.transform(indexLabel(test, labelCol, allLabels)), allLabels))
              case "grid" =>
                val fitted = Reductions.GridSearch.fit(
                  indexLabel(trainBase, labelCol, allLabels), featureCols, "__y",
                  spec.sensitiveVars, spec.unprivGroup, bound = 0.1)
                score(fold, mapPredictionBack(
                  fitted.transform(indexLabel(test, labelCol, allLabels)), allLabels))
              case _ =>
                val balanced = method match {
                  case "biased" => trainBase
                  case "demv" | "random" =>
                    new DEMV(spec.sensitiveVars, stop = stop, seed = seed + fold * 31 + rep,
                      shuffleOutput = false).fitTransform(trainBase, labelCol)
                  case "uniform" | "smote" | "adasyn" =>
                    new DEMV(spec.sensitiveVars, stop = stop, seed = seed + fold * 31 + rep,
                      shuffleOutput = false, strategy = method).fitTransform(trainBase, labelCol)
                  case other => throw new IllegalArgumentException(s"Unknown method '$other'")
                }
                def fitAndScore(train: DataFrame): MetricRow = {
                  val model = pipeline(classifier, featureCols, "__y", numClasses)
                    .fit(indexLabel(train, labelCol, allLabels))
                  score(fold, mapPredictionBack(
                    model.transform(indexLabel(test, labelCol, allLabels)), allLabels))
                }
                if (method == "biased") fitAndScore(balanced)
                else {
                  // balancer output is a per-cell union plan; on wide datasets
                  // (adult: ~100 one-hot columns x 8 cells) Catalyst re-analysis
                  // of that tree per ml action dominates wall time (measured:
                  // minutes of pure driver plan-transform CPU). The fit
                  // materializes the frame anyway — truncate the lineage first,
                  // and release the checkpoint once the fold is scored.
                  val train = CacheTracker.checkpointTracked(balanced)
                  try fitAndScore(train) finally CacheTracker.free(train)
                }
            }
          }
        } finally sc.setJobDescription(null)
      }.flatten
    } finally CacheTracker.free(folded)
  }

  /** `body(0) .. body(n - 1)` on `threads` daemon threads made for this
    * call, results in index order. A failure stops new indices from
    * starting; the threads are joined before the first failure is
    * rethrown.
    */
  private def inParallel[T](n: Int, threads: Int)(body: Int => T): Seq[T] = {
    val results = new java.util.concurrent.ConcurrentHashMap[Int, T]()
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = (0 until threads).map { t =>
      val w = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && failure.get == null) {
          try results.put(i, body(i))
          catch { case e: Throwable => failure.compareAndSet(null, e) }
          i = next.getAndIncrement()
        }
      }, s"crossval-fold-$t")
      w.setDaemon(true)
      w.start()
      w
    }
    workers.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    (0 until n).map(results.get)
  }

  /** E6: convergence sweep — run `crossVal(method="demv")` for
    * stop = 0, k, 2k, ... up to the dataset's max iterations (reference
    * `eval_demv`, `utils.py:214-228`; per-dataset step table SURVEY §6).
    */
  def evalDemv(
      spec: DatasetSpec,
      classifier: String,
      maxIters: Long,
      step: Int,
      k: Int = 10,
      repetitions: Int = 1,
      seed: Long = 2L): Seq[MetricRow] =
    (0L to maxIters by step.toLong).flatMap { stop =>
      crossVal(spec, classifier, method = "demv", k = k, stop = stop,
        repetitions = repetitions, seed = seed)
    }

  /** S7: result sink with the reference's file-naming contract
    * `ris/{n}features/metrics_{dataset}_{method}_{n}_features_{classifier}.csv`
    * (reference `generatemetrics.py:251-262`, `replication_package/
    * README.md:107`).
    */
  def writeMetrics(
      spark: SparkSession,
      rows: Seq[MetricRow],
      outDir: String,
      dataset: String,
      method: String,
      nFeatures: Int,
      classifier: String): String = {
    import spark.implicits._
    val path = s"$outDir/${nFeatures}features/metrics_${dataset}_${method}_${nFeatures}_features_$classifier.csv"
    rows.toDF()
      .selectExpr("statPar as stat_par", "eqOdds as eq_odds",
        "zeroOneLoss as zero_one_loss", "dispImp as disp_imp", "acc")
      .coalesce(1).write.mode("overwrite").option("header", true).csv(path)
    path
  }
}
