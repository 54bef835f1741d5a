package graft.eval

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.DEMV
import graft.data.{DatasetSpec, Generator}
import graft.etl.CacheTracker
import graft.metrics.{FairnessMetrics, GroupCondition}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class CrossValSpec extends SparkSpec {

  private lazy val spec: DatasetSpec = {
    val df = Generator.classification(spark, 600, nFeatures = 6, nClasses = 2,
      nInformative = 4, nSensitive = 2, seed = 9)
    DatasetSpec(df, "y", 1, Seq("s1", "s2"), Map("s1" -> 0, "s2" -> 0), 10)
  }

  test("withFolds: deterministic near-equal k-way split") {
    val f = CrossVal.withFolds(spec.df, 5)
    val sizes = f.groupBy("__fold").count().collect().map(_.getLong(1))
    assert(sizes.length === 5)
    assert(sizes.min > 60) // 600/5 = 120 expected; hash split stays near
    val again = CrossVal.withFolds(spec.df, 5).groupBy("__fold").count()
      .collect().map(_.getLong(1)).toSeq
    assert(again.sorted === sizes.toSeq.sorted)
  }

  test("withFolds idCols: duplicates co-fold by default, spread with an id") {
    import spark.implicits._
    val dup = Seq.fill(40)((1, 2.0)).zipWithIndex.map { case ((a, b), i) => (a, b, i) }
      .toDF("a", "b", "id")
    // hashing only the duplicated payload puts everything in ONE fold
    val payloadFolds = CrossVal.withFolds(dup.select("a", "b"), 4)
      .select("__fold").distinct().count()
    assert(payloadFolds === 1)
    // an id column spreads them
    val idFolds = CrossVal.withFolds(dup, 4, idCols = Some(Seq("id")))
      .select("__fold").distinct().count()
    assert(idFolds > 1)
  }

  test("biased logistic CV: one row per fold, learnable accuracy") {
    val rows = CrossVal.crossVal(spec, "logistic", method = "biased", k = 3)
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.acc > 0.6, s"informative features should beat chance, got ${r.acc}")
      assert(!r.statPar.isNaN && !r.eqOdds.isNaN && !r.dispImp.isNaN)
    }
  }

  test("demv-in-the-loop CV runs and keeps metrics finite") {
    val rows = CrossVal.crossVal(spec, "logistic", method = "demv", k = 2)
    assert(rows.length === 2)
    rows.foreach(r => assert(r.acc > 0.5))
  }

  test("gradient classifier (binary GBT) works in the pipeline") {
    val rows = CrossVal.crossVal(spec, "gradient", method = "biased", k = 2)
    assert(rows.length === 2)
    rows.foreach(r => assert(r.acc > 0.6))
  }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def foldThreadsAlive: Seq[String] = Thread.getAllStackTraces.keySet.asScala.toSeq
    .filter(t => t.getName.startsWith("crossval-fold-") && t.isAlive).map(_.getName)

  /** crossVal's body for method "demv", one repetition, one fold at a
    * time, through the same public functions.
    */
  private def replay(spec: DatasetSpec, k: Int, seed: Long): Seq[MetricRow] = {
    val labelCol = spec.label
    val featureCols = spec.df.columns.filterNot(_ == labelCol).toSeq
    val allLabels = CrossVal.labelValues(spec.df, labelCol)
    val folded = CrossVal.withFolds(spec.df, k, seed).cache()
    try (0 until k).map { fold =>
      val test = folded.where(col("__fold") === fold).drop("__fold")
      val trainBase = folded.where(col("__fold") =!= fold).drop("__fold")
      val train = CacheTracker.checkpointTracked(
        new DEMV(spec.sensitiveVars, seed = seed + fold * 31, shuffleOutput = false)
          .fitTransform(trainBase, labelCol))
      try {
        val model = CrossVal.pipeline("logistic", featureCols, "__y", allLabels.length)
          .fit(CrossVal.indexLabel(train, labelCol, allLabels))
        val pred = CrossVal.mapPredictionBack(
          model.transform(CrossVal.indexLabel(test, labelCol, allLabels)), allLabels)
        val m = FairnessMetrics.compute(pred, spec.sensitiveVars,
          GroupCondition(spec.unprivGroup), "prediction", labelCol, spec.positiveLabel)
        MetricRow(fold, 10000L, m.statisticalParity, m.equalizedOdds, m.zeroOneLossDiff,
          m.disparateImpact, m.accuracy)
      } finally CacheTracker.free(train)
    } finally folded.unpersist()
  }

  test("concurrent folds: same rows on every call and as a fold-at-a-time replay") {
    val a = CrossVal.crossVal(spec, "logistic", method = "demv", k = 4, seed = 5)
    val b = CrossVal.crossVal(spec, "logistic", method = "demv", k = 4, seed = 5)
    assert(a.map(_.fold) === (0 until 4))
    assert(a === b)
    assert(a === replay(spec, 4, seed = 5))
  }

  test("demv CV releases its cache and every fold's training checkpoint") {
    val before = persistentRdds
    CrossVal.crossVal(spec, "logistic", method = "demv", k = 3)
    assert(persistentRdds === before)
  }

  test("every fold labels its jobs with its fold number") {
    val labels = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    val want = (0 until 3).map(f => s"CrossVal fold $f/3").toSet
    spark.sparkContext.addSparkListener(tap)
    try {
      CrossVal.crossVal(spec, "logistic", method = "demv", k = 3)
      // the listener bus is asynchronous
      val deadline = System.currentTimeMillis() + 15000
      while (!want.subsetOf(labels.asScala) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally spark.sparkContext.removeSparkListener(tap)
    assert(want.subsetOf(labels.asScala), s"job labels seen: ${labels.asScala.toSeq.sorted}")
  }

  test("a failing fold's own exception is rethrown and no fold thread outlives the call") {
    // (s1 = 1, y = 1) holds one row, so the training fold without it has
    // an empty DEMV cell
    val base = spec.df.drop("s2")
    val one = base.where(col("s1") === 1 && col("y") === 1).limit(1)
    val df = CacheTracker.checkpointTracked(
      base.where(!(col("s1") === 1 && col("y") === 1)).unionByName(one))
    val lone = DatasetSpec(df, "y", 1, Seq("s1"), Map("s1" -> 0), 10)
    try {
      val before = persistentRdds
      val e = intercept[IllegalStateException] {
        CrossVal.crossVal(lone, "logistic", method = "demv", k = 2)
      }
      assert(e.getMessage.contains("(s1=1, y=1)"), e.getMessage)
      assert(foldThreadsAlive.isEmpty, s"alive: $foldThreadsAlive")
      assert(persistentRdds === before)
    } finally CacheTracker.free(df)
  }

  test("pipeline stages have the same uids on every call") {
    def uids(clf: String, classes: Int): Seq[String] =
      CrossVal.pipeline(clf, Seq("a", "b"), "__y", classes).getStages.map(_.uid).toSeq
    for (clf <- Seq("logistic", "gradient", "svc", "mlp"); classes <- Seq(2, 3))
      assert(uids(clf, classes) === uids(clf, classes), s"$clf, $classes classes")
  }

  test("a warm 10-fold crossVal compiles next to no generated code") {
    // compas as the benchmark's fair-cv loads it. With a random assembler
    // uid and the fold id and DEMV seed inlined into the generated source,
    // every warm call compiled 183-209 classes.
    val compas = graft.data.Datasets.get(spark, "compas", "data", 2)
    def compiled(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      CrossVal.crossVal(compas, "logistic", method = "demv", k = 10, seed = 1)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiled() // warm-up
    val n = compiled()
    assert(n <= 40, s"a warm call compiled $n classes")
  }

  test("writeMetrics uses the reference naming contract") {
    val rows = Seq(MetricRow(0, 10, -0.1, 0.2, 0.3, 0.9, 0.8))
    val path = CrossVal.writeMetrics(spark, rows, "/tmp/graft_ris", "synt", "uniform", 2, "logistic")
    assert(path.endsWith("2features/metrics_synt_uniform_2_features_logistic.csv"))
    val back = spark.read.option("header", true).csv(path)
    assert(back.columns.toSeq === Seq("stat_par", "eq_odds", "zero_one_loss", "disp_imp", "acc"))
    assert(back.count() === 1)
  }
}
