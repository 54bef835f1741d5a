package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.{GoldenOracles, SparkEntry}
import graft.cli.CurateCorpus
import graft.core.{BalanceMath, DEMV}
import graft.data.{Datasets, DatasetSpec, Export}
import graft.dedup.{ChunkDedup, Dedup}
import graft.etl.{CacheTracker, Mixing}
import graft.eval.{CrossVal, MetricRow}
import graft.functions.TextFunctions
import graft.metrics.{FairnessMetrics, GroupCondition}
import graft.text.Decontaminate

/** DEMV's balance contract, checked from counts the benchmark takes
  * itself: every output cell reaches round(w_exp / w_obs, 1) == 1, with
  * both weights over the input total, and no cell appears or vanishes.
  * Cell keys are the sensitive values followed by the label.
  */
object CellCheck {
  def apply(in: Map[Seq[Any], Long], out: Map[Seq[Any], Long]): Option[String] = {
    val total = in.values.sum.toDouble
    val nSens = in.keys.head.length - 1
    val combo = in.groupBy(_._1.take(nSens)).map { case (c, m) => c -> m.values.sum }
    val label = in.groupBy(_._1.last).map { case (l, m) => l -> m.values.sum }
    val extra = out.keySet -- in.keySet
    val bad = in.keys.toSeq.flatMap { cell =>
      val wExp = (combo(cell.take(nSens)) / total) * (label(cell.last) / total)
      val wObs = out.getOrElse(cell, 0L) / total
      val disp = if (wObs == 0) Double.PositiveInfinity else BalanceMath.pyRound(wExp / wObs, 1)
      if (disp == 1.0) None else Some(s"${cell.mkString("(", ",", ")")} disp=$disp")
    }
    if (extra.nonEmpty) Some(s"cells not in the input: ${extra.mkString(", ")}")
    else if (bad.nonEmpty) Some(s"unbalanced cells: ${bad.mkString("; ")}")
    else None
  }

  def counts(df: DataFrame, keys: Seq[String]): Map[Seq[Any], Long] =
    df.groupBy(keys.map(col): _*).count().collect()
      .map(r => (0 until keys.length).map(r.get) -> r.getLong(keys.length)).toMap
}

/** Running means of DEMV's own counts, for the traced run. */
final class DemvCounts {
  private var n, iters, cells, ratio = 0.0
  def add(demv: DEMV, rowsIn: Long): Unit = {
    val plans = demv.getCellPlans
    n += 1; iters += demv.getIters; cells += plans.size
    ratio += plans.map(_.targetSize).sum.toDouble / rowsIn
  }
  def toMap: Map[String, Double] = if (n == 0) Map.empty else Map(
    "core.DEMV.iters" -> iters / n, "core.DEMV.cells" -> cells / n,
    "core.DEMV.rows_out_per_in" -> ratio / n)
}

private object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** `fair-cv`: the paper's experiment. One op loads compas from `data/`
  * and runs 10-fold `CrossVal.crossVal` with DEMV on the training folds
  * and a logistic classifier, seeded with the benchmark seed.
  *
  * `crossVal` has no per-fold hook, so an op is one whole 10-fold call.
  * The warm-up runs the same code paths at under half the cost: a 2-fold
  * crossVal call and a 2-fold replay of its steps through the same public
  * functions, which checks each balanced training fold ([[CellCheck]])
  * and must give crossVal's rows. The traced run times the 10-fold replay,
  * so its spans split an op by layer; its warm-up checks that replay
  * against crossVal's 10-fold rows.
  */
final class FairCv(ctx: Ctx) extends Workload {
  private val k = 10
  private val dataset = "compas"
  private var rows = 0L
  private var expected: Option[String] = None
  private val demvCounts = new DemvCounts
  private val sp = ctx.tracer

  private def load(): DatasetSpec =
    sp.span("data.Datasets.get") { Datasets.get(ctx.spark, dataset, s"${ctx.repo}/data", 2) }

  def setup(): Unit = rows = load().df.count()

  /** crossVal's body for method "demv", one repetition, step by step. */
  private def replay(spec: DatasetSpec, k: Int, checkCells: Boolean,
      failures: mutable.Buffer[String]): Seq[MetricRow] = {
    val labelCol = spec.label
    val featureCols = spec.df.columns.filterNot(_ == labelCol).toSeq
    val allLabels = CrossVal.labelValues(spec.df, labelCol)
    val folded = sp.span("eval.CrossVal.withFolds") { CrossVal.withFolds(spec.df, k, ctx.seed).cache() }
    val keys = spec.sensitiveVars :+ labelCol
    try (0 until k).map { fold =>
      val test = folded.where(col("__fold") === fold).drop("__fold")
      val trainBase = folded.where(col("__fold") =!= fold).drop("__fold")
      val demv = new DEMV(spec.sensitiveVars, seed = ctx.seed + fold * 31, shuffleOutput = false)
      val balanced = sp.span("core.DEMV.fitTransform") { demv.fitTransform(trainBase, labelCol) }
      // --smoke's corrupt mode drops about 2% of the balanced rows
      val out = if (ctx.corrupt) balanced.where(rand(ctx.seed) >= 0.02) else balanced
      val train = sp.span("core.DEMV.materialize") { out.localCheckpoint() }
      if (checkCells)
        CellCheck(CellCheck.counts(trainBase, keys), CellCheck.counts(train, keys))
          .foreach(e => failures += s"fold $fold: $e")
      else demvCounts.add(demv, demv.getCellPlans.map(_.initialSize).sum)
      val model = sp.span("eval.Pipeline.fit") {
        CrossVal.pipeline("logistic", featureCols, "__y", allLabels.length)
          .fit(CrossVal.indexLabel(train, labelCol, allLabels))
      }
      val pred = CrossVal.mapPredictionBack(
        model.transform(CrossVal.indexLabel(test, labelCol, allLabels)), allLabels)
      val m = sp.span("metrics.FairnessMetrics.compute") {
        FairnessMetrics.compute(pred, spec.sensitiveVars, GroupCondition(spec.unprivGroup),
          "prediction", labelCol, spec.positiveLabel)
      }
      MetricRow(fold, 10000L, m.statisticalParity, m.equalizedOdds, m.zeroOneLossDiff,
        m.disparateImpact, m.accuracy)
    } finally folded.unpersist()
  }

  private def crossVal(folds: Int): Seq[MetricRow] =
    CrossVal.crossVal(load(), "logistic", method = "demv", k = folds, seed = ctx.seed)

  private def rowsFile = ctx.work.resolve(s"fair-cv-$dataset-k$k-seed${ctx.seed}.rows")

  /** A `folds`-fold result has one row per fold, in fold order, with
    * finite metrics and an accuracy in (0, 1].
    */
  private def ranges(rows: Seq[MetricRow], folds: Int): Option[String] = {
    val bad = rows.filter { r =>
      val ms = Seq(r.statPar, r.eqOdds, r.zeroOneLoss, r.dispImp, r.acc)
      ms.exists(m => m.isNaN || m.isInfinite) || !(r.acc > 0 && r.acc <= 1)
    }
    if (rows.map(_.fold) != (0 until folds)) Some(s"folds ${rows.map(_.fold).mkString(",")}, want 0..${folds - 1}")
    else if (bad.nonEmpty) Some(s"metrics out of range: ${bad.mkString("; ")}")
    else None
  }

  /** The 2-fold replay checks every balanced training fold and must give
    * crossVal's rows. The traced warm-up also compares the 10-fold replay
    * with crossVal's rows, from an earlier plain run with this seed when
    * there is one.
    */
  override def warmup(): Seq[String] = {
    val failures = mutable.Buffer.empty[String]
    val program = crossVal(2)
    failures ++= ranges(program, 2)
    if (replay(load(), 2, checkCells = true, failures) != program)
      failures += "the 2-fold replay differs from crossVal"
    if (sp.enabled) {
      val replayed = replay(load(), k, checkCells = true, failures).mkString("\n")
      val want = if (Files.exists(rowsFile)) Files.readString(rowsFile) else crossVal(k).mkString("\n")
      if (replayed != want) failures += "the fold-by-fold replay differs from crossVal"
    }
    failures.toSeq
  }

  /** Every op's rows are in range, equal the first op's, and the same
    * seed gives the same rows in every run (kept in the build directory).
    */
  private def check(got: Seq[MetricRow]): Option[String] = ranges(got, k).orElse {
    val text = got.mkString("\n")
    if (expected.isEmpty) {
      expected = Some(text)
      if (!Files.exists(rowsFile)) Files.writeString(rowsFile, text)
    }
    if (expected.get != text) Some("MetricRows differ from the first op's")
    else if (Files.readString(rowsFile) != text) Some("MetricRows differ from an earlier run with this seed")
    else None
  }

  def pass: Seq[Op] = Seq(Op(dataset, (k - 1) * rows, () => {
    val got = if (sp.enabled) replay(load(), k, checkCells = false, mutable.Buffer.empty) else crossVal(k)
    () => check(got)
  }))

  override def traceCounts: Map[String, Double] = demvCounts.toMap
}

/** `demv-bulk`: one op balances one generated input. It reads the
  * parquet input, scores data parity before and after with
  * `FairnessMetrics.compute`, and writes `DEMV.fitTransform`'s output to
  * the noop sink. The output's cell counts ride along on the write as an
  * observation, so the check costs no extra pass: rows out equal the sum
  * of DEMV's cell targets, and every cell is balanced ([[CellCheck]]).
  * Three small shapes vary the cell and iteration counts, where fixed
  * Spark job cost dominates; a 0.2 M-row shape shows DEMV's cost as the
  * data grows. BENCHMARK.json does not declare this workload (its runs
  * would not fit the benchmark's time budget); run it on request.
  */
final class DemvBulk(ctx: Ctx) extends Workload {
  import Inputs.Shape
  private val shapes =
    if (ctx.smoke) Seq(Shape(2000, 2, 2, 0.5), Shape(3000, 3, 3, 0.3))
    else Seq(Shape(20000, 1, 2, 0.7), Shape(16000, 2, 3, 0.5), Shape(12000, 3, 5, 0.3),
      Shape(200000, 2, 3, 0.5))
  private val inCells = mutable.Map.empty[Shape, Map[Seq[Any], Long]]
  private val demvCounts = new DemvCounts
  private val sp = ctx.tracer
  private def path(s: Shape) = ctx.work.resolve(s"demv-bulk/${s.tag}.parquet").toString

  def setup(): Unit = shapes.zipWithIndex.foreach { case (s, i) =>
    Inputs.classification(ctx.spark, s, ctx.seed + i).write.mode("overwrite").parquet(path(s))
    inCells(s) = CellCheck.counts(ctx.spark.read.parquet(path(s)), s.sensitiveVars :+ "y")
  }

  /** The label's parity over s1: measured work, not a check (with skew
    * planted on other labels it can start near 0 and move by noise).
    */
  private def parity(df: DataFrame, s: Shape): Unit =
    sp.span("metrics.FairnessMetrics.compute") {
      FairnessMetrics.compute(df, s.sensitiveVars, GroupCondition(Map("s1" -> 0)), "y", "y", 1): Unit
    }

  def pass: Seq[Op] = shapes.map { s =>
    val cells = inCells(s).keys.toSeq
    val rowsIn = inCells(s).values.sum
    Op(s.tag, rowsIn, () => {
      val df = ctx.spark.read.parquet(path(s))
      parity(df, s)
      val demv = new DEMV(s.sensitiveVars, seed = ctx.seed)
      val balanced = sp.span("core.DEMV.fitTransform") { demv.fitTransform(df, "y") }
      val out = if (ctx.corrupt) balanced.where(pmod(xxhash64(col("0")), lit(97)) =!= 0) else balanced
      val obs = Observation()
      val exprs: Seq[Column] = cells.zipWithIndex.map { case (cell, i) =>
        val hit = (s.sensitiveVars :+ "y").zip(cell).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
        sum(when(hit, 1L).otherwise(0L)).as(s"c$i")
      }
      sp.span("core.DEMV.materialize") {
        out.observe(obs, exprs.head, exprs.tail: _*).write.format("noop").mode("overwrite").save()
      }
      parity(balanced, s)
      () => {
        demvCounts.add(demv, rowsIn)
        val got = obs.get
        val outCells = cells.zipWithIndex.map { case (cell, i) => cell -> got(s"c$i").asInstanceOf[Long] }
          .filter(_._2 > 0).toMap
        val target = demv.getCellPlans.map(_.targetSize).sum
        if (outCells.values.sum != target) Some(s"rows out ${outCells.values.sum} != sum of cell targets $target")
        else CellCheck(inCells(s), outCells)
      }
    })
  }

  override def traceCounts: Map[String, Double] = demvCounts.toMap
}

/** Writes query results and their DuckDB oracle SQL for run.py, which
  * compares them the way `tools/oracle_check.py` does. The oracle SQL is
  * read right after the results are written: some queries capture a model
  * while they run, and their oracle replays that model. A query with no
  * oracle on these tables (one whose only oracle is a golden for the
  * repository's fixed test tables) fails the check.
  */
final class OracleDump(ctx: Ctx, tablesDir: String) {
  private val dir = ctx.work.resolve("oracle/curate")

  def dump(queries: Seq[String]): Seq[String] = {
    Dirs.delete(dir)
    val failures = queries.flatMap { q =>
      try Main.attempt(() => {
        SparkEntry.queries(q)(ctx.spark, tablesDir).coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve(s"results/$q").toString)
        None
      })
      finally CacheTracker.unpersistCaches(blocking = true)
    }
    val sql = SparkEntry.oracleSql -- GoldenOracles.queries ++ GoldenOracles.forDir(tablesDir)
    val json = queries.filter(sql.contains).map(q => s"${Json.str(q)}:${Json.str(sql(q))}").mkString("{", ",", "}")
    Files.writeString(dir.resolve("oracle.json"),
      s"""{"tables":${Json.str(tablesDir)},"results":${Json.str(dir.resolve("results").toString)},"sql":$json}""")
    failures ++ queries.filterNot(sql.contains).map(q => s"$q: no oracle SQL for generated tables")
  }
}

/** `curate`: text pipelines over the repository's document test table,
  * scaled up by `ScaleUp.run` (the repository's own scale-up, which
  * letter-shifts each copy so copies do not pair with each other). The
  * source tables are the sf0.01 test tables, kept under `perfbench/data`
  * so a checkout holds them; the seed does not change them. One op is
  * either `CurateCorpus.run`, whose chained stages reuse checkpointed
  * frames and which writes the sharded export, or one query from
  * `SparkEntry.queries` (near-dup pairs, span dedup, an n-gram LM tier,
  * language ID, ranking over the order table) to the noop sink. The
  * program's caches are drained after every op, so each query runs cold:
  * a cache that helps the pipeline but costs a query shows in the same
  * workload.
  */
final class Curate(ctx: Ctx) extends Workload {
  val queries: Seq[String] = Seq("q41_jaccard_pairs", "q84_duplicated_spans",
    "q117_trigram_xent", "q21_lang_confusion", "q07_ntile_orders")
  private val source = s"${ctx.repo}/perfbench/data/sf0.01"
  private val factor = if (ctx.smoke) 1 else 2
  private val tables = ctx.work.resolve("curate/tables").toString
  private val exportDir = ctx.work.resolve("curate/export")
  private val oracle = new OracleDump(ctx, tables)
  private var nDocs, nOrders = 0L
  private var expected: Seq[(String, Long)] = Nil
  private var keep = Map.empty[String, Double]
  private val sp = ctx.tracer

  def setup(): Unit = {
    graft.tools.ScaleUp.run(ctx.spark, source, tables, factor, Some(Set("documents")))
    val orders = ctx.spark.read.parquet(s"$source/orders.parquet")
    orders.write.mode("overwrite").parquet(s"$tables/orders.parquet")
    nDocs = docs().count()
    nOrders = orders.count()
  }

  private def docs(): DataFrame = ctx.spark.read.parquet(s"$tables/documents.parquet")

  /** CurateCorpus.run's body with its default options, stage by stage. */
  private def replay(docs: DataFrame, outDir: String): Seq[(String, Long)] = {
    val input = docs.count()
    val quality = sp.span("functions.TextFunctions.qualityScore") {
      docs.where(TextFunctions.qualityScore(col("text"), false) >= 0.7).localCheckpoint()
    }
    val nQuality = quality.count()
    val exact = sp.span("dedup.Dedup.exact") { Dedup.exact(quality, "text", "doc_id", false).localCheckpoint() }
    val nExact = exact.count()
    val chunked = sp.span("dedup.ChunkDedup.dedupSpans") {
      val spans = ChunkDedup.dedupSpans(exact, "doc_id", "text", 10)
        .where(col("n_kept") > 0).select(col("doc_id"), col("clean_text"))
      exact.drop("text", "n_chars").join(spans, Seq("doc_id"))
        .withColumnRenamed("clean_text", "text").localCheckpoint()
    }
    val nChunked = chunked.count()
    val clean = sp.span("text.Decontaminate.removeContaminated") {
      val bench = chunked.where(pmod(col("doc_id"), lit(17)) === 16)
      val train = chunked.where(pmod(col("doc_id"), lit(17)) =!= 16)
      Decontaminate.removeContaminated(train, bench, "doc_id", "text", 5, false).localCheckpoint()
    }
    val nClean = clean.count()
    val split = sp.span("etl.Mixing.assignSplit") {
      Mixing.assignSplit(clean, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), outCol = "split")
    }
    sp.span("data.Export.writeSharded") {
      Export.writeSharded(split, outDir, Seq("split", "lang"), Seq(col("doc_id")), 100000)
    }
    Seq("input" -> input, "quality" -> nQuality, "exact_dedup" -> nExact,
      "span_dedup" -> nChunked, "decontaminated" -> nClean, "per_source_cap" -> nClean)
  }

  /** Stage counts never grow, the export holds the last stage's rows,
    * and every pass counts what the warm-up counted.
    */
  private def curateOp(replayed: Boolean): Op.Check = {
    val out = exportDir.toString
    val stats = if (replayed) replay(docs(), out) else CurateCorpus.run(docs(), out)
    () => {
      val counts = stats.map(_._2)
      val exported = ctx.spark.read.parquet(out).count()
      Dirs.delete(exportDir)
      keep = stats.sliding(2).map { case Seq((_, a), (stage, b)) =>
        s"curate.$stage.keep_ratio" -> (if (a == 0) 0.0 else b.toDouble / a)
      }.toMap
      val err =
        if (counts.sliding(2).exists(p => p(1) > p(0))) Some(s"a stage count grew: $stats")
        else if (exported != counts.last) Some(s"export holds $exported rows, last stage ${counts.last}")
        else if (expected.nonEmpty && stats != expected) Some(s"stage counts $stats differ from the warm-up's $expected")
        else None
      if (expected.isEmpty && err.isEmpty) expected = stats
      err
    }
  }

  /** In the traced run the pipeline op is the replay, which must count
    * what CurateCorpus.run counted. Writing the query results for the
    * DuckDB compare is the queries' warm-up.
    */
  override def warmup(): Seq[String] =
    Main.attempt(() => curateOp(replayed = false)()).toSeq ++
      (if (sp.enabled) Main.attempt(() => curateOp(replayed = true)()).toSeq else Nil) ++
      oracle.dump(queries)

  def pass: Seq[Op] =
    Op("CurateCorpus.run", nDocs, () => curateOp(replayed = sp.enabled)) +: queries.map { q =>
      Op(q, if (q == "q07_ntile_orders") nOrders else nDocs, () => {
        sp.span(s"SparkEntry.$q") {
          SparkEntry.queries(q)(ctx.spark, tables).write.format("noop").mode("overwrite").save()
        }
        Op.ok
      })
    }

  override def traceCounts: Map[String, Double] = keep
}
