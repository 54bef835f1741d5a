package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact-count seeded relabeling, parallel inside every cell.
  *
  * Given per-cell move lists `cell -> [(newValue, count), ...]`, rewrites
  * `predCol` for EXACTLY `count` seeded-random rows of each cell per move.
  * The naive plan — `row_number over Window.partitionBy(cellCols)` — puts
  * each cell in ONE task, and a (group, class) cell at 100 TB can be the
  * bulk of the table. Like [[ExactSampler]], the cell is salted into
  * `saltBuckets` sub-windows, the move counts are split across salts with a
  * capacity-aware largest-remainder allocation (driver arithmetic on the
  * tiny per-(cell, salt) occupancy), and the relabel applies per-salt rank
  * ranges — one broadcast join + one salted window, no single-task stages.
  */
object ExactRelabel {

  /** @param cellCols columns identifying a cell (typically group + pred)
    * @param predCol  the column to rewrite (must be one of the cell's
    *                 defining columns or downstream consumers see stale
    *                 cells — callers pass e.g. Seq(group, pred), pred)
    * @param moves    per cell-key (values of `cellCols` in order), the list
    *                 of (newValue, rowCount) rewrites; total count per cell
    *                 must not exceed the cell size
    */
  def relabel(
      df: DataFrame,
      cellCols: Seq[String],
      predCol: String,
      moves: Map[Seq[Any], Seq[(Any, Long)]],
      seed: Long = 42L,
      saltBuckets: Int = 32): DataFrame = {
    val active = moves.map { case (k, ms) => k -> ms.filter(_._2 > 0) }.filter(_._2.nonEmpty)
    if (active.isEmpty) return df
    val spark = df.sparkSession

    val saltCol = "__graft_salt"
    val salted = df.withColumn(saltCol, ExactSampler.salt(df.columns.toSeq, seed, saltBuckets))

    // tiny: per-(cell, salt) occupancy
    val occ: Map[(Seq[Any], Int), Long] = salted
      .groupBy(cellCols.map(col) :+ col(saltCol): _*).count().collect()
      .map(r => ((cellCols.indices.map(r.get): Seq[Any]), r.getInt(cellCols.length)) ->
        r.getLong(cellCols.length + 1)).toMap

    val targets: Seq[Any] = active.values.flatten.map(_._1).toSeq.distinct
    val tIdx = targets.zipWithIndex.toMap

    // quota rows: (cellVals..., salt, lo_0, hi_0, lo_1, hi_1, ...)
    val quotaRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    active.foreach { case (cell, ms0) =>
      // pre-merge duplicate targets: a repeated target in the move list
      // would overwrite its earlier per-salt range in `ranges` below,
      // silently relabeling fewer rows than requested while the capacity
      // require() still passed (first-occurrence order preserved)
      val ms: Seq[(Any, Long)] = ms0.map(_._1).distinct.map { tgt =>
        tgt -> ms0.collect { case (t, n) if t == tgt => n }.sum
      }
      val sizes: Map[Int, Long] = occ.collect { case ((c, s), n) if c == cell => s -> n }
      val cellTotal = sizes.values.sum
      val moveTotal = ms.map(_._2).sum
      require(moveTotal <= cellTotal,
        s"relabel of cell $cell moves $moveTotal rows but the cell has $cellTotal")
      val used = scala.collection.mutable.Map(sizes.keys.map(_ -> 0L).toSeq: _*)
      // per-salt (loByTarget, hiByTarget)
      val ranges = scala.collection.mutable.Map.empty[Int, Array[(Long, Long)]]
      ms.foreach { case (to, n) =>
        val alloc = allocate(n, sizes, used)
        alloc.foreach { case (s, a) =>
          if (a > 0) {
            val lo = used(s)
            val arr = ranges.getOrElseUpdate(s, Array.fill(targets.length)((-1L, -1L)))
            arr(tIdx(to)) = (lo, lo + a)
            used(s) = lo + a
          }
        }
      }
      ranges.foreach { case (s, arr) =>
        quotaRows += Row.fromSeq(
          cell ++ Seq[Any](s) ++ arr.toSeq.flatMap { case (lo, hi) =>
            if (hi < 0) Seq[Any](null, null) else Seq[Any](lo, hi)
          })
      }
    }
    val keySchema = df.select(cellCols.map(col): _*).schema
    val quotaSchema = StructType(keySchema.fields ++
      Seq(StructField(saltCol, IntegerType)) ++
      targets.indices.flatMap(i => Seq(
        StructField(s"__graft_lo_$i", LongType), StructField(s"__graft_hi_$i", LongType))))
    val quotas = spark.createDataFrame(
      spark.sparkContext.parallelize(quotaRows.toSeq, 1), quotaSchema)

    val w = Window.partitionBy((cellCols :+ saltCol).map(col): _*).orderBy(rand(seed))
    val ranked = salted
      .join(broadcast(quotas), cellCols :+ saltCol, "left")
      .withColumn("__graft_rn", (row_number().over(w) - 1).cast("long"))
    val relabeled = targets.indices.foldLeft(col(predCol)) { (e, i) =>
      when(col(s"__graft_hi_$i").isNotNull &&
        col("__graft_rn") >= col(s"__graft_lo_$i") && col("__graft_rn") < col(s"__graft_hi_$i"),
        lit(targets(i))).otherwise(e)
    }
    ranked
      .withColumn(predCol, relabeled.cast(df.schema(predCol).dataType))
      .drop((targets.indices.flatMap(i => Seq(s"__graft_lo_$i", s"__graft_hi_$i")) ++
        Seq("__graft_rn", saltCol)): _*)
  }

  /** Split `n` across salts proportionally to their size (largest-remainder),
    * capped by each salt's remaining capacity; overflow spills to salts with
    * slack in deterministic salt order.
    */
  private def allocate(
      n: Long,
      sizes: Map[Int, Long],
      used: scala.collection.Map[Int, Long]): Map[Int, Long] = {
    val saltsOrdered = sizes.keys.toSeq.sorted
    val total = sizes.values.sum.toDouble
    val raw = saltsOrdered.map(s => s -> n * (sizes(s) / total))
    val floors = scala.collection.mutable.Map(raw.map { case (s, x) => s -> x.toLong }: _*)
    var rem = n - floors.values.sum
    val byFrac = raw.sortBy { case (s, x) => (-(x - x.toLong), s) }.map(_._1)
    var i = 0
    while (rem > 0 && byFrac.nonEmpty) {
      floors(byFrac(i % byFrac.length)) += 1; rem -= 1; i += 1
    }
    // capacity fix-up
    val capped = scala.collection.mutable.Map.empty[Int, Long]
    var overflow = 0L
    saltsOrdered.foreach { s =>
      val cap = sizes(s) - used.getOrElse(s, 0L)
      val want = floors(s)
      val take = math.min(want, cap)
      capped(s) = take
      overflow += want - take
    }
    saltsOrdered.foreach { s =>
      if (overflow > 0) {
        val slack = sizes(s) - used.getOrElse(s, 0L) - capped(s)
        val add = math.min(slack, overflow)
        capped(s) += add
        overflow -= add
      }
    }
    require(overflow == 0, s"relabel allocation overflow: $overflow rows had no capacity")
    capped.toMap
  }
}
