package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact per-group percentiles with linear interpolation, computed WITHOUT
  * Spark's `percentile` imperative aggregate. That aggregate buffers a
  * value -> count OpenHashMap per group and merges every group's whole
  * distinct-value set in a single reducer task: for near-unique doubles the
  * buffer is ~|group| entries in ONE task — a per-group memory/straggler
  * bottleneck at scale (and 22% of the round-2 bench on its own).
  *
  * Scale-safe exact plan (3 bounded jobs, every stage parallel):
  *   1. tag-union the requested value columns into (tag, group..., v) rows
  *      and draw a bounded deterministic boundary sample of the sort keys
  *      (TakeOrdered on a seeded xxhash64 — same trick as [[Ranking]]; see
  *      there for why `repartitionByRange` can't be used);
  *   2. count rows per (range id, tag, group) — a tiny aggregate, one row
  *      per range x column x group, collected to the driver. Cumulative
  *      sums over range ids give, for each (tag, group), its total count n
  *      and the exact range + rank-within-range of the two neighbouring
  *      order statistics around each requested quantile index
  *      `(n-1) * p`;
  *   3. filter the tagged stream to ONLY the ranges containing a target
  *      rank (<= 2 x specs x groups ranges, each ~1/numPartitions of the
  *      data), take `row_number` over a window partitioned by
  *      (range, tag, group), and broadcast-semi-join against the needed
  *      (range, tag, group, rank) tuples — the survivors (<= 2 rows per
  *      requested percentile) are collected and interpolated on the driver.
  *
  * The result is one row per group — tiny by construction — so the final
  * assembly is a local relation.
  *
  * Interpolation follows the definition shared by Spark `percentile`,
  * DuckDB `quantile_cont` and NumPy `linear`: for index rn = (n-1)*p with
  * frn = floor(rn), crn = ceil(rn), the result is
  * `(crn - rn) * v[frn] + (rn - frn) * v[crn]` (DuckDB's two-multiply
  * form, reproduced exactly for oracle parity).
  *
  * Assumes the number of distinct groups is small relative to the data
  * (the usual shape of a percentile report): per-(range, tag, group)
  * counts are collected to the driver, so memory there is
  * O(numPartitions x columns x groups).
  *
  * Ties need no tiebreaker: the range id is a pure function of
  * (tag, group, v), so equal sort keys always land in the same range, and
  * only the VALUE at a rank is read — equal values make tie order moot.
  *
  * Reference parity: demv's eval code reports describe()-style quantiles
  * via pandas (reference `demv/utils.py` uses DataFrame.describe); this is
  * the distributed equivalent of `df.groupby(g)[v].quantile(p)`.
  */
object GroupPercentiles {

  /** One requested percentile: `valueCol` at quantile `p`, emitted as
    * `outName` (double).
    */
  final case class PctSpec(valueCol: String, p: Double, outName: String) {
    require(p >= 0.0 && p <= 1.0, s"quantile must be in [0,1], got $p")
  }

  /** Exact interpolated percentiles of `specs` per `groupCols` group.
    * Null values are ignored (Spark/DuckDB/pandas convention); a group
    * whose column is all-null gets null. Output schema:
    * groupCols (original types) ++ specs.map(_.outName) (double).
    */
  def exact(
      df: DataFrame,
      groupCols: Seq[String],
      specs: Seq[PctSpec],
      numPartitions: Int = 0,
      seed: Long = 42L): DataFrame = {
    require(specs.nonEmpty, "at least one percentile spec required")
    val spark = df.sparkSession
    val nParts = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    val tags: Seq[String] = specs.map(_.valueCol).distinct
    // NOT persisted (measured, r11): caching this tag-union tripled the
    // q48 bench time — the three passes over it are cheap columnar
    // parquet scans, and the in-memory columnar build costs more than it
    // saves (a cache pays off only over an EXPENSIVE kernel).
    val tagged = tags.map { vc =>
      df.filter(col(vc).isNotNull)
        .select(lit(vc).as("__tag") +: groupCols.map(col) :+
          col(vc).cast("double").as("__v"): _*)
    }.reduce(_ unionByName _)
    val sortCols: Seq[Column] = col("__tag") +: groupCols.map(col) :+ col("__v")

    // Job 1: range ids from Ranking's SHARED range-split machinery (one
    // bounded deterministic boundary-sample job — see Ranking.withRangeId
    // for why this beats df.sample / repartitionByRange). This module
    // previously carried a near-identical copy of the sample/bounds/
    // ordering logic; one implementation means a split-point or ordering
    // fix can never desynchronize the two consumers.
    val (withPid0, pidCol, _) = Ranking.withRangeId(tagged, sortCols, nParts, seed)
    val withPid = withPid0.withColumnRenamed(pidCol, "__pid")

    // Job 2: per-(range, tag, group) counts — numPartitions x cols x groups
    // rows, tiny by the documented assumption.
    val gCols = groupCols.map(col)
    val counts: Array[Row] = withPid
      .groupBy(col("__pid") +: col("__tag") +: gCols: _*)
      .count()
      .collect()

    val nGroup = groupCols.length
    // (tag, groupKey) -> sorted (pid, count)
    val perTG: Map[(String, Seq[Any]), Array[(Int, Long)]] = counts
      .map { r =>
        val pid = r.getInt(0); val tag = r.getString(1)
        val gk: Seq[Any] = (2 until 2 + nGroup).map(r.get)
        ((tag, gk), (pid, r.getLong(2 + nGroup)))
      }
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1) }

    // Target order statistics: (tag, group) -> needed 1-based ranks.
    // rankLocation maps a group-global rank to (pid, rank within pid).
    def rankLocation(cum: Array[(Int, Long)], rank: Long): (Int, Long) = {
      var before = 0L
      cum.foreach { case (pid, c) =>
        if (rank <= before + c) return (pid, rank - before)
        before += c
      }
      throw new IllegalStateException(s"rank $rank out of range")
    }
    final case class Target(tag: String, gk: Seq[Any], pid: Int, rnInPid: Long)
    val groupTotals: Map[(String, Seq[Any]), Long] = perTG.map { case (k, v) => k -> v.map(_._2).sum }
    val needed = scala.collection.mutable.LinkedHashSet[Target]()
    // (spec, groupKey) -> (rn, frnRank, crnRank) for interpolation later
    val plans = scala.collection.mutable.ArrayBuffer[(PctSpec, Seq[Any], Double, Long, Long)]()
    perTG.keys.toSeq.sortBy(_.toString).foreach { case (tag, gk) =>
      val n = groupTotals((tag, gk))
      specs.filter(_.valueCol == tag).foreach { sp =>
        val rn = (n - 1) * sp.p
        val frn = math.floor(rn).toLong
        val crn = math.ceil(rn).toLong
        plans += ((sp, gk, rn, frn + 1, crn + 1))
        Seq(frn + 1, crn + 1).distinct.foreach { r =>
          val (pid, rip) = rankLocation(perTG((tag, gk)), r)
          needed += Target(tag, gk, pid, rip)
        }
      }
    }

    // Job 3: touch only ranges containing a target rank, rank within
    // (range, tag, group), keep the <=2-per-percentile survivors.
    val neededPids = needed.map(_.pid).toSeq
    val gFields = groupCols.map(c => df.schema(c))
    val needSchema = StructType(
      StructField("__pid", IntegerType, nullable = false) +:
      StructField("__tag", StringType, nullable = false) +:
      gFields :+ StructField("__rn", LongType, nullable = false))
    val needRows = needed.toSeq.map(t =>
      Row.fromSeq(t.pid +: t.tag +: t.gk :+ t.rnInPid))
    val needDf = spark.createDataFrame(
      spark.sparkContext.parallelize(needRows, 1), needSchema)

    val winCols = col("__pid") +: col("__tag") +: gCols
    val ranked = withPid
      .filter(col("__pid").isin(neededPids: _*))
      .withColumn("__rn",
        row_number().over(
          Window.partitionBy(winCols: _*).orderBy(col("__v"))).cast("long"))
    // NULL-SAFE equality on the group columns: groupBy keeps a NULL group
    // (the counts/plans above include it), so the target-rank join must
    // match it too — a plain equi-join drops null keys and the driver
    // lookup below would throw NoSuchElementException for that group
    val lhs = ranked.alias("__l")
    val rhs = broadcast(needDf).alias("__r")
    val cond = (Seq("__pid", "__tag", "__rn").map(c => lhs(c) === rhs(c)) ++
      groupCols.map(c => lhs(c) <=> rhs(c))).reduce(_ && _)
    val hits: Array[Row] = lhs.join(rhs, cond, "inner")
      .select(Seq(lhs("__pid"), lhs("__tag")) ++ groupCols.map(lhs(_)) ++
        Seq(lhs("__rn"), lhs("__v")): _*)
      .collect()

    // (tag, group, group-global rank) -> value
    val cumBefore: Map[(String, Seq[Any], Int), Long] = perTG.flatMap {
      case ((tag, gk), arr) =>
        var acc = 0L
        arr.map { case (pid, c) =>
          val e = ((tag, gk, pid), acc); acc += c; e
        }
    }
    val valueAt: Map[(String, Seq[Any], Long), Double] = hits.map { r =>
      val pid = r.getInt(0); val tag = r.getString(1)
      val gk: Seq[Any] = (2 until 2 + nGroup).map(r.get)
      val rip = r.getLong(2 + nGroup)
      val v = r.getDouble(3 + nGroup)
      ((tag, gk, cumBefore((tag, gk, pid)) + rip), v)
    }.toMap

    val groupKeys: Seq[Seq[Any]] =
      perTG.keys.map(_._2).toSeq.distinct.sortBy(_.toString)
    val outRows = groupKeys.map { gk =>
      val vals: Seq[Any] = specs.map { sp =>
        plans.toSeq.find(p => p._1 == sp && p._2 == gk) match {
          case Some((_, _, rn, frnRank, crnRank)) =>
            val lo = valueAt((sp.valueCol, gk, frnRank))
            if (frnRank == crnRank) lo
            else {
              val hi = valueAt((sp.valueCol, gk, crnRank))
              val frn = frnRank - 1
              val crn = crnRank - 1
              (crn - rn) * lo + (rn - frn) * hi
            }
          case None => null // group absent for this value column (all null)
        }
      }
      Row.fromSeq(gk ++ vals)
    }
    val outSchema = StructType(
      groupCols.map(c => df.schema(c)) ++
        specs.map(sp => StructField(sp.outName, DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(outRows, 1), outSchema)
  }

}
