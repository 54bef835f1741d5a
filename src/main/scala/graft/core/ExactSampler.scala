package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Columns.quoted
import graft.functions.OpaqueLiteral

/** Distributed exact-N per-group resampling.
  *
  * Given per-group target sizes, downsamples (without replacement) or
  * upsamples (with replacement) each group to EXACTLY its target. This is
  * the materialization step of the balancer (see [[BalanceMath]]): the
  * reference does it one random row at a time (reference
  * `demv/helpers.py:15-17`); we do it in one distributed pass.
  *
  * Scale design: a naive `row_number().over(partitionBy(groupCols))` puts an
  * entire group in ONE task — with <= 2^n * L groups over 100 TB that is a
  * handful of straggler tasks. Instead each row gets a deterministic salt in
  * [0, saltBuckets); we count (group, salt) cells in one aggregation, split
  * each group's target across its salt buckets on the driver (largest-
  * remainder allocation, capped by bucket occupancy), then rank only within
  * (group, salt) — parallelism = groups * saltBuckets, each window partition
  * ~1/saltBuckets of a group. The quota table is tiny and broadcast.
  *
  * The salt is content-hash based (`xxhash64(allCols, seed)`) so it is stable
  * across the count job and the materialize job without caching the input —
  * at 100 TB you cannot afford to persist the scan just to freeze a random
  * salt. Trade-off: byte-identical duplicate rows share a bucket; quotas are
  * measured per-bucket so correctness is unaffected, only balance.
  */
object ExactSampler {

  /** Per-group targets keyed by the values of `groupCols` (in order).
    *
    * CONTRACT: `targets` must cover every group the caller wants in the
    * output — a group absent from `targets` is DROPPED (the quota join is
    * inner), and a target whose group has no rows in `df` is ignored
    * (there is nothing to sample from). Both are the semantics [[DEMV]]
    * relies on (it always lists every cell); callers resizing a subset of
    * groups should union the untouched groups back in themselves.
    *
    * @param precomputedOccupancy optional (groupCols..., salt, count) rows
    *        from an earlier aggregation with the SAME seed/saltBuckets/
    *        saltCols (the salt is content-hashed, so it reproduces) — lets
    *        callers like [[DEMV]] avoid a second full scan.
    * @param saltCols columns to hash for the salt. Default: all columns.
    *        At scale, pass a stable row-identifier subset (a primary key):
    *        the occupancy COUNT job then prunes its scan to
    *        groupCols ++ saltCols instead of reading the full row width —
    *        on a wide 100 TB table that is the difference between scanning
    *        2 columns and 100. Must distinguish rows within a group
    *        (duplicate salt values only skew bucket balance, not
    *        correctness).
    */
  def resize(
      df: DataFrame,
      groupCols: Seq[String],
      targets: Map[Seq[Any], Long],
      seed: Long = 42L,
      saltBuckets: Int = 32,
      precomputedOccupancy: Option[Array[Row]] = None,
      saltCols: Option[Seq[String]] = None): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(saltBuckets > 0, "saltBuckets must be positive")
    val spark = df.sparkSession
    val originalCols = df.columns.toSeq
    val saltCol = "__graft_salt"
    val saltInput = saltCols.getOrElse(originalCols)
    val salted = df.withColumn(saltCol, salt(saltInput, seed, saltBuckets))

    // Job 1: (group, salt) occupancy — tiny result (groups * saltBuckets).
    val occupancy: Array[Row] = precomputedOccupancy.getOrElse(
      salted.groupBy(groupCols.map(col) :+ col(saltCol): _*).count().collect())

    // Driver: split each group's target across its buckets.
    val byGroup: Map[Seq[Any], Array[(Int, Long)]] = occupancy
      .map(r => (groupCols.indices.map(r.get), r.getInt(groupCols.length), r.getLong(groupCols.length + 1)))
      .groupBy(_._1)
      .map { case (k, rows) => (k: Seq[Any]) -> rows.map(t => (t._2, t._3)) }

    val quotaRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    targets.foreach { case (key, target) =>
      byGroup.get(key).foreach { buckets =>
        val current = buckets.map(_._2).sum
        if (target <= current) {
          // downsample: keep[bucket] <= occupancy[bucket], sum == target
          val keep = allocate(target, buckets.map(_._2))
          buckets.zip(keep).foreach { case ((salt, _), k) =>
            quotaRows += Row.fromSeq(key ++ Seq[Any](salt, k, 0L, 0L))
          }
        } else {
          // upsample with replacement: distribute `extra` copies over buckets
          val extra = allocateUncapped(target - current, buckets.map(_._2))
          buckets.zip(extra).foreach { case ((salt, cnt), e) =>
            // every row kept; rows with rank <= rem get base+1 copies
            val base = e / cnt
            val rem = e % cnt
            quotaRows += Row.fromSeq(key ++ Seq[Any](salt, cnt, base, rem))
          }
        }
      }
    }
    val keySchema = df.select(groupCols.map(col): _*).schema
    val quotaSchema = org.apache.spark.sql.types.StructType(
      keySchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField(saltCol, org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__graft_keep", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__graft_base", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__graft_rem", org.apache.spark.sql.types.LongType)))
    val quotas = spark.createDataFrame(
      spark.sparkContext.parallelize(quotaRows.toSeq, 1), quotaSchema)

    // Job 2: rank within (group, salt), keep/replicate per quota.
    // rand(seed) is re-drawn if a task retries or the lineage recomputes:
    // WHICH rows survive can differ between attempts, but counts are exact
    // either way — matching the reference, whose per-row sampling is also
    // unseeded (demv/helpers.py:15-17). If retry-stable row identity is
    // ever needed, switch the sort key to xxhash64(idCols..., seed).
    val w = Window
      .partitionBy((groupCols :+ saltCol).map(col): _*)
      .orderBy(rand(seed))
    val joined = salted
      .join(broadcast(quotas), groupCols :+ saltCol)
      .withColumn("__graft_rn", row_number().over(w))
    val copies = when(col("__graft_rn") <= col("__graft_keep"),
      col("__graft_base") + lit(1L) + when(col("__graft_rn") <= col("__graft_rem"), 1L).otherwise(0L))
      .otherwise(lit(0L))
    joined
      .withColumn("__graft_copies", copies)
      .where(col("__graft_copies") > 0)
      .withColumn("__graft_dup", explode(expr("sequence(1, __graft_copies)")))
      .select(originalCols.map(quoted): _*)
  }

  /** The sampling salt in [0, saltBuckets): `xxhash64(saltCols..., seed)`.
    * The seed enters as an [[graft.functions.OpaqueLiteral]], so that
    * samplers that differ only in their seed (the folds of a
    * cross-validation) share their generated code; the hash is the same
    * as with `lit(seed)`. Each name is one top-level column, taken at its
    * word (a dot or a backtick in it is part of the name).
    */
  private[graft] def salt(saltCols: Seq[String], seed: Long, saltBuckets: Int): Column =
    pmod(xxhash64(saltCols.map(quoted) :+ OpaqueLiteral.lit(seed): _*), lit(saltBuckets)).cast("int")

  /** Largest-remainder allocation of `total` over buckets proportionally to
    * `weights`, each share capped at its weight (downsample feasibility).
    * Requires total <= sum(weights).
    */
  private[core] def allocate(total: Long, weights: Array[Long]): Array[Long] = {
    require(total <= weights.sum, s"cannot keep $total rows out of ${weights.sum}")
    largestRemainder(total, weights, capped = true)
  }

  /** Proportional allocation without caps (upsample extras can exceed bucket
    * occupancy — rows are replicated).
    */
  private[core] def allocateUncapped(total: Long, weights: Array[Long]): Array[Long] =
    largestRemainder(total, weights, capped = false)

  /** Floors of the proportional shares, then the remainder one unit at a
    * time by largest fractional part (ties in bucket order), skipping a
    * bucket at its weight when `capped`.
    */
  private def largestRemainder(total: Long, weights: Array[Long], capped: Boolean): Array[Long] = {
    val sum = weights.sum
    if (sum == 0) return weights.map(_ => 0L)
    val cap: Int => Long = if (capped) weights(_) else _ => Long.MaxValue
    val shares = weights.map(w => w.toDouble * total / sum)
    val out = shares.indices.map(i => math.min(math.floor(shares(i)).toLong, cap(i))).toArray
    var remaining = total - out.sum
    val order = shares.zipWithIndex
      .map { case (s, i) => (s - math.floor(s), i) }
      .sortBy(-_._1)
      .map(_._2)
    var idx = 0
    while (remaining > 0) {
      val i = order(idx % order.length)
      if (out(i) < cap(i)) { out(i) += 1; remaining -= 1 }
      idx += 1
    }
    out
  }
}
