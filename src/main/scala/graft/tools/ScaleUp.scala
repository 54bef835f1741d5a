package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N-fold scale-up of a driver testdata dir (default 10x:
  * sf0.1 -> sf1), used for the measured scaling points in BENCHNOTES.md.
  *
  * Each copy `i` is the sf0.1 data with every entity key shifted by
  * `i * (maxKey + 1)` so foreign keys stay consistent and key
  * cardinalities scale linearly. Dimension tables (region, nation) keep
  * one copy, like TPC-H. Two columns get a per-copy decorrelation so the
  * pair-finding operators scale the way real corpora do (N independent
  * shards, not N literal clones whose cross-copy duplicates would blow
  * pair outputs up quadratically):
  *
  *  - `documents.text`: per-copy letter substitution. Copies 0-25 use the
  *    Caesar shift by `i` (bit-identical to the round-4 sf1 artifacts);
  *    copies 26+ use a seeded random alphabet permutation (26! maps, so
  *    a 100-copy sf10 never reuses one). Any bijective letter map
  *    preserves lengths, word shapes, repetition and within-copy
  *    near-dup structure exactly, while shingle/minhash/simhash values
  *    across copies are unrelated.
  *  - `embeddings.embedding`: per-copy diagonal sign-flip D_i (sign from
  *    murmur3(dim, i)). D_i is orthogonal, so within-copy cosines are
  *    bit-preserved; cross-copy cosines decorrelate (dim=64: 2^64 flip
  *    patterns, so copy collisions are never a concern).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor] [tables]
  *   tables: optional comma-separated subset (e.g. "documents,embeddings"
  *   for the sf10 pair-finding decade — bounded disk, no 100x lineitem)
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/testdata-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    require(factor >= 1 && factor <= 1000, s"factor must be in [1, 1000], got $factor")
    val spark = graft.Harness.session()
    run(spark, src, dst, factor, only)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      only: Option[Set[String]] = None): Unit = {
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    // offsets are only probed for tables being written (the probe is a
    // scan; a documents,embeddings-only sf10 run must not read lineitem)
    lazy val custOff = off(rd("customer"), "c_custkey")
    lazy val suppOff = off(rd("supplier"), "s_suppkey")
    lazy val partOff = off(rd("part"), "p_partkey")
    lazy val ordOff = off(rd("orders"), "o_orderkey")
    lazy val evOff = off(rd("events"), "event_id")
    lazy val userOff = off(rd("events"), "user_id")
    lazy val docOff = off(rd("documents"), "doc_id")
    lazy val vecOff = off(rd("embeddings"), "vec_id")

    // one select per copy, unioned: each copy is a map-side projection of
    // the same scan, so generation is a single shuffle-free write per table
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)

    def shiftKeys(keysAndOffsets: (String, Long)*)(df: DataFrame, i: Int): DataFrame =
      keysAndOffsets.foldLeft(df) { case (d, (k, o)) =>
        d.withColumn(k, col(k) + lit(i * o))
      }

    val alphabet = ('a' to 'z').mkString + ('A' to 'Z').mkString
    // copy i's letter substitution: Caesar for i < 26 (keeps sf1 artifacts
    // bit-identical to round 4), seeded alphabet permutation beyond — every
    // copy gets a DISTINCT bijection, so no two copies share text content
    def subst(i: Int): (String, String) =
      if (i < 26) {
        val lower = ('a' to 'z').map(c => (('a' + (c - 'a' + i) % 26)).toChar).mkString
        val upper = ('A' to 'Z').map(c => (('A' + (c - 'A' + i) % 26)).toChar).mkString
        (alphabet, lower + upper)
      } else {
        val rng = new scala.util.Random(0xC0FFEEL + i)
        val perm = rng.shuffle(('a' to 'z').toList)
        (alphabet, perm.mkString + perm.map(_.toUpper).mkString)
      }

    def write(name: String, df: => DataFrame): Unit = if (wanted(name)) {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaleup: $name -> $dst/$name.parquet")
    }

    write("region", rd("region"))
    write("nation", rd("nation"))
    write("customer", copies(rd("customer"))(shiftKeys("c_custkey" -> custOff)))
    write("supplier", copies(rd("supplier"))(shiftKeys("s_suppkey" -> suppOff)))
    write("part", copies(rd("part"))(shiftKeys("p_partkey" -> partOff)))
    write("orders", copies(rd("orders"))(
      shiftKeys("o_orderkey" -> ordOff, "o_custkey" -> custOff)))
    write("lineitem", copies(rd("lineitem"))(shiftKeys(
      "l_orderkey" -> ordOff, "l_partkey" -> partOff, "l_suppkey" -> suppOff)))
    write("events", copies(rd("events"))(
      shiftKeys("event_id" -> evOff, "user_id" -> userOff)))
    write("documents", copies(rd("documents")) { (df, i) =>
      val (from, to) = subst(i)
      shiftKeys("doc_id" -> docOff)(df, i)
        .withColumn("text", translate(col("text"), from, to))
    })
    write("embeddings", copies(rd("embeddings")) { (df, i) =>
      // generation-only HOF: interpreted eval is fine off the engine's hot
      // path, and murmur3 hash(dim, copy) is deterministic across runs
      shiftKeys("vec_id" -> vecOff)(df, i)
        .withColumn("embedding", transform(col("embedding"),
          (x, idx) => when(pmod(hash(idx, lit(i)), lit(2)) === 1, -x).otherwise(x)))
    })
  }
}
