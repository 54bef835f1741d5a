package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.similarity.Similarity

/** Measures lshTopK's query-directed multi-probe knob: recall@k against
  * brute force as `probes` grows 0 -> full Hamming-1 ring, plus the
  * candidate volume each setting pays (the recall/cost trade the knob
  * exists to tune). Query-directed probing flips the lowest-|margin|
  * sign bits first, so early probes should buy most of the recall —
  * that is the property worth measuring, not just monotonicity (which
  * `SimilaritySpec` already asserts). One JSON line per probes setting;
  * results committed in BENCHNOTES.md.
  *
  *   runMain graft.tools.ProbesRecallBench [n] [numBits] [k]
  */
object ProbesRecallBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(20000)
    val numBits = args.lift(1).map(_.toInt).getOrElse(12)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val nQueries = 50
    val dim = 64
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // clustered corpus (like the q35/q39 crossover run in BENCHNOTES.md):
    // real embedding corpora are clustered, which is exactly where
    // sign-sketch recall is hard — near neighbors sit close to the same
    // hyperplanes
    val rng = new scala.util.Random(42)
    val centers = Array.fill(20, dim)(rng.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = centers(rng.nextInt(centers.length))
      Row(i.toLong, (c.map(x => x + 0.3 * rng.nextGaussian()): Array[Double]).toSeq)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType))))
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(rows, 32), schema)
      .cache()
    corpus.count()
    val queries = corpus.where(col("vec_id") < nQueries).cache()
    queries.count()

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val truth = pairs(Similarity.bruteForceTopK(corpus, queries, "vec_id", "v", k))

    (Seq(0, 1, 2, 4, 8) :+ numBits).distinct.filter(_ <= numBits).foreach { p =>
      val t0 = System.nanoTime()
      val got = pairs(Similarity.lshTopK(corpus, queries, "vec_id", "v",
        k = k, dim = dim, numBits = numBits, maxProbes = p))
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = (truth & got).size.toDouble / truth.size
      val rec = String.format(java.util.Locale.ROOT, "%.3f", Double.box(recall))
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))
      println(s"""{"probes":$p,"numBits":$numBits,"k":$k,"n":$n,""" +
        s""""recall":$rec,"pairs":${got.size},"sec":$s}""")
    }
    spark.stop()
  }
}
