package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(0.9, 0.1, 0.0)),  // close to 0
      (2L, Array(0.0, 1.0, 0.0)),  // orthogonal to 0
      (3L, Array(-1.0, 0.0, 0.0)), // opposite of 0
      (4L, Array(0.8, 0.2, 0.0))   // close to 0 and 1
    ).toDF("vec_id", "embedding")
  }

  test("dot / l2Norm / cosine column math") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 2.0), Array(2.0, 0.0, 1.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.l2Norm(col("a")),
      Similarity.cosine(col("a"), col("a"))).collect()(0)
    assert(r.getDouble(0) === 4.0)
    assert(r.getDouble(1) === 3.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    import spark.implicits._
    val df = Seq((Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).collect()(0).getDouble(0) === 0.0)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val q = vecs.where(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 2)
      .collect().sortBy(_.getInt(3))
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L) // nearest: cos ~= .9939
    assert(out(1).getLong(1) === 4L) // next: cos ~= .9701
    assert(out.forall(_.getLong(1) != 0L))
  }

  test("hyperplaneBucket is deterministic and keys nearby vectors together") {
    val b = vecs.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), dim = 3, numBits = 6, seed = 42).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = vecs.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), dim = 3, numBits = 6, seed = 42).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b === b2)
    assert(b(0L) === b(1L)) // near-identical directions agree on all sign bits
    assert(b(0L) !== b(3L)) // opposite vector flips every plane
  }

  test("lshTopK returns correctly ranked subset of brute force") {
    val q = vecs.where(col("vec_id") === 0)
    val out = Similarity.lshTopK(vecs, q, "vec_id", "embedding", k = 3, dim = 3, numBits = 2)
      .collect()
    assert(out.nonEmpty, "lshTopK found no neighbors in the query's bucket")
    // ranks correctly
    val sorted = out.sortBy(_.getInt(3))
    val cosines = sorted.map(_.getDouble(2))
    assert(cosines.sameElements(cosines.sorted.reverse))
    // subset of brute force, with matching cosines and no self-match
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    sorted.foreach { r =>
      val n = r.getLong(1)
      assert(n !== 0L, "self returned as its own neighbor")
      assert(brute.contains(n), s"neighbor $n not in brute-force results")
      assert(math.abs(brute(n) - r.getDouble(2)) < 1e-12,
        s"neighbor $n cosine disagrees with brute force")
    }
    // every returned neighbor is within the probed ring: the default
    // probes=-1 explores the base bucket plus all Hamming-1 flips, so the
    // neighbor's bucket may differ from the query's by at most one bit
    val buckets = vecs.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), dim = 3, numBits = 2).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sorted.foreach { r =>
      val d = java.lang.Long.bitCount(buckets(r.getLong(1)) ^ buckets(0L))
      assert(d <= 1, s"neighbor ${r.getLong(1)} is $d bucket bits from the query — outside the probed ring")
    }
  }

  test("lshTopK probes knob is monotone: more probes never lose candidates") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val emb = (0L until 200L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 5)
    // k >= corpus so top-k truncation cannot break the subset relation
    def pairs(probes: Int) = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 200, dim = 8, numBits = 6, maxProbes = probes)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p0 = pairs(0); val p1 = pairs(1); val p3 = pairs(3); val all = pairs(-1)
    // candidate sets grow with the probe count (query-directed flips are
    // nested by construction: lowest-margin first)
    assert(p0.subsetOf(p1), "probes=1 must include the base bucket's pairs")
    assert(p1.subsetOf(p3), "probes=3 must include probes=1's pairs")
    assert(p3.subsetOf(all), "full ring must include probes=3's pairs")
    // and the knob actually moves something on a random corpus
    assert(p0.size < all.size, "full Hamming-1 ring found nothing beyond the base bucket")
  }

  test("occupancy scaling: bits/cells grow with the corpus, fixtures keep published layouts") {
    // mean occupancy n/2^bits stays at or under target once above the floor
    assert(Similarity.bitsForOccupancy(200L) === 4, "sf0.01 embeddings stay at the 4-bit floor")
    assert(Similarity.bitsForOccupancy(2000L) === 5)
    assert(Similarity.bitsForOccupancy(200000L) === 12)
    (Seq(100L, 5000L, 300000L, 50000000L)).foreach { n =>
      val b = Similarity.bitsForOccupancy(n)
      assert(b >= 4 && (b == 4 || (n >> b) <= 64L), s"occupancy bound violated at n=$n")
      assert(Similarity.bitsForOccupancy(n * 10) >= b, "monotone in n")
    }
    // SemDeDup cells: floor of 8 protects the published fixture layout
    assert(Similarity.cellsForOccupancy(200L) === 8)
    assert(Similarity.cellsForOccupancy(2000L) === 8)
    assert(Similarity.cellsForOccupancy(200000L) === 391)
    assert(Similarity.cellsForOccupancy(5000000000L) === (1 << 17), "clamped at maxCells")
  }

  test("query-directed probing: maxProbes=numBits/2 keeps >=85% of full-ring recall") {
    import spark.implicits._
    // Spec-guards the calibration the lshTopK scaladoc promises (measured
    // at 20k vectors, BENCHNOTES.md "Query-directed multi-probe LSH"):
    // flipping the lowest-|margin| bits first means half the probes buy
    // almost all the recall. A clustered corpus (like real embedding corpora) is the hard
    // case — true neighbors straddle the same hyperplanes.
    val rng = new scala.util.Random(42)
    val dim = 32
    val centers = Array.fill(12, dim)(rng.nextGaussian())
    val corpus = (0L until 4000L).map { i =>
      val c = centers(rng.nextInt(centers.length))
      (i, c.map(x => x + 0.3 * rng.nextGaussian()))
    }.toDF("vec_id", "embedding").cache()
    val queries = corpus.where(col("vec_id") < 25).cache()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 10))
    def recall(p: Int) = {
      val got = pairSet(Similarity.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 10, dim = dim, numBits = 8, maxProbes = p))
      (truth & got).size.toDouble / truth.size
    }
    val r0 = recall(0); val r2 = recall(2); val r4 = recall(4); val rFull = recall(-1)
    info(f"recall@10: probes0=$r0%.3f probes2=$r2%.3f probes4=$r4%.3f full=$rFull%.3f")
    // monotone ladder (query-directed flips nest lowest-margin-first)
    assert(r0 <= r2 && r2 <= r4 && r4 <= rFull, "recall ladder not monotone")
    // the ring must actually matter on this corpus, or the ratio is vacuous
    assert(rFull > r0, "full ring bought no recall over the base bucket")
    // the documented trade: half the probes keep >=85% of full-ring recall
    assert(r4 >= 0.85 * rFull, f"probes=4 recall $r4%.3f < 0.85 x full-ring $rFull%.3f")
    corpus.unpersist(); queries.unpersist()
  }

  test("banded near-dup: single table is band 0; bands only add pairs; recall rises") {
    import spark.implicits._
    // planted near-dups: consecutive even/odd ids share a base direction
    // with small noise (cosine ~0.95+); the rest are random
    val rng = new scala.util.Random(7)
    val emb = (0L until 400L).map { i =>
      val base = Array.fill(16)(rng.nextGaussian())
      (i, base)
    }.flatMap { case (i, base) =>
      if (i % 4 == 0)
        Seq((2 * i, base), (2 * i + 1, base.map(x => x + 0.05 * rng.nextGaussian())))
      else Seq((2 * i, base))
    }.toDF("vec_id", "embedding")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairsOf(Similarity.cosineNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.9, dim = 16, numBits = 8))
    val banded1 = pairsOf(Similarity.bandedCosineNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.9, dim = 16, numBits = 8, numBands = 1))
    val banded4 = pairsOf(Similarity.bandedCosineNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.9, dim = 16, numBits = 8, numBands = 4))
    // band 0 consumes the same plane-stream prefix -> numBands=1 IS the
    // single-table operator
    assert(banded1 === single, "numBands=1 must equal the single-table operator")
    // more bands only add candidates (union over bands)
    assert(single.subsetOf(banded4), "single-table pairs must survive banding")
    // and the added bands find real planted pairs the single table missed
    val planted = (0L until 400L by 4L).map(i => (2 * i, 2 * i + 1)).toSet
    val singleHit = (single & planted).size
    val bandedHit = (banded4 & planted).size
    info(s"planted recall: single=$singleHit/${planted.size} banded4=$bandedHit/${planted.size}")
    assert(bandedHit > singleHit, "4 bands should recover planted pairs one table misses")
    assert(bandedHit >= (planted.size * 0.6).toInt,
      s"banded recall $bandedHit/${planted.size} below the 1-(1-p^r)^b expectation")
  }

  test("ivfTopK: clustered corpus, probing recovers the true neighbors") {
    import spark.implicits._
    // two tight clusters around (1,0,0) and (0,1,0); queries from cluster A
    val rng = new scala.util.Random(4)
    val a = (0L until 40L).map(i => (i, Array(1.0 + rng.nextGaussian() * 0.05, rng.nextGaussian() * 0.05, 0.0)))
    val b = (100L until 140L).map(i => (i, Array(rng.nextGaussian() * 0.05, 1.0 + rng.nextGaussian() * 0.05, 0.0)))
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 0)
    val out = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, dim = 3, nLists = 2, nProbe = 1, seed = 7)
      .collect()
    assert(out.length === 5)
    // with nProbe=1 all neighbors come from the query's own cluster
    assert(out.forall(_.getLong(1) < 100L))
    // and they rank by true cosine: compare against brute force
    val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 5)
      .collect().map(_.getLong(1)).toSet
    val ivf = out.map(_.getLong(1)).toSet
    assert((bf & ivf).size >= 4, s"IVF should recover the in-cluster top-k, got $ivf vs $bf")
  }

  test("ivfTopK with precomputed centroids matches in-call training") {
    import spark.implicits._
    val rng = new scala.util.Random(4)
    val a = (0L until 40L).map(i => (i, Array(1.0 + rng.nextGaussian() * 0.05, rng.nextGaussian() * 0.05, 0.0)))
    val b = (100L until 140L).map(i => (i, Array(rng.nextGaussian() * 0.05, 1.0 + rng.nextGaussian() * 0.05, 0.0)))
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val queries = corpus.where(col("vec_id") === 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
      dim = 3, nLists = 2, seed = 7)
    assert(cents.length === 2 * 3)
    val reused = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, dim = 3, nLists = 2, nProbe = 1, seed = 7, centroids = Some(cents))
      .collect().map(_.getLong(1)).toSet
    val trained = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, dim = 3, nLists = 2, nProbe = 1, seed = 7)
      .collect().map(_.getLong(1)).toSet
    assert(reused === trained)
  }

  test("IVF recall on the real embeddings table beats the 12/15 bar (and LSH)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.where(col("vec_id") < 3)
    def neighborSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = neighborSet(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id"))
    val ivf = neighborSet(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, dim = 64, nLists = 16, nProbe = 4, corpusAssign = 2)
      .select("query_id", "neighbor_id"))
    assert(bf.size === 15)
    val recall = (bf & ivf).size
    assert(recall >= 12, s"IVF recall $recall/15 below the 12/15 bar")
    val lsh = neighborSet(Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 5, dim = 64, numBits = 4)
      .select("query_id", "neighbor_id"))
    assert(recall >= (bf & lsh).size,
      s"IVF ($recall) should beat sign-sketch LSH (${(bf & lsh).size}) on this corpus")
  }

  test("cosineNearDupPairs finds the embedding near-duplicates") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.95, dim = 3, numBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(0L, 3L) })
  }

  test("int8 quantization: floor goldens, zero vector, bounded cosine drift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // golden: maxAbs=2.0 -> scale 63.5/unit; floor(-1.0*63.5) = -64
    val g = Seq((0L, Seq(2.0, -1.0, 0.5, 0.0))).toDF("id", "v")
      .select(Similarity.vecMaxAbs(col("v")).as("m"),
        Similarity.quantizeInt8(col("v")).as("q"),
        Similarity.quantSumInt8(col("v")).as("s"))
      .collect()(0)
    assert(g.getDouble(0) === 2.0)
    assert(g.getSeq[Byte](1) === Seq[Byte](127, -64, 31, 0))
    assert(g.getInt(2) === 127 - 64 + 31 + 0)
    val z = Seq((0L, Seq(0.0, 0.0))).toDF("id", "v")
      .select(Similarity.quantizeInt8(col("v"))).collect()(0).getSeq[Byte](0)
    assert(z === Seq[Byte](0, 0))
    // drift: quantized cosine within 2% of float cosine on seeded vectors
    val rng = new scala.util.Random(3)
    (0 until 50).foreach { _ =>
      val a = Array.fill(64)(rng.nextGaussian())
      val b = Array.fill(64)(rng.nextGaussian() * 0.2).zip(a).map { case (n, x) => x + n }
      def cos(x: Array[Double], y: Array[Double]) = {
        val d = x.zip(y).map { case (p, q) => p * q }.sum
        d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
      }
      def quant(x: Array[Double]) = {
        val m = x.map(math.abs).max
        x.map(v => math.floor(v * 127.0 / m))
      }
      val drift = math.abs(cos(a, b) - cos(quant(a), quant(b)))
      assert(drift < 0.02, s"quantized cosine drifted $drift")
    }
  }

  test("streamingCosineNearDupPairs pairs across micro-batches, evicts on watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Seq[Double], Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd_ckpt").toString
    val t0 = 1000000000L
    val vecA = Seq(1.0, 0.2, 0.1, 0.0)
    val vecFar = Seq(-1.0, 0.5, -0.3, 0.9)
    val stream = source.toDF().toDF("vec_id", "v", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = Similarity.streamingCosineNearDupPairs(stream, "vec_id", "v", "ts",
        delayMs = 600000L, threshold = 0.98, dim = 4)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_scd")
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData((1L, vecA, t0), (2L, vecFar, t0 + 10))
      q.processAllAvailable()
      // near-identical vector in a LATER micro-batch: paired via state
      source.addData((3L, vecA.map(_ * 2.0), t0 + 60000))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT id_a, id_b, cosine FROM t_scd").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(pairs.contains((1L, 3L)), s"expected (1,3) in ${pairs.keySet}")
      assert(math.abs(pairs((1L, 3L)) - 1.0) < 1e-9)
      assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L })
      // advance the watermark far past the horizon: state evicts
      source.addData((9L, vecFar, t0 + 100 * 600000L))
      q.processAllAvailable()
      source.addData((4L, vecA, t0 + 101 * 600000L))
      q.processAllAvailable()
      val after = spark.sql("SELECT id_a, id_b FROM t_scd").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.exists { case (a, b) => a == 4L || b == 4L },
        s"vector 4 arrived after eviction and must not pair, got $after")
    } finally q.stop()
  }

  test("streamingCosineNearDupPairs batch fallback agrees with the batch operator") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(5)
    val rows = (0 until 60).map { i =>
      val base = Array.fill(8)(rng.nextGaussian())
      (i.toLong, base.map(_ + rng.nextGaussian() * 0.01).toSeq, 1000000000L + i)
    }
    val df = rows.toDF("vec_id", "v", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val streamed = Similarity.streamingCosineNearDupPairs(df, "vec_id", "v", "ts",
        delayMs = 600000L, threshold = 0.9, dim = 8, numBits = 4)
      .collect().map(p => (p.id_a, p.id_b)).toSet
    val batch = Similarity.cosineNearDupPairs(df, "vec_id", "v",
        threshold = 0.9, dim = 8, numBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
  }

  test("semanticNearDupPairs: subset of exact pairs, high recall on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 6 tight clusters of 20 vectors each: near-dups live inside clusters
    val rng = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(6)(Array.fill(dim)(rng.nextGaussian() * 3))
    val rows = (0 until 120).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(_ + rng.nextGaussian() * 0.05).toSeq)
    }
    val df = rows.toDF("vec_id", "v")
    val (cent, pairsDf) = Similarity.semanticNearDupPairs(
      df, "vec_id", "v", dim = dim, threshold = 0.999, k = 6)
    assert(cent.length === 6 * dim)
    val semantic = pairsDf.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = df.select(col("vec_id"), col("v"))
    val exact = e.alias("x").join(e.alias("y"), col("x.vec_id") < col("y.vec_id"))
      .where(Similarity.cosine(col("x.v"), col("y.v")) >= 0.999)
      .select(col("x.vec_id"), col("y.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semantic.subsetOf(exact), "cell-scoped pairs must be a subset of exact pairs")
    assert(exact.nonEmpty)
    // data-adaptive cells on clearly clustered data: near-total recall
    assert(semantic.size >= (0.9 * exact.size).toInt,
      s"recall ${semantic.size}/${exact.size}")
  }

  test("trainIvfCentroidsLocal is bit-identical to the DataFrame path (r11)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 6
    val rows = (0 until 300).map { i =>
      (i.toLong * 13 + 5, Array.fill(dim)(rng.nextGaussian()))
    }
    val viaDf = Similarity.trainIvfCentroids(
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("__id", "__sv"),
      "__id", "__sv", dim, nLists = 8, seed = 99L)
    val viaLocal = Similarity.trainIvfCentroidsLocal(
      rows.toIndexedSeq, dim, nLists = 8, seed = 99L)
    // exact equality, not a tolerance: the local path must replay the
    // xxhash64 sample order and the seeded Lloyd restarts verbatim —
    // any float drift means the two paths diverged structurally
    assert(viaLocal === viaDf)
    // and with a cap that actually truncates, the hash ORDER decides
    // which rows train — still identical
    val capDf = Similarity.trainIvfCentroids(
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("__id", "__sv"),
      "__id", "__sv", dim, nLists = 4, seed = 3L, sampleCap = 64)
    val capLocal = Similarity.trainIvfCentroidsLocal(
      rows.toIndexedSeq, dim, nLists = 4, seed = 3L, sampleCap = 64)
    assert(capLocal === capDf)
  }
}
