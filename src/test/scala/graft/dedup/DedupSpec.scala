package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "The quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1 (mod case)
      (3L, "The quick brown fox jumps over the lazy dog near the river bank todaX"), // near dup of 1
      (4L, "Completely unrelated content about distributed query engines and shuffles"),
      (5L, "Totally different again: language identification on short noisy strings")
    ).toDF("doc_id", "text")
  }

  test("bandBucket stays in lockstep with the Catalyst band key") {
    // canonical-band emission silently DROPS pairs if the JVM twin ever
    // drifts from the Catalyst xxhash64 band key — enforce bit-equality
    // on random signatures across every band
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rowsPerBand = 4
    val bands = 8
    val sigs = Seq.fill(50)(Seq.fill(bands * rowsPerBand)(rnd.nextLong()))
    val catalyst = sigs.toDF("sig")
      .select(col("sig"), Dedup.bandKeys(bands, rowsPerBand).as("bk"))
      .select(col("sig"), col("bk.band"), col("bk.bucket"))
      .collect()
    assert(catalyst.length === 50 * bands)
    catalyst.foreach { r =>
      val sig = r.getSeq[Long](0)
      assert(Dedup.bandBucket(sig, r.getInt(1), rowsPerBand) === r.getLong(2),
        s"drift at band ${r.getInt(1)}")
    }
  }

  test("streamingNearDupPairs emits each pair exactly once (canonical band)") {
    // identical docs collide in EVERY band — the batch fallback runs the
    // same grouped logic, so one emitted row proves the gate
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again in the morning light"
    val df = Seq((1L, base, 1000000000L), (2L, base, 1000000100L))
      .toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val rows = Dedup.streamingNearDupPairs(df, "text", "doc_id", "ts",
      delayMs = 600000L, threshold = 0.8).collect()
    assert(rows.length === 1, s"expected one canonical emission, got ${rows.toSeq}")
    assert(rows(0).id_a === 1L && rows(0).id_b === 2L && rows(0).est_jaccard === 1.0)
  }

  test("exact dedup keeps one row per fingerprint, smallest id") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 4L, 5L))
  }

  test("exact dedup: NULL texts pass through; punctuation-only texts dedupe") {
    import spark.implicits._
    val df = Seq(
      (1L, "!!!"), (2L, "###"),          // both normalize to "" -> one kept
      (3L, null.asInstanceOf[String]),   // nulls are NOT duplicates of
      (4L, null.asInstanceOf[String])    // each other -> both kept
    ).toDF("doc_id", "text")
    val ids = Dedup.exact(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 4L))
  }

  test("exact dedup: a group whose ids are all null keeps a real row") {
    import spark.implicits._
    val df = Seq(
      (None: Option[Long], "x y"), (None: Option[Long], "x y"),
      (Some(2L), "x y z"), (None: Option[Long], "x y z")
    ).toDF("doc_id", "text")
    val rows = Dedup.exact(df, "text", "doc_id").collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    // the all-null group keeps its text; a null id never beats a real one
    assert(rows === Set((None, "x y"), (Some(2L), "x y z")))
  }

  Seq("a.b" -> "a dot", "a`b" -> "a backtick").foreach { case (name, what) =>
    test(s"exact dedup: column names holding $what") {
      import spark.implicits._
      val df = Seq((1L, "same text", "p"), (2L, "same text", "q"), (3L, "other", "r"))
        .toDF("doc_id", "text", name)
      val out = Dedup.exact(df, "text", "doc_id")
      assert(out.columns.toSeq === Seq("doc_id", "text", name))
      val rows = out.collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(rows === Set((1L, "p"), (3L, "r")))
      // the same name shape on the id and text columns themselves
      val keyed = df.toDF(s"id$name", s"text$name", "v")
      val ids = Dedup.exact(keyed, s"text$name", s"id$name")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L))
    }
  }

  test("exactGroups reports duplicate-set sizes") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
      .map(r => r.getLong(2) -> r.getLong(1)).toMap // keep_id -> n_docs
    assert(g(1L) === 2L)
    assert(g(4L) === 1L)
  }

  test("streamingExactDedup drops in-watermark duplicates across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, Long)]
    val ckpt = tempDir("graft_dedup_ckpt").toString
    val t0 = 1000000000L
    val stream = source.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = Dedup.streamingExactDedup(stream, "text", "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_dedup")
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData((1L, "hello world", t0), (2L, "other text", t0 + 10))
      q.processAllAvailable()
      // same fingerprint arriving in a later batch inside the watermark: dropped
      source.addData((3L, "HELLO   world!", t0 + 1000), (4L, "fresh content", t0 + 1001))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM t_dedup").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streamingNearDupPairs pairs near-dups across micro-batches within the horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String, Long)]
    val ckpt = tempDir("graft_snd_ckpt").toString
    val t0 = 1000000000L
    val base = "the quick brown fox jumps over the lazy dog again and again in the morning light"
    val stream = source.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = Dedup.streamingNearDupPairs(stream, "text", "doc_id", "ts",
        delayMs = 600000L, threshold = 0.8)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_snd")
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData((1L, base, t0), (2L, "completely different content about spark plans", t0 + 10))
      q.processAllAvailable()
      // identical doc in a LATER micro-batch inside the horizon: pair found
      // via state (proves cross-batch matching, not within-batch)
      source.addData((3L, base, t0 + 60000))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT id_a, id_b, est_jaccard FROM t_snd").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(pairs.contains((1L, 3L)), s"expected (1,3) in ${pairs.keySet}")
      assert(pairs((1L, 3L)) === 1.0)
      assert(!pairs.keySet.exists { case (a, b) => a == 2L || b == 2L },
        "unrelated doc must not pair")
      // far beyond the horizon: watermark advances, old state evicts, the
      // same content pairs with nothing
      source.addData((9L, "advance the watermark far beyond everything here", t0 + 100 * 600000L))
      q.processAllAvailable()
      source.addData((4L, base, t0 + 101 * 600000L))
      q.processAllAvailable()
      val after = spark.sql("SELECT id_a, id_b FROM t_snd").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.exists { case (a, b) => b == 4L || a == 4L },
        s"doc 4 arrived after eviction and must not pair, got $after")
    } finally q.stop()
  }

  test("streamingNearDupPairs batch fallback pairs within-batch near-dups") {
    val base = "the quick brown fox jumps over the lazy dog again and again in the morning light"
    import spark.implicits._
    val df = Seq(
      (1L, base, 1000000000L),
      (2L, base + " extra", 1000000100L),
      (3L, "unrelated words entirely disjoint from anything else written here today", 1000000200L))
      .toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val pairs = Dedup.streamingNearDupPairs(df, "text", "doc_id", "ts",
        delayMs = 600000L, threshold = 0.5)
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("streamingExactDedup batch fallback dedups by fingerprint") {
    val out = Dedup.streamingExactDedup(
      docs.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      "text", "ts", "10 minutes")
    assert(out.count() === 4) // docs 1 and 2 share a fingerprint
  }

  test("minhash LSH surfaces the near-duplicate pair and not unrelated docs") {
    val pairs = Dedup.minhashCandidatePairs(docs, "text", "doc_id",
      shingleSize = 5, bands = 16, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("nearDuplicatePairs verifies candidates with exact Jaccard") {
    val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
      threshold = 0.8, shingleSize = 5, bands = 16, rowsPerBand = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) === 1.0) // identical after normalization
    assert(pairs.keySet.forall { case (a, b) => a < b })
    assert(!pairs.contains((4L, 5L)))
  }

  test("simhashPairs finds near dups within the Hamming ball") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical after lowercasing -> distance 0
    assert(!pairs.contains((4L, 5L)))
  }

  test("hammingPairs64: combo20 is complete at d <= 3 and matches block4 exactly") {
    import spark.implicits._
    // planted corpus: pair (2i, 2i+1) at exact Hamming distance i % 5
    // (distinct flip positions -> exact distance). d <= 3 pairs must
    // surface under BOTH complete schemes; d = 4 pairs must not; random
    // cross-pairs sit at distance ~32 and can't collide within d=3.
    val rng = new scala.util.Random(42)
    val rows = (0 until 200).flatMap { i =>
      val base = rng.nextLong()
      val d = i % 5
      val flips = rng.shuffle((0 until 64).toList).take(d)
      val twin = flips.foldLeft(base)((h, b) => h ^ (1L << b))
      Seq((2L * i, base), (2L * i + 1, twin))
    }.toDF("id", "h")
    val expected = (0 until 200).collect {
      case i if i % 5 <= 3 => (2L * i, 2L * i + 1)
    }.toSet
    def run(scheme: String) =
      Dedup.hammingPairs64(rows, "id", "h", maxHamming = 3,
          maxBucketSize = 1000, blockScheme = scheme)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val b4 = run("block4")
    val c20 = run("combo20")
    assert(b4.keySet === expected)
    assert(c20 === b4) // same pairs AND same hamming values
    // reported distance is the planted flip count
    expected.foreach { case p @ (a, _) =>
      assert(c20(p) === ((a / 2) % 5).toInt)
    }
    // auto (small n) routes block4 and must agree too
    assert(run("auto") === b4)
  }

  test("hammingPairs64: combo20 refuses maxHamming > 3") {
    import spark.implicits._
    val df = Seq((1L, 0L), (2L, 1L)).toDF("id", "h")
    intercept[IllegalArgumentException] {
      Dedup.hammingPairs64(df, "id", "h", maxHamming = 4, blockScheme = "combo20")
    }
  }

  test("winnowing candidate pairs surface near-dups, not unrelated docs") {
    val pairs = Dedup.winnowingCandidatePairs(docs, "text", "doc_id", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("winnowing guarantee: any shared substring of length >= k+w-1 yields a shared fingerprint") {
    import spark.implicits._
    // MOSS property (Schleimer et al. 2003): with shingle size k and window
    // w, two documents sharing any substring of length k+w-1 share at least
    // one selected fingerprint. Seeded sweep over random placements.
    val k = 5; val w = 4
    val rng = new scala.util.Random(17)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def randStr(n: Int) = Seq.fill(n)(alphabet(rng.nextInt(26))).mkString
    val shared = randStr(k + w - 1) // minimal guaranteed length
    val docs = (0 until 10).map { i =>
      // embed the shared run at a random position inside unrelated noise
      val pre = randStr(10 + rng.nextInt(30))
      val post = randStr(10 + rng.nextInt(30))
      (i.toLong, pre + shared + post)
    }.toDF("doc_id", "text")
    val pairs = Dedup.winnowingCandidatePairs(docs, "text", "doc_id",
      shingleSize = k, window = w, minShared = 1, maxBucketSize = 1000)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair of the 10 docs shares the substring -> all 45 pairs appear
    val all = (for (a <- 0 until 10; b <- a + 1 until 10) yield (a.toLong, b.toLong)).toSet
    assert(pairs === all)
  }

  test("jaccardOfPair computes exact pairwise similarity") {
    val j = Dedup.jaccardOfPair(docs.where(col("doc_id").isin(1, 2)), "text", "doc_id")
      .collect()(0).getDouble(2)
    assert(j === 1.0)
  }

  test("unpersistCaches drains the candidate-pair caches (session hygiene)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val d = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k m"),
      (3L, "z y x w v u t s r q p o")).toDF("doc_id", "text")
    // baseline snapshot: other suites sharing this session may hold
    // their own (untracked) checkpoint blocks — only assert on what
    // THESE operators add and what the drain removes
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    // materialize all three caching operators (candidate frames are
    // tracked eager localCheckpoints since r12 — they register as
    // persistent RDD blocks, not CacheManager entries)
    Dedup.jaccardPairs(d, "doc_id", "text", n = 2, blockN = 3).collect()
    Dedup.containmentPairs(d, "doc_id", "text", n = 2, blockN = 3).collect()
    Dedup.nearDuplicatePairs(d, "text", "doc_id", threshold = 0.5, shingleSize = 2).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- preexisting).nonEmpty,
      "the candidate checkpoints should hold blocks while pending")
    graft.etl.CacheTracker.unpersistCaches(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "unpersistCaches must leave no session-lifetime cache entries behind")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- preexisting).isEmpty,
      "unpersistCaches must release every tracked checkpoint's blocks")
  }
}
