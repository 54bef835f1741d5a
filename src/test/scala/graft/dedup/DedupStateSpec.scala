package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = tempDir(s"graft_$name").toString

  // crawl 1 (ids 0..9) and crawl 2 (ids 100..109) with duplicates both
  // WITHIN crawl 2 and ACROSS the crawls (same normalized content)
  private def crawl1 = (0L until 10L)
    .map(i => (i, s"doc number ${i % 6} body")).toDF("doc_id", "text")
  private def crawl2 = (100L until 110L)
    .map(i => (i, s"doc number ${i % 8} body")).toDF("doc_id", "text")

  test("incremental dedup vs state == batch dedup over the union") {
    val state = DedupState.fingerprintState(crawl1, "text")
    val incr = Dedup.exact(crawl1, "text", "doc_id")
      .unionByName(DedupState.exactVsState(crawl2, "text", "doc_id", state))
      .select("doc_id").as[Long].collect().sorted
    val batch = Dedup.exact(crawl1.unionByName(crawl2), "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(incr.nonEmpty)
    assert(incr.toSeq === batch.toSeq)
  }

  test("fingerprint state survives a parquet roundtrip; merge is idempotent") {
    val dir = tmpDir("fpstate")
    val state = DedupState.fingerprintState(crawl1, "text")
    DedupState.saveFingerprintState(state, dir)
    val loaded = DedupState.loadFingerprintState(spark, dir)
    assert(loaded.as[String].collect().sorted.toSeq ===
      state.as[String].collect().sorted.toSeq)
    // results against the LOADED state match results against the live one
    val a = DedupState.exactVsState(crawl2, "text", "doc_id", state)
      .select("doc_id").as[Long].collect().sorted
    val b = DedupState.exactVsState(crawl2, "text", "doc_id", loaded)
      .select("doc_id").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq)
    // merging a state with itself changes nothing
    val merged = DedupState.mergeFingerprintStates(loaded, state)
    assert(merged.count() === state.count())
    // rolling crawl 2 in == state of the union
    val rolled = DedupState.mergeFingerprintStates(
      state, DedupState.fingerprintState(crawl2, "text"))
    val direct = DedupState.fingerprintState(crawl1.unionByName(crawl2), "text")
    assert(rolled.as[String].collect().sorted.toSeq ===
      direct.as[String].collect().sorted.toSeq)
  }

  test("null texts pass through exactVsState un-deduped") {
    val state = DedupState.fingerprintState(crawl1, "text")
    val nulls = Seq((200L, null.asInstanceOf[String]), (201L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = DedupState.exactVsState(nulls, "text", "doc_id", state)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(200L, 201L))
  }

  test("malformed state artifacts fail fast") {
    intercept[IllegalArgumentException] {
      DedupState.exactVsState(crawl2, "text", "doc_id",
        Seq(("x", 1)).toDF("fingerprint", "extra"))
    }
    intercept[IllegalArgumentException] {
      DedupState.saveFingerprintState(Seq(1L).toDF("fingerprint"), tmpDir("bad"))
    }
  }

  test("streamingExactDedup vs prior state drops cross-crawl dups; nulls pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stateDir = tmpDir("stream_state")
    DedupState.saveFingerprintState(DedupState.fingerprintState(crawl1, "text"), stateDir)
    val state = DedupState.loadFingerprintState(spark, stateDir)
    val source = MemoryStream[(Long, String, Long)]
    val ckpt = tmpDir("stream_ckpt")
    val t0 = 1000000000L
    val stream = source.toDF().toDF("doc_id", "text", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
    val q = Dedup.streamingExactDedup(stream, "text", "ts", "10 minutes", Some(state))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_state_dedup")
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData(
        (100L, "doc number 2 body", t0),      // in crawl-1 state -> dropped
        (101L, "brand new stream doc", t0 + 1),
        (102L, "BRAND new stream doc!", t0 + 2), // in-stream dup of 101 -> dropped
        (103L, null.asInstanceOf[String], t0 + 3)) // null text passes
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM t_state_dedup")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(101L, 103L))
    } finally q.stop()
  }

  test("kmv state roundtrip: merge(loaded c1, sketch c2) == direct sketch of the union") {
    import graft.sketch.Kmv
    val k = 16
    def sk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("text"), Kmv.hash60(col("text")).as("h"))
      .groupBy(lit("g").as("group")).agg(Kmv.sketch(col("h"), k).as("sk"))
    val dir = tmpDir("kmvstate")
    DedupState.saveKmvState(sk(crawl1), k, dir)
    val loaded = DedupState.loadKmvState(spark, dir, k)
    val merged = loaded.unionByName(sk(crawl2))
      .groupBy(col("group")).agg(Kmv.sketch(col("sk"), k).as("sk"))
      .select(col("sk")).as[Seq[Long]].collect()(0)
    val direct = sk(crawl1.unionByName(crawl2))
      .select(col("sk")).as[Seq[Long]].collect()(0)
    assert(merged === direct, "k-smallest of the union must survive the artifact")
    intercept[IllegalArgumentException] { DedupState.loadKmvState(spark, dir, 8) }
  }

  test("hll state roundtrip: merge(loaded c1, sketch c2) == direct sketch of the union") {
    import graft.sketch.{Hll, Kmv}
    val p = 11
    def sk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("text"), Kmv.hash60(col("text")).as("h"))
      .groupBy(lit("g").as("group")).agg(Hll.sketch(col("h"), p).as("reg"))
    val dir = tmpDir("hllstate")
    DedupState.saveHllState(sk(crawl1), p, dir)
    val loaded = DedupState.loadHllState(spark, dir, p)
    val merged = loaded.select(col("group"), col("reg"))
      .unionByName(sk(crawl2))
      .groupBy(col("group")).agg(Hll.mergeSketches(col("reg"), p).as("reg"))
      .select(Hll.checksum(col("reg")).as("ck")).as[Long].collect()
    val direct = sk(crawl1.unionByName(crawl2))
      .select(Hll.checksum(col("reg")).as("ck")).as[Long].collect()
    assert(merged.toSeq === direct.toSeq, "register rollup through the artifact must be bit-identical")
    // precision mismatch refuses to load
    intercept[IllegalArgumentException] { DedupState.loadHllState(spark, dir, 10) }
  }
}
