package graft.streaming

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** The corpus-cleaning surface is stateless column expressions, so the
  * same code must run unchanged over a stream — this is the continuous-
  * ingestion shape of an LLM data pipeline (clean + redact + score at
  * arrival time, dedup within a watermark downstream).
  */
class StreamingCleanSpec extends SparkSpec {

  test("quality score + PII redaction + lang guess run over a MemoryStream unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val ckpt = tempDir("graft_clean_ckpt").toString
    val cleaned = source.toDS().toDF("doc_id", "text")
      .select(col("doc_id"),
        TextFunctions.redactPii(col("text")).as("clean"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val q = cleaned.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_cleaned")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      source.addData(
        (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
        (2L, "contact me at spam.bot@evil.example.com or 10.1.2.3 thanks"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM t_cleaned ORDER BY doc_id").collect()
      assert(rows.length === 2)
      assert(rows(0).getDouble(2) === 1.0) // good text scores 1.0
      assert(rows(1).getString(1).contains("<EMAIL>"))
      assert(rows(1).getString(1).contains("<IP>"))
      assert(!rows(1).getString(1).contains("evil.example.com"))
    } finally q.stop()
  }
}
