package graft.data

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** JSONL ingestion — the de-facto interchange format of training-data
  * pipelines (one JSON document per line, usually gzipped). Spark's json
  * source splits uncompressed JSONL by line across tasks; gzip makes each
  * file one task (non-splittable), which is why exports shard into many
  * bounded files ([[Export.writeSharded]]) rather than one big archive.
  */
class JsonlSpec extends SparkSpec {
  import spark.implicits._

  private def fingerprint(df: org.apache.spark.sql.DataFrame) = df
    .select(concat_ws("|", $"doc_id", md5($"text"), $"lang", $"source", $"n_chars").as("r"))
    .as[String].collect().sorted.toSeq

  test("documents round-trip through JSONL with schema pinned") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tempDir("graft_jsonl").toString + "/docs"
    docs.write.json(out)
    // schema pinned on read: inference would widen/reorder and is a full
    // extra pass at scale
    val back = spark.read.schema(docs.schema).json(out)
    assert(back.count() == 500)
    assert(fingerprint(back) == fingerprint(docs))
  }

  test("gzipped JSONL round-trips identically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tempDir("graft_jsonl_gz").toString + "/docs"
    docs.write.option("compression", "gzip").json(out)
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), s"expected .json.gz parts, got ${files.toSeq}")
    val back = spark.read.schema(docs.schema).json(out)
    assert(fingerprint(back) == fingerprint(docs))
  }

  test("corrupt lines are quarantined, not silently dropped") {
    val dir = tempDir("graft_jsonl_bad").toString
    val f = new java.io.PrintWriter(s"$dir/part-0.json")
    f.println("""{"doc_id": 1, "text": "good line"}""")
    f.println("""{"doc_id": oops not json""")
    f.println("""{"doc_id": 2, "text": "another good line"}""")
    f.close()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, _corrupt_record STRING")
    // Spark refuses filters that touch ONLY _corrupt_record on the raw
    // scan (the column exists only during parsing) — cache materializes
    // the parsed rows first, the documented pattern
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache()
    try {
      assert(back.where($"_corrupt_record".isNull).count() == 2)
      assert(back.where($"_corrupt_record".isNotNull).count() == 1)
    } finally back.unpersist()
  }
}
