package graft.data

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class WarcSpec extends SparkSpec {
  import spark.implicits._

  private def parse(blob: String): Seq[(String, String, Long, String)] = {
    Seq(blob).toDF("b")
      .select(explode(Warc.parseRecords(col("b"))).as("r"))
      .select("r.warc_type", "r.target_uri", "r.content_length", "r.payload")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
  }

  private def rec(typ: String, uri: String, payload: String): String = {
    val len = payload.getBytes("UTF-8").length
    s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\nContent-Length: $len\r\n\r\n$payload\r\n\r\n"
  }

  test("multi-record blob parses in order with exact payloads") {
    val blob = rec("response", "https://example.org/a", "hello world") +
      rec("metadata", "https://example.org/b", "meta body")
    assert(parse(blob) === Seq(
      ("response", "https://example.org/a", 11L, "hello world"),
      ("metadata", "https://example.org/b", 9L, "meta body")))
  }

  test("Content-Length counts OCTETS: multi-byte payloads slice correctly") {
    // "héllo😀" = 1+2+3*1+4 = 10 bytes, 6 code points
    val p = "héllo😀"
    assert(p.getBytes("UTF-8").length === 10)
    val blob = rec("response", "u", p) + rec("response", "v", "next")
    assert(parse(blob) === Seq(
      ("response", "u", 10L, p), ("response", "v", 4L, "next")))
  }

  test("payload containing CRLF blank lines does not break record framing") {
    val tricky = "line1\r\n\r\nWARC/1.0 fake\r\n"
    val blob = rec("response", "u", tricky) + rec("metadata", "v", "x")
    assert(parse(blob) === Seq(
      ("response", "u", tricky.getBytes("UTF-8").length.toLong, tricky),
      ("metadata", "v", 1L, "x")))
  }

  test("strict-prefix: corrupt tail yields the valid prefix, never wrong records") {
    val good = rec("response", "u", "ok")
    // truncated payload
    assert(parse(good + "WARC/1.0\r\nContent-Length: 100\r\n\r\nshort")
      .map(_._4) === Seq("ok"))
    // garbage where a version line was expected
    assert(parse(good + "NOT-A-RECORD").map(_._4) === Seq("ok"))
    // missing Content-Length
    assert(parse(good + "WARC/1.0\r\nWARC-Type: x\r\n\r\nbody").map(_._4) === Seq("ok"))
    // unparseable Content-Length
    assert(parse(good + "WARC/1.0\r\nContent-Length: abc\r\n\r\nbody").map(_._4) === Seq("ok"))
  }

  test("the five adversarial mutation classes (fz_warc_corrupt's pool, pinned)") {
    val good = rec("response", "u", "ok")
    // 1. truncated payload: CL overshoots the remaining bytes — no record
    assert(parse(good + "WARC/1.0\r\nContent-Length: 12\r\n\r\npayload")
      .map(_._4) === Seq("ok"))
    // 2. off-by-one CL: the record IS emitted (CL is authoritative) with
    //    one swallowed separator byte, then parsing fail-stops
    assert(parse(good + "WARC/1.0\r\nContent-Length: 8\r\n\r\npayload\r\n\r\n" + good)
      .map(_._4) === Seq("ok", "payload\r"))
    // 3. LF-only line endings: the version line never terminates — nothing
    assert(parse(good + "WARC/1.0\nContent-Length: 2\n\nhi").map(_._4) === Seq("ok"))
    // 4. garbage between records: a fully VALID record follows the noise,
    //    but strict-prefix means no resync — it is lost
    assert(parse(good + "x55aa noise\r\n" + good).map(_._4) === Seq("ok"))
    // 5. a complete fake record EMBEDDED in a declared payload: consumed
    //    whole, never re-parsed as a record
    val decoy = "A\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz"
    assert(parse(good + rec("response", "u2", decoy)).map(_._4) === Seq("ok", decoy))
  }

  test("missing optional headers are NULL; unknown headers ignored; keys case-insensitive") {
    val blob = "WARC/1.0\r\ncontent-length: 3\r\nX-Custom: ignored\r\n\r\nabc\r\n\r\n"
    val rows = Seq(blob).toDF("b")
      .select(explode(Warc.parseRecords(col("b"))).as("r"))
      .select("r.warc_type", "r.target_uri", "r.content_length", "r.payload")
      .collect()
    assert(rows.length === 1)
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(0).getLong(2) === 3L && rows(0).getString(3) === "abc")
  }

  test("empty payload, empty blob, NULL input") {
    assert(parse(rec("response", "u", "")) === Seq(("response", "u", 0L, "")))
    assert(parse("") === Seq.empty)
    val r = Seq((1, null.asInstanceOf[String])).toDF("id", "b")
      .select(Warc.parseRecords(col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("binary input parses identically to string input") {
    val blob = rec("response", "https://example.org/a", "payload bytes")
    val viaBin = Seq(blob.getBytes("UTF-8")).toDF("b")
      .select(explode(Warc.parseRecords(col("b"))).as("r"))
      .select("r.payload").collect().map(_.getString(0)).toSeq
    assert(viaBin === Seq("payload bytes"))
  }

  test("writeShards: negative sort keys land in a non-negative shard file") {
    val dir = tempDir("graft_wshard")
    graft.data.WarcFiles.writeShards(
      Seq(-3L -> rec("response", "u-3", "a"), 2L -> rec("response", "u2", "b")),
      dir, nShards = 4)
    val names = {
      val st = java.nio.file.Files.list(dir)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toList.sorted
      finally st.close()
    }
    // floorMod(-3, 4) = 1 — never 'shard_-3', which the downstream
    // shard-number regexp 'shard_([0-9]+)' would read as NULL
    assert(names === List("shard_1.warc.gz", "shard_2.warc.gz"))
  }
}
