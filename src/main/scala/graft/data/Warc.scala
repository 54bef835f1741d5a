package graft.data

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC (Web ARChive, ISO 28500) record parsing — the ingestion format
  * of CommonCrawl-shaped web corpora, closing the front of the pipeline
  * this engine already covers end to end (HTML -> text -> quality gate
  * -> dedup -> export).
  *
  * [[Warc.parseRecords]] takes ONE string/binary cell holding one or
  * more concatenated WARC records and returns the parsed record array —
  * a compiled single-pass kernel (map stage, zero shuffle; payloads
  * never leave the row until the caller explodes them). The parse is
  * byte-accurate: `Content-Length` counts OCTETS, so multi-byte UTF-8
  * payloads slice correctly (the classic WARC-consumer bug).
  *
  * Parse contract (strict-prefix, fail-stop):
  *  - records start at a `WARC/` version line; header lines (`Key:
  *    value`, keys case-insensitive) run until the first blank line;
  *    exactly `Content-Length` payload bytes follow, then the
  *    record-terminating blank line(s);
  *  - parsing stops at the first malformed record (missing/invalid
  *    Content-Length, truncated payload, or garbage where a version
  *    line was expected) — the VALID PREFIX is returned, so a corrupt
  *    tail yields fewer records, never wrong ones;
  *  - missing `WARC-Type`/`WARC-Target-URI` headers yield NULL fields
  *    (the record itself still parses);
  *  - NULL input -> NULL.
  */
object Warc {

  val recordType: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Parsed record array of a string/binary WARC cell. */
  def parseRecords(c: Column): Column = graft.functions.Kernels.warcParse(c)

  // hoisted record-boundary magic: allocated once, not per record
  private val WarcMagic: Array[Byte] =
    "WARC/".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** The kernel: byte-walk over the raw cell. Called from generated code. */
  def parse(bytes: Array[Byte]): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var pos = 0
    val n = bytes.length

    def startsWithMagic(p: Int): Boolean = {
      if (p + WarcMagic.length > n) return false
      var i = 0
      while (i < WarcMagic.length) {
        if (bytes(p + i) != WarcMagic(i)) return false
        i += 1
      }
      true
    }
    // index just past the next CRLF, or -1
    def lineEnd(p: Int): Int = {
      var i = p
      while (i + 1 < n) {
        if (bytes(i) == '\r' && bytes(i + 1) == '\n') return i
        i += 1
      }
      -1
    }

    var done = false
    while (!done) {
      // skip inter-record CRLF runs
      while (pos + 1 < n && bytes(pos) == '\r' && bytes(pos + 1) == '\n') pos += 2
      if (pos >= n || !startsWithMagic(pos)) done = true
      else {
        val verEnd = lineEnd(pos)
        if (verEnd < 0) done = true
        else {
          pos = verEnd + 2
          var warcType: UTF8String = null
          var targetUri: UTF8String = null
          var contentLength = -1L
          var headersOk = true
          var headersDone = false
          while (!headersDone && headersOk) {
            if (pos + 1 < n && bytes(pos) == '\r' && bytes(pos + 1) == '\n') {
              pos += 2 // blank line: headers end
              headersDone = true
            } else {
              val he = lineEnd(pos)
              if (he < 0) headersOk = false
              else {
                val line = new String(bytes, pos, he - pos,
                  java.nio.charset.StandardCharsets.UTF_8)
                val colon = line.indexOf(':')
                if (colon > 0) {
                  val key = line.substring(0, colon).trim
                    .toLowerCase(java.util.Locale.ROOT)
                  val value = line.substring(colon + 1).trim
                  key match {
                    case "warc-type" => warcType = UTF8String.fromString(value)
                    case "warc-target-uri" => targetUri = UTF8String.fromString(value)
                    case "content-length" =>
                      contentLength =
                        try value.toLong
                        catch { case _: NumberFormatException => -1L }
                    case _ => ()
                  }
                }
                pos = he + 2
              }
            }
          }
          if (!headersOk || contentLength < 0 || pos + contentLength > n) done = true
          else {
            val payload = UTF8String.fromBytes(bytes, pos, contentLength.toInt)
            pos += contentLength.toInt
            val row = new GenericInternalRow(4)
            row.update(0, warcType)
            row.update(1, targetUri)
            row.setLong(2, contentLength)
            row.update(3, payload)
            out += row
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  def parseStr(s: UTF8String): ArrayData = parse(s.getBytes)
}
