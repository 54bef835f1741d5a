package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** GZIP compress/decompress kernels — REAL codecs (java.util.zip is in
  * the base JDK, unlike the image/audio libraries behind
  * `multimodal.StubCodec`), closing the compressed-TEXT half of the
  * compressed-formats gap: CommonCrawl-style ingestion meets gzip
  * constantly (`Content-Encoding: gzip` response payloads, `.gz` shard
  * files), and a curation pipeline wants to decode it as a map stage,
  * not a preprocessing detour.
  *
  * Decompression is INGESTION-GRADE fail-soft: malformed or truncated
  * streams yield NULL (the `JsonLines` corrupt-line quarantine
  * precedent — one bad record must not kill a 100 TB job), and output
  * is capped at `maxBytes` as a zip-bomb guard (a 10 KB bomb can
  * inflate to GBs; past the cap the row goes NULL rather than OOMing
  * the executor). Both kernels are codegen'd scalar expressions —
  * payload bytes never leave the task that read them.
  */
object Gzip {

  /** GZIP bytes of a string or binary column. Deterministic for a given
    * input WITHIN one JDK (fixed deflate level, no timestamps in the
    * header as written by `GZIPOutputStream`) — but deflate byte streams
    * are NOT a cross-engine/cross-implementation contract, so only the
    * decompress(compress(x)) == x roundtrip belongs in an oracle hash
    * (q93 pins exactly that), never the compressed bytes themselves.
    */
  def gzip(c: Column): Column = Kernels.gzip(c)

  /** Decompressed bytes of a GZIP binary column; NULL on malformed or
    * truncated input or when the output would exceed `maxBytes`.
    */
  def gunzip(c: Column, maxBytes: Int = 64 * 1024 * 1024): Column =
    Kernels.gunzip(c, maxBytes)

  /** Decompressed TEXT of a GZIP binary column (UTF-8 bytes to string —
    * Spark's binary-to-string cast is exactly `UTF8String.fromBytes`).
    */
  def gunzipText(c: Column, maxBytes: Int = 64 * 1024 * 1024): Column =
    gunzip(c, maxBytes).cast("string")

  /** Kernel: compress. Called from generated code. */
  def compress(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(64, bytes.length / 2))
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** Kernel: compress a string cell's UTF-8 bytes. */
  def compressStr(s: UTF8String): Array[Byte] = compress(s.getBytes)

  /** Kernel: decompress with quarantine semantics — null on malformed /
    * truncated / over-budget streams, never an exception. The stream is
    * closed on EVERY exit path (try/finally): GZIPInputStream owns a
    * native Inflater, and leaving it to finalization on the zip-bomb /
    * malformed paths churns native memory in a hot codegen loop over
    * many bad rows.
    */
  def decompress(bytes: Array[Byte], maxBytes: Int): Array[Byte] = {
    var in: GZIPInputStream = null
    try {
      in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new ByteArrayOutputStream(math.min(math.max(64, bytes.length * 3), maxBytes))
      val buf = new Array[Byte](8192)
      var total = 0
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        if (total > maxBytes) return null // zip-bomb guard
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case _: java.io.IOException => null // malformed or truncated stream
    } finally {
      if (in != null) {
        try in.close() // ends the Inflater, freeing native buffers now
        catch { case _: java.io.IOException => () }
      }
    }
  }
}
