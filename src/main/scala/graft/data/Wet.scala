package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WET-format ingestion (SURVEY+ L85) — CommonCrawl's pre-extracted
  * plain-text sibling of WARC, and the format most corpus users
  * actually start from (the `wet/` directory of every crawl): a WET
  * file IS a WARC file whose records are `WARC-Type: conversion`
  * records carrying the extracted text of each page (plus one leading
  * `warcinfo` record per file), so the reader reuses [[Warc
  * .parseRecords]]'s byte-accurate framing verbatim — no new parser.
  *
  * [[docs]] is the whole reader: explode the parsed records, keep the
  * conversion records (warcinfo and anything else is metadata, not
  * corpus), and the payload IS the document text — where WARC ingestion
  * continues into gunzip -> HTML extraction -> gate, WET ingestion is
  * done right here. Plan shape: one stateless map stage over (path,
  * blob); payload bytes never leave the task that read the file, and
  * parallelism = shard count (the CommonCrawl contract, same as
  * [[WarcFiles]]).
  */
object Wet {

  /** Batch read of the `*.warc.gz` shards in directory `dir`: (path,
    * blob) — the [[WarcFiles.readWarcGz]] leg (WET is gzipped WARC
    * framing).
    */
  def readWetGz(
      spark: SparkSession,
      dir: String,
      maxBytes: Int = 1 << 30): DataFrame =
    WarcFiles.readWarcGz(spark, dir, maxBytes)

  /** Streaming twin — the file stream source over the same directory
    * (exactly-once arrival of new crawl shards via the offset log).
    */
  def streamWetGz(
      spark: SparkSession,
      pathGlob: String,
      maxBytes: Int = 1 << 30): DataFrame =
    WarcFiles.streamWarcGz(spark, pathGlob, maxBytes)

  /** The documents of WET blobs: one row per `conversion` record —
    * (target_uri, n_chars, text). warcinfo (and any other record type)
    * is dropped: file metadata, not corpus.
    */
  def docs(blobs: DataFrame, blobCol: String = "blob"): DataFrame =
    blobs.select(explode(Warc.parseRecords(col(blobCol))).as("r"))
      .where(col("r.warc_type") === "conversion")
      .select(col("r.target_uri").as("target_uri"),
        length(col("r.payload")).as("n_chars"),
        col("r.payload").as("text"))

  /** One serialized WET conversion record (CRLF framing, octet-accurate
    * Content-Length — the [[WarcFiles.responseRecord]] twin at
    * `WARC-Type: conversion` / `Content-Type: text/plain`).
    */
  def conversionRecord(targetUri: String, text: String): String = {
    val octets = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $targetUri\r\n" +
      s"Content-Type: text/plain\r\nContent-Length: $octets\r\n\r\n$text\r\n\r\n"
  }

  /** The leading `warcinfo` record every real WET file carries — the
    * reader must SKIP it, so fixtures plant one per shard.
    */
  def warcinfoRecord(filename: String): String = {
    val body = "software: graft\r\nformat: WET File Format 1.0\r\n"
    val octets = body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Filename: $filename\r\n" +
      s"Content-Length: $octets\r\n\r\n$body\r\n\r\n"
  }
}
