package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Gzip

/** Real-FILE `.warc.gz` ingestion (round-7 verdict task #4): compose the
  * GZIP codec (L57) with the WARC parser (L53) over Spark's `binaryFile`
  * source, so an actual CommonCrawl-shaped shard directory — not a
  * parquet cell — is the pipeline's front door.
  *
  * Plan shape: `binaryFile` yields one row per shard file (path, bytes);
  * [[Gzip.gunzip]] inflates the member stream (codegen'd scalar kernel,
  * NULL-quarantine on malformed files + `maxBytes` zip-bomb guard);
  * [[Warc.parseRecords]] byte-walks the concatenated records. Everything
  * up to the caller's aggregation is a stateless map stage — a corrupt
  * shard becomes a NULL blob (quarantined count, never a dead job), and
  * payload bytes stay local to the task that read the file.
  *
  * 100 TB notes: `binaryFile` materializes ONE FILE PER ROW, so shard
  * size is the task granularity — CommonCrawl's ~1 GB .warc.gz shards
  * are exactly this shape (the source caps at 2 GB/file; `maxBytes`
  * bounds the inflated size). Parallelism = number of shards, the same
  * contract as every WARC processor. The streaming twin uses the file
  * stream source over the same directory, so exactly-once arrival of
  * new crawl shards rides the source's offset log (`StreamingIngestSpec`
  * proves kill/restart on this leg).
  */
object WarcFiles {

  /** The `binaryFile` source schema (fixed by Spark; stated explicitly
    * because the STREAMING file source requires a user-supplied schema).
    */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Batch read of the `*.warc.gz` shards in directory `dir`: (path,
    * blob) with `blob` the inflated WARC text — NULL when the file is not
    * valid gzip or inflates past `maxBytes` (quarantine, not failure).
    * Feed the result to [[graft.streaming.IngestPipeline.warcToCleanDocs]]
    * (blobCol = "blob") for the full WARC -> HTML -> gate chain. Shards
    * are selected with `pathGlobFilter`, not a glob path: Spark probes a
    * loaded path for a `_spark_metadata` directory, and a glob path makes
    * that probe log a stack trace on every read.
    */
  def readWarcGz(
      spark: SparkSession,
      dir: String,
      maxBytes: Int = 1 << 30): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz").load(dir)
      .select(col("path"),
        Gzip.gunzip(col("content"), maxBytes).cast("string").as("blob"))

  /** Streaming twin of [[readWarcGz]]: the file stream source watches the
    * directory and delivers each new shard exactly once (offset log).
    * Same output contract.
    */
  def streamWarcGz(
      spark: SparkSession,
      pathGlob: String,
      maxBytes: Int = 1 << 30): DataFrame =
    spark.readStream.format("binaryFile").schema(binaryFileSchema)
      .load(pathGlob)
      .select(col("path"),
        Gzip.gunzip(col("content"), maxBytes).cast("string").as("blob"))

  /** Driver-side shard writer for BOUNDED record sets (test fixtures,
    * small exports): groups `(sortKey, recordText)` rows into `nShards`
    * files by `sortKey % nShards`, concatenates each shard's records in
    * sortKey order, gzips, and writes `shard_<k>.warc.gz`. NOT a
    * distributed sink — the distributed export path stays
    * [[graft.data.Export]]; this exists so file-ingestion tests and
    * oracles can manufacture REAL .warc.gz inputs deterministically.
    */
  def writeShards(
      records: Seq[(Long, String)],
      dir: java.nio.file.Path,
      nShards: Int): Unit = {
    require(nShards > 0)
    java.nio.file.Files.createDirectories(dir)
    // floorMod: Scala '%' is signed, and a negative sortKey would write
    // 'shard_-N.warc.gz' — which shard-number parses downstream
    // (regexp_extract 'shard_([0-9]+)') silently read as NULL
    records.groupBy(r => java.lang.Math.floorMod(r._1, nShards.toLong)).foreach { case (shard, rows) =>
      val body = rows.sortBy(_._1).map(_._2).mkString("")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(body)
      gz.close()
      java.nio.file.Files.write(dir.resolve(s"shard_$shard.warc.gz"), out.toByteArray)
    }
  }

  /** One serialized WARC response record (CRLF framing, octet-accurate
    * Content-Length) — the record constructor shared by the fixture
    * writer and the q90/q91 in-plan blob synthesis so file-based and
    * cell-based ingestion tests agree byte-for-byte.
    */
  def responseRecord(targetUri: String, payload: String): String = {
    val octets = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $targetUri\r\n" +
      s"Content-Length: $octets\r\n\r\n$payload\r\n\r\n"
  }
}
