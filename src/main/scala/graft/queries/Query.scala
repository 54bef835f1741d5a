package graft
package queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One build of a query over one data directory: the frame, and the DuckDB
  * SQL that returns the same rows from that directory's tables. The oracle
  * is None only where nothing pins the query at that scale (a golden oracle
  * is committed per scale, see [[GoldenOracles]]).
  */
final case class Built(frame: DataFrame, oracle: Option[String])

/** One driver-contract query: its name and its build. A query whose oracle
  * replays constants it trained (centroids, codebooks, LM models, LSH
  * bit-widths) returns that oracle from the same build that trained them,
  * so the oracle always describes the frame it comes with.
  */
final case class Query(name: String, build: (SparkSession, String) => Built)

object Query {

  /** A query whose oracle is the same SQL over every data directory. The
    * SQL is evaluated at each build, so it may use values its area object
    * declares after its query list.
    */
  def fixed(name: String, frame: (SparkSession, String) => DataFrame,
      oracle: => String): Query =
    Query(name, (s, dir) => Built(frame(s, dir), Some(oracle)))

  /** A query pinned by the golden VALUES oracle committed for the data
    * directory's scale: its output is JVM-hash-specific, so no
    * engine-independent SQL reproduces it.
    */
  def golden(name: String, frame: (SparkSession, String) => DataFrame): Query =
    Query(name, (s, dir) => Built(frame(s, dir), GoldenOracles.forDir(dir, name)))
}

/** Every driver-contract query, declared once in its area's object. */
object Queries {

  /** All queries in name order. */
  val all: Seq[Query] = {
    val qs = Seq(RelationalQueries.all, FairnessQueries.all, DedupQueries.all,
      TextQueries.all, LmQueries.all, MixingQueries.all, SimilarityQueries.all,
      IngestQueries.all, MultimodalQueries.all, CapstoneQueries.all).flatten
    val dups = qs.groupBy(_.name).collect { case (n, d) if d.size > 1 => n }
    require(dups.isEmpty, s"queries declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.sortBy(_.name)
  }

  private lazy val byName: Map[String, Query] = all.map(q => q.name -> q).toMap

  /** The queries with exactly these names, in name order. Throws
    * IllegalArgumentException naming every name no query has.
    */
  def select(names: Seq[String]): Seq[Query] = {
    val unknown = names.filterNot(byName.contains).distinct
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    names.distinct.map(byName).sortBy(_.name)
  }
}

/** Scratch directories for the query builders that write fixture files
  * (WARC/WET shards, JSONL, model and state artifacts) and read them back
  * lazily. Each directory lives under one per-JVM root; [[release]] deletes
  * the directories handed out so far ([[graft.Harness.eachQuery]] calls it
  * after every query), and a shutdown hook removes the root.
  */
object Scratch {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_queries")
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(r)))
    r
  }

  private val handedOut = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh, empty directory. */
  def dir(): Path = {
    val d = Files.createTempDirectory(root, "q")
    handedOut.add(d)
    d
  }

  /** Deletes every directory [[dir]] handed out since the last release. */
  def release(): Unit =
    Iterator.continually(handedOut.poll()).takeWhile(_ != null).foreach(delete)

  private def delete(p: Path): Unit = {
    val kids = p.toFile.listFiles()
    if (kids != null) kids.foreach(k => delete(k.toPath))
    p.toFile.delete(): Unit
  }
}
