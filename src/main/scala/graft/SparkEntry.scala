package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Queries

/** Driver contract: every query declared in [[graft.queries]], as a frame
  * builder keyed by name, and the DuckDB oracle of each query built so far.
  * Doubles are rounded in BOTH engines so hash comparison is stable across
  * summation orders; every result is deterministically ordered.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** The oracle of each query's latest build in this JVM. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { q =>
      q.name -> { (s: SparkSession, dir: String) =>
        val b = q.build(s, dir)
        b.oracle match {
          case Some(sql) => built.put(q.name, sql)
          case None => built.remove(q.name)
        }
        b.frame
      }
    }.toMap

  /** The DuckDB oracle SQL of every query built in this JVM, from its
    * latest build (a trained query's oracle replays what that build
    * trained). Read it after running the queries.
    */
  def oracleSql: Map[String, String] = built.asScala.toMap
}
