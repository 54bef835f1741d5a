package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** [[CacheTracker]] is the only code in `src/main` that persists,
  * checkpoints or frees a frame: every other site registers through
  * `persistTracked`/`checkpointTracked` and releases through `free` or the
  * drain. This spec scans the code (not the comments) of every main source
  * file for a raw lifetime call.
  */
class CacheSourceGateSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val raw = Seq(".cache()", ".persist(", ".localCheckpoint(", ".unpersist(",
    "checkpointRdd(", "CacheTracker.release(")

  /** (file under `root`, trimmed code line) -> why it may stay raw. */
  private val allowed = Map(
    ("graft/data/Datasets.scala",
      "private def seal(df: DataFrame): DataFrame = df.localCheckpoint(false)") ->
      ("Datasets.seal: the lazy loader checkpoint lives as long as its DatasetSpec, " +
        "which a caller may hold across drains"))

  // string and char literals are matched so that a comment marker inside
  // one is not taken for a comment; only comments are blanked
  private val token: Regex =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r

  private def code(source: String): String = token.replaceAllIn(source, m =>
    Regex.quoteReplacement(
      if (m.matched.startsWith("/")) m.matched.replaceAll("[^\n]", " ") else m.matched))

  test("no raw cache, persist, checkpoint or unpersist call outside CacheTracker") {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val hits = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if rel != "graft/etl/CacheTracker.scala"
      (line, i) <- code(Files.readString(f)).split("\n", -1).zipWithIndex
      if raw.exists(line.contains)
      if !allowed.contains((rel, line.trim))
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the allowlist names lines that still exist") {
    for ((rel, line) <- allowed.keys) {
      val lines = code(Files.readString(root.resolve(rel))).split("\n").map(_.trim)
      assert(lines.contains(line), s"$rel no longer has: $line")
    }
  }
}
