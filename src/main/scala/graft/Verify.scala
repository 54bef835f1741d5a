package graft
import java.nio.file.{Files, Paths}
import graft.queries.Queries
/** Driver-run correctness dump: each declared query's result → parquet,
  * plus oracle_sql.json (the oracle each build returned), for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names to run (local
    // iteration aid; the driver passes exactly two args)
    val selected =
      if (args.length > 2) Queries.select(args(2).split(",").toSeq) else Queries.all
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // a golden query has an oracle only at a scale with committed goldens;
    // elsewhere it gets none — an honest rows-only check instead of a
    // wrong-scale value mismatch
    val oracles = Harness.eachQuery(selected.map(q => q.name -> q)) { (name, q) =>
      val b = q.build(spark, sfDir)
      b.frame.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      b.oracle
    }.flatMap {
      case (name, Right(oracle)) => oracle.map(name -> _)
      case (name, Left(e)) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
