package graft.cli

import org.apache.spark.sql.SparkSession

/** What GenerateMetrics, GenerateCM and CurateCorpus share: one strict
  * flag parser and one session.
  */
private[cli] object Cli {

  /** The `--flag value` pairs and bare `switches` in `args`, keyed by flag
    * (a switch maps to "true"). Throws IllegalArgumentException on an
    * unknown flag or a value flag with no value: a silently ignored typo
    * like `--fold 5` would run with defaults and mislabel the output.
    */
  def flags(args: Seq[String], valueFlags: Set[String],
      switches: Set[String] = Set.empty): Map[String, String] = args match {
    case Seq() => Map.empty
    case f +: rest if switches(f) => flags(rest, valueFlags, switches) + (f -> "true")
    case f +: v +: rest if valueFlags(f) && !v.startsWith("--") =>
      flags(rest, valueFlags, switches) + (f -> v)
    case f +: _ => throw new IllegalArgumentException(
      s"unrecognized or value-less flag '$f'; known: " +
        (valueFlags ++ switches).toSeq.sorted.mkString(", "))
  }

  /** `SPARK_MASTER` (a deployment setting, default `local[32]`), 32
    * shuffle partitions, UI off, UTC.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
