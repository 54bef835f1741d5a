package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `demv-bulk` inputs: `Generator.classification` with planted
  * imbalance. The same seed gives the same tables.
  */
object Inputs {

  /** One `demv-bulk` input: its size and shape. `skew` is the share of
    * rows dropped from the planted cells (s1 = 1 with label 0, and
    * s2 = 1 with the top label when there is an s2).
    */
  final case class Shape(rows: Long, sensitive: Int, classes: Int, skew: Double) {
    def sensitiveVars: Seq[String] = (1 to sensitive).map(i => s"s$i")
    def tag: String = s"n${rows}_s${sensitive}_c${classes}_k${(skew * 100).toInt}"
  }

  /** `Generator.classification` with planted imbalance. */
  def classification(spark: SparkSession, shape: Shape, seed: Long): DataFrame = {
    val base = graft.data.Generator.classification(spark, shape.rows,
      nFeatures = 8, nClasses = shape.classes, nInformative = 4,
      nSensitive = shape.sensitive, seed = seed)
    val planted = (col("s1") === 1 && col("y") === 0) ||
      (if (shape.sensitive > 1) col("s2") === 1 && col("y") === shape.classes - 1 else lit(false))
    base.where(!planted || rand(seed + 11) >= shape.skew)
  }
}
