package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** Column references for names taken from `df.columns`. */
object Columns {

  /** A top-level column by its exact name: backtick-quoted, so a name
    * holding a dot or a backtick is never parsed as a nested path.
    */
  def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
