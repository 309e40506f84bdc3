package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

package object ops {
  /** A column by its literal name: names are user-controlled, so a dot or a
    * backtick in one must not be read as a path or a quote. */
  private[ops] def ref(name: String): Column = col("`" + name.replace("`", "``") + "`")
}
