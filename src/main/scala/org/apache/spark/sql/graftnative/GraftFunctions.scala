package org.apache.spark.sql.graftnative

import org.apache.spark.sql.catalyst.expressions._

/** SQL-callable registrations of the native expressions, so `spark.sql`
  * users get them without touching the Scala API: [[registerInto]] drops
  * them into a live session's registry.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("simhash64"),
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        (exprs: Seq[Expression]) => SimHash64(exprs.head)),
      (
        FunctionIdentifier("winnow_fingerprints"),
        new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
        (exprs: Seq[Expression]) =>
          WinnowFingerprints(
            exprs(0),
            exprs(1).eval().asInstanceOf[Number].intValue(),
            exprs(2).eval().asInstanceOf[Number].intValue())))

  def registerInto(session: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      session.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
