package org.apache.spark.sql.graftnative

import java.text.ParseException
import java.time.DateTimeException
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, ImplicitCastInputTypes, Literal, ParseToTimestamp, RuntimeReplaceable, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.TreePattern.{RUNTIME_REPLACEABLE, TreePattern}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DateType, StringType, TimestampNTZType, TimestampType, TypeCollection}
import org.apache.spark.unsafe.types.UTF8String

/** First-match-wins timestamp parse over several patterns, with the value
  * of `coalesce(try_to_timestamp(c, f1), try_to_timestamp(c, f2), ...)`.
  *
  * That chain throws and catches a `DateTimeParseException` for every
  * pattern a value misses. A string input here (with the session's
  * timestamp type `TIMESTAMP_LTZ`) instead becomes [[ParseFirstTimestamp]],
  * which asks each pattern's formatter through
  * `TimestampFormatter.parseOptional`, where a miss is a `None`. Any
  * other input becomes the chain itself.
  */
case class FirstTimestamp(child: Expression, formats: Seq[String], timeZoneId: Option[String] = None)
    extends RuntimeReplaceable with UnaryLike[Expression] with ImplicitCastInputTypes
    with TimeZoneAwareExpression {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, DateType, TimestampType, TimestampNTZType))

  // TimeZoneAwareExpression fixes nodePatterns; without this one the
  // optimizer's replacement rule would prune this node away unreplaced
  override def nodePatternsInternal(): Seq[TreePattern] = Seq(RUNTIME_REPLACEABLE)

  override lazy val replacement: Expression = child.dataType match {
    case _: StringType if SQLConf.get.timestampType == TimestampType =>
      ParseFirstTimestamp(child, formats, timeZoneId)
    case _ =>
      Coalesce(formats.map(f => ParseToTimestamp(child, Some(Literal(f)),
        SQLConf.get.timestampType, timeZoneId, failOnError = false)))
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): FirstTimestamp =
    copy(child = newChild)
}

/** [[FirstTimestamp]] over a string: the formatters are built as
  * `try_to_timestamp` builds its own (session time zone, the
  * `timeParserPolicy` in force, `SIMPLE_DATE_FORMAT` as the legacy
  * format). Under the `EXCEPTION` policy a miss is re-parsed the throwing
  * way, so a value only the legacy parser reads fails the query as the
  * chain's would.
  */
case class ParseFirstTimestamp(child: Expression, formats: Seq[String], timeZoneId: Option[String])
    extends UnaryExpression with TimeZoneAwareExpression with CodegenFallback {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true

  @transient private lazy val formatters = formats.map(f =>
    TimestampFormatter(f, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true,
      forTimestampNTZ = false))
  @transient private lazy val upgradeCheck =
    SQLConf.get.legacyTimeParserPolicy == LegacyBehaviorPolicy.EXCEPTION

  private def parse(f: TimestampFormatter, s: String): Option[Long] =
    f.parseOptional(s).orElse {
      if (!upgradeCheck) None
      else try Some(f.parse(s)) catch { case _: DateTimeException | _: ParseException => None }
    }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    formatters.iterator.flatMap(parse(_, s)).nextOption().getOrElse(null)
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): ParseFirstTimestamp =
    copy(child = newChild)
}

object TimestampExpressions {
  def firstTimestamp(c: Column, formats: Seq[String]): Column =
    ExpressionUtils.column(FirstTimestamp(ExpressionUtils.expression(c), formats))
}
