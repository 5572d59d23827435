package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `extract_balanced_json(html, marker)` — native Catalyst expression
  * that returns the first balanced `{...}` block following `marker`
  * (reference server/scrape.ts:352-397: depth-counting scan for the
  * embedded `BACKEND.components.configurator = {...}` payload, which no
  * regex of fixed nesting depth can extract in general).
  *
  * Implemented as an `Expression` with `doGenCode` (not a Scala UDF):
  * the generated code is a static call on UTF8String values, so it
  * composes into whole-stage codegen with no serialization or
  * row-boxing per value — the difference between a parser you can run
  * over 100 TB of crawl HTML and one you cannot.
  *
  * The scanner is string-literal aware (braces inside JSON strings do
  * not count), and returns null when the marker or a balanced block is
  * absent — coercion-to-null, like every other cleaner in the engine.
  */
case class ExtractBalancedJson(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_balanced_json"

  override protected def nullSafeEval(html: Any, marker: Any): Any =
    ExtractBalancedJson.extract(
      html.asInstanceOf[UTF8String], marker.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, m) =>
      s"""
         |${ev.value} = graft.functions.ExtractBalancedJson.extract($h, $m);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ExtractBalancedJson {

  /** Static runtime kernel shared by interpreted eval and codegen. */
  def extract(html: UTF8String, marker: UTF8String): UTF8String = {
    if (html == null || marker == null) return null
    val s = html.toString
    val at = s.indexOf(marker.toString)
    if (at < 0) return null
    var i = s.indexOf('{', at + marker.numChars())
    if (i < 0) return null
    val start = i
    var depth = 0
    var inString = false
    var escaped = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inString) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else c match {
        case '"' => inString = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return UTF8String.fromString(s.substring(start, i + 1))
        case _ => ()
      }
      i += 1
    }
    null
  }

  /** Register as a SQL-callable function on this session. */
  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, "extract_balanced_json",
      classOf[ExtractBalancedJson].getName,
      exprs => ExtractBalancedJson(exprs.head, exprs(1)))

  /** Column-API surface (registers lazily via call_function). */
  def apply(spark: SparkSession, html: Column, marker: Column): Column = {
    register(spark)
    call_function("extract_balanced_json", html, marker)
  }
}
