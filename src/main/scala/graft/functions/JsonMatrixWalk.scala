package graft.functions

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `json_matrix_walk(config_json)` — native Catalyst expression that
  * DFS-walks the arbitrarily nested `matrix` tree of a configurator
  * JSON document and returns one row per size-characteristic node
  * (SURVEY.md §2.7 X16; reference server/scrape.ts:373-391: recursive
  * `walk(node)` over `node.matrix`, emitting `productCode → label`
  * whenever `characteristic.title || characteristic.id` matches
  * /размер|size/).
  *
  * This closes the fixed-depth gap of [[graft.operators.Parsing.configVariants]]:
  * `from_json` needs a schema of bounded nesting, but the reference
  * tree is unbounded, so the honest Spark-first mapping is a custom
  * expression (preference (b) in the design rules) — NOT a Scala UDF:
  * the generated code is one static call per value, composing into
  * whole-stage codegen with no serialization per row.
  *
  * Output element struct:
  *   - product_code — `String(node.productCode)` (emitted only when
  *     JS-truthy and the size id is non-empty, like the reference)
  *   - size_label   — `sizeId + (dim ? " " + dim : "")` where `dim` is
  *     `characteristic.values[0].dimension || characteristic.dimension`
  *     (JS `||`: empty string falls through)
  *   - depth        — 1-based matrix nesting level
  *   - path         — zero-padded DFS position ("0001.0000…"); its
  *     lexicographic order IS document order at any depth, so
  *     `max_by(label, path)` reproduces the reference's last-write-wins
  *     object-assignment semantics in a set-based engine.
  *
  * Scalar JSON values convert via Jackson `asText()` (numbers → their
  * token text, matching both JS `String()` and DuckDB
  * `json_extract_string`); objects/arrays in scalar positions are not
  * given JS's "[object Object]" rendering — out of the fixture/oracle
  * domain. Malformed JSON → null (coercion-to-null like every cleaner
  * in the engine).
  */
case class JsonMatrixWalk(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")

  override def dataType: DataType = JsonMatrixWalk.OutType
  override def nullable: Boolean = true
  override def prettyName: String = "json_matrix_walk"

  override protected def nullSafeEval(json: Any): Any =
    JsonMatrixWalk.walk(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, j =>
      s"""
         |${ev.value} = graft.functions.JsonMatrixWalk.walk($j);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonMatrixWalk {

  val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("product_code", StringType, nullable = false),
    StructField("size_label", StringType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false))),
    containsNull = false)

  private val Mapper = new ObjectMapper()
  private val SizeRe = java.util.regex.Pattern.compile(
    "размер|size",
    java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.UNICODE_CASE)

  /** JS truthiness over a JSON node (false/0/""/null/missing → false). */
  private def jsTruthy(n: JsonNode): Boolean =
    n != null && !n.isNull && !n.isMissingNode && {
      if (n.isBoolean) n.asBoolean()
      else if (n.isNumber) n.asDouble() != 0.0
      else if (n.isTextual) n.asText().nonEmpty
      else true
    }

  /** `String(x)` for the scalar positions the walk reads. */
  private def jsStr(n: JsonNode): String =
    if (n == null || n.isNull || n.isMissingNode) "" else n.asText()

  /** Static runtime kernel shared by interpreted eval and codegen. */
  def walk(json: UTF8String): ArrayData = {
    if (json == null) return null
    val root =
      try Mapper.readTree(json.toString)
      catch { case _: Exception => return null }
    if (root == null) return null
    val out = ArrayBuffer.empty[InternalRow]

    def visit(node: JsonNode, depth: Int, path: String): Unit = {
      val ch = node.get("characteristic")
      val title = {
        val t = if (ch == null) null else ch.get("title")
        if (jsTruthy(t)) jsStr(t)
        else jsStr(if (ch == null) null else ch.get("id"))
      }
      if (SizeRe.matcher(title).find()) {
        val sizeId = jsStr(if (ch == null) null else ch.get("id")).trim
        val dim = {
          val v0 = if (ch == null || ch.get("values") == null) null
                   else ch.get("values").get(0)
          val vd = if (v0 == null) null else v0.get("dimension")
          (if (jsTruthy(vd)) jsStr(vd)
           else jsStr(if (ch == null) null else ch.get("dimension"))).trim
        }
        val pc = node.get("productCode")
        if (jsTruthy(pc) && sizeId.nonEmpty) {
          val label = if (dim.nonEmpty) s"$sizeId $dim" else sizeId
          out += new GenericInternalRow(Array[Any](
            UTF8String.fromString(jsStr(pc)), UTF8String.fromString(label),
            depth, UTF8String.fromString(path)))
        }
      }
      val m = node.get("matrix")
      if (m != null && m.isArray) {
        var i = 0
        while (i < m.size()) {
          visit(m.get(i), depth + 1, f"$path%s.$i%04d")
          i += 1
        }
      }
    }

    val m = root.get("matrix")
    if (m != null && m.isArray) {
      var i = 0
      while (i < m.size()) { visit(m.get(i), 1, f"$i%04d"); i += 1 }
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Register as a SQL-callable function on this session. */
  def register(spark: SparkSession): Unit =
    Registry.registerOnce(spark, "json_matrix_walk", classOf[JsonMatrixWalk].getName,
      exprs => JsonMatrixWalk(exprs.head))

  /** Column-API surface (registers lazily via call_function). */
  def apply(spark: SparkSession, json: Column): Column = {
    register(spark)
    call_function("json_matrix_walk", json)
  }
}
