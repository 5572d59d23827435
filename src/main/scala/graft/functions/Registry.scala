package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Per-session registration of the engine's SQL functions. The Column
  * surfaces (`VectorDot.apply` and friends) call `register` on every
  * use, so registration happens only when the session does not have the
  * name yet: a second `registerFunction` would replace an identical
  * builder and log a warning each time.
  */
private[graft] object Registry {
  def registerOnce(spark: SparkSession, name: String, className: String,
      builder: Seq[Expression] => Expression): Unit = {
    val id = FunctionIdentifier(name)
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id))
      registry.registerFunction(id, new ExpressionInfo(className, name), builder)
  }
}
