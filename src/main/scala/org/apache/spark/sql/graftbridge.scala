package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** Column ↔ Expression bridge for graft's FunctionRegistry builders,
  * plus one plan rewrite for emptiness probes ([[withoutRepartitions]]).
  *
  * Spark 4 moved `Column` onto ColumnNode (shared with Connect) and made
  * the classic converters `private[sql]`; registering a COMPOSED Column
  * combinator as a SQL function (graft.functions.TextSql) needs exactly
  * these two conversions and nothing else. This object lives in the
  * `org.apache.spark.sql` package purely to re-expose them (and
  * `classic.Dataset.ofRows`) — the JVM classes are public and stable
  * (columnNodeSupport.scala); only the Scala-level access modifier is
  * being crossed.
  *
  * Column → Expression goes through the EAGER node converter, not
  * `ExpressionUtils.expression`: the latter returns a lazy
  * `ColumnNodeExpression` wrapper that only unwraps when the analyzer
  * converts a full plan — returned from a function-registry builder it
  * would survive analysis unresolved and die at codegen. The converted
  * tree may still carry `UnresolvedFunction`/lambda nodes; that is
  * correct, the analyzer's function resolution iterates until they are
  * gone.
  */
object graftbridge {
  def expressionOf(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)

  /** `df` with every repartition dropped from its plan, for probes that
    * only ask whether a row exists (`isEmpty`): a repartition moves
    * rows between partitions but never adds or drops one, so the probe
    * reads the scan directly instead of first running the shuffle map
    * stage. Only for plans where nothing above a repartition depends on
    * the partitioning (no nondeterministic filter, no per-partition
    * limit).
    */
  def withoutRepartitions(df: DataFrame): DataFrame =
    classic.Dataset.ofRows(df.sparkSession,
      df.queryExecution.analyzed.transform { case r: RepartitionOperation => r.child })
}
