// Lives under org.apache.spark.sql to reach the private[sql] Column <->
// Expression converters and the private[spark] listener bus; the rest of
// the engine goes through these functions instead of touching Spark
// internals directly.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

object Bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Typed ScalaUDF expression for a `functions.udf(...)`-built function —
    * the road the FunctionRegistry builders take to register scalar UDFs as
    * SQL functions with proper result types.
    */
  def scalaUdf(f: UserDefinedFunction, children: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(f.asInstanceOf[SparkUserDefinedFunction], children)

  /** Blocks until the listener bus has delivered every queued event, so a
    * listener read after an action has seen all of that action's jobs.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the storage blocks behind a `localCheckpoint(true)`-pinned
    * Dataset. Such a Dataset is a `LogicalRDD` leaf over a persisted RDD;
    * `Dataset.unpersist` only consults the SQL cache manager and never
    * reaches it, so long-running foreachBatch state loops must free
    * superseded pins explicitly or executor storage grows
    * O(batches × state size). No-op on plans without RDD leaves.
    *
    * OWNERSHIP: this unpersists EVERY `LogicalRDD` leaf in the plan, with
    * no ownership check — unlike `Dataset.unpersist`, which is scoped to
    * the cache manager. Call it only on a Dataset whose RDD leaves the
    * caller exclusively owns, i.e. the `localCheckpoint` result itself;
    * called on a composite plan (a join/union that includes someone
    * else's pinned or `createDataFrame(rdd)` leaf) it would release
    * blocks the caller does not own.
    */
  def unpin(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
