package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so this
  * shim lives under the `org.apache.spark.sql` package — the standard
  * pattern for extension libraries needing Catalyst access.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSessionExtensions.registerFunctions` is `private[sql]`; exposed
    * for tests asserting what [[graft.spark.GraftExtensions]] injects. */
  def applyInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** `SparkContext.unpersistRDD` is `private[spark]`: it drops an RDD's
    * blocks and its persistent-RDD entry by id. `RDD.unpersist` does the
    * same but warns once per call that a locally checkpointed RDD cannot be
    * recomputed, which a loop freeing its own dead checkpoints hits every
    * round. */
  def unpersistRDD(sc: org.apache.spark.SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
