package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AtomicType, DataType, StructType}

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * extension libraries expose them via a shim in the sql package
  * namespace — the standard pattern for custom-Expression libraries.
  * `Dataset.ofRows` is `private[sql]` too: [[frame]] reaches it the
  * same way, and so do [[normalizeFloats]], [[isAtomic]],
  * [[drainListeners]] and [[isSqlDefault]].
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A lazy DataFrame of the logical plan `plan`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over a `LocalRelation` holding `rows` (internal rows of
    * `schema`): its plan is a `LocalTableScan`, so collecting it — or a
    * filter and projection of it — starts no Spark job.
    */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    frame(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Whether `key` is a registered SQL conf entry and `value` its default. */
  def isSqlDefault(key: String, value: String): Boolean =
    SQLConf.containsConfigKey(key) && sqlDefaults.getConfString(key) == value
  private val sqlDefaults = new SQLConf // nothing set: every entry reads its default

  /** `e` with NaN and -0.0 normalized the way a `GROUP BY` key is
    * (`NormalizeFloatingNumbers.normalize`; other types pass through).
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** Blocks until every queued listener event has been delivered, so a
    * listener's counts are complete (`listenerBus` is `private[spark]`).
    */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether `dt` is an atomic (non-nested) type. */
  def isAtomic(dt: DataType): Boolean = dt.isInstanceOf[AtomicType]
}
