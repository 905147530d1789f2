package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, CreateNamedStruct, Expression, GetStructField, If, IsNull, LambdaFunction, Literal, MapSort, NamedLambdaVariable, TransformValues}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, AtomicType, DataType, MapType, StructType}

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so
  * extension libraries expose them via a shim in the sql package
  * namespace — the standard pattern for custom-Expression libraries.
  * `Dataset.ofRows` is `private[sql]` too: [[frame]] reaches it the
  * same way, and so do [[groupKey]], [[isAtomic]],
  * [[drainListeners]], [[isSqlDefault]] and [[setContextConfIfMissing]].
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

  /** Sets `key` to `value` in the active SparkContext's conf unless it
    * is set there already (`SparkContext.getActive` and `conf` are
    * `private[spark]`). A session created after this copies it into its
    * `SQLConf`; one that exists already keeps what it copied.
    */
  def setContextConfIfMissing(key: String, value: String): Unit =
    SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))

  /** Whether `key` is a registered SQL conf entry and `value` its default. */
  def isSqlDefault(key: String, value: String): Boolean =
    SQLConf.containsConfigKey(key) && sqlDefaults.getConfString(key) == value
  private val sqlDefaults = new SQLConf // nothing set: every entry reads its default

  /** `e` normalized the way a `GROUP BY` key is: maps sorted by key at
    * any depth ([[sortMaps]]), then NaN and -0.0 normalized
    * (`NormalizeFloatingNumbers.normalize`); other types pass through.
    */
  def groupKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(sortMaps(e))

  /** `e` with every map in it sorted by key — the `MapSort` Spark's
    * optimizer-private `InsertMapSortExpression` adds to a grouping key.
    */
  private def sortMaps(e: Expression): Expression = {
    def hasMap(dt: DataType) = dt.existsRecursively(_.isInstanceOf[MapType])
    def lambda(dts: Seq[DataType])(body: Seq[NamedLambdaVariable] => Expression) = {
      val vs = dts.zipWithIndex.map { case (dt, i) => NamedLambdaVariable(s"x$i", dt, nullable = true) }
      LambdaFunction(body(vs), vs)
    }
    e.dataType match {
      case MapType(kt, vt, _) =>
        MapSort(if (!hasMap(vt)) e else TransformValues(e, lambda(Seq(kt, vt))(vs => sortMaps(vs(1)))))
      case ArrayType(et, _) if hasMap(et) => ArrayTransform(e, lambda(Seq(et))(vs => sortMaps(vs.head)))
      case st: StructType if hasMap(st) =>
        If(IsNull(e), Literal(null, st), CreateNamedStruct(st.fields.toSeq.zipWithIndex.flatMap {
          case (f, i) => Seq(Literal(f.name), sortMaps(GetStructField(e, i)))
        }))
      case _ => e
    }
  }

  /** Blocks until every queued listener event has been delivered, so a
    * listener's counts are complete (`listenerBus` is `private[spark]`).
    */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether `dt` is an atomic (non-nested) type. */
  def isAtomic(dt: DataType): Boolean = dt.isInstanceOf[AtomicType]
}
