package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** The ONE deliberate crossing into Spark-INTERNAL API in the store's
  * read paths (the `v2` provider and `Store.query`), quarantined so a
  * Spark version bump breaks exactly this file (plus the
  * `org.apache.spark.sql.graft` bridge it builds frames through).
  * Written against **Spark 4.1.2**; the internal touchpoints and why
  * each is worth the coupling:
  *
  *  1. `org.apache.spark.sql.classic.SparkSession` — the Spark-4
  *     split moved the concrete session behind the `classic` package;
  *     `InMemoryFileIndex`/`ParquetScan` constructors require it, and
  *     the public `SparkSession` the connector API hands us IS one
  *     (single-JVM deployments; Spark Connect would need a different
  *     front door entirely).
  *  2. `InMemoryFileIndex` — the pruning decision: building the file
  *     index over ONLY the in-range bucket directories is the entire
  *     point of the provider, and there is no public-API way to hand
  *     a DSv2 `ParquetScan` a restricted root set.
  *  3. `ParquetScan` — delegating to Spark's own scan buys the
  *     vectorized reader, row-group statistics pushdown, split
  *     planning, and whole-stage-codegen compatibility; reimplementing
  *     a parquet reader on the public API would lose all four.
  *  4. `FilePartitionReaderFactory` — the same scan's reader factory
  *     driven on the calling thread ([[readOnDriver]]), so a slice
  *     small enough to collect is read with no Spark job: same decoder,
  *     same pushed row-group filters, same session conf.
  *
  * No `FileStatusCache` is passed (default = NoopCache): every scan
  * LISTs fresh, because items are APPEND-ABLE and a shared cache could
  * serve a pre-append listing and silently drop the newest rows. The
  * listing is already bounded by bucket pruning, so freshness costs
  * one LIST of only the in-range directories.
  */
private[sources] object SparkInternals {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Assemble Spark's vectorized parquet scan over an explicit,
    * already-pruned set of directory roots. `readPartitionSchema`
    * columns are appended to every row from each file's
    * `partitionValues` (only [[readOnDriver]] sets them).
    */
  def parquetScanOver(
      spark: SparkSession,
      roots: Seq[HPath],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      readPartitionSchema: StructType = new StructType()): ParquetScan = {
    val classic = this.classic(spark)
    val fileIndex = new InMemoryFileIndex(
      classic,
      roots.toIndexedSeq,
      Map.empty[String, String],
      Some(dataSchema))
    ParquetScan(
      classic,
      classic.sessionState.newHadoopConf(),
      fileIndex,
      dataSchema = dataSchema,
      readDataSchema = readDataSchema,
      readPartitionSchema = readPartitionSchema,
      pushedFilters = pushedFilters,
      options = new CaseInsensitiveStringMap(
        java.util.Collections.emptyMap[String, String]()))
  }

  /** The planner-facing size of `bytes` of files: times
    * `spark.sql.sources.fileCompressionFactor`, at least 1 — the shape
    * of Spark's own FileScan estimate.
    */
  def scanSize(spark: SparkSession, bytes: Long): Long =
    math.max(1L, (bytes * classic(spark).sessionState.conf.fileCompressionFactor).toLong)

  /** The largest [[scanSize]] a slice may have to be read on the
    * driver: `spark.sql.autoBroadcastJoinThreshold`, the size up to
    * which Spark itself collects a relation to the driver to broadcast
    * it. ≤ 0 means no slice is read on the driver.
    */
  def driverReadLimit(spark: SparkSession): Long =
    classic(spark).sessionState.conf.autoBroadcastJoinThreshold

  /** Reads `files` whole on the calling thread and returns their rows as
    * a DataFrame over a `LocalRelation`, so collecting it starts no
    * Spark job. Each file goes through the reader factory of the
    * [[parquetScanOver]] scan (its file index is unused: the files are
    * handed to the factory directly), decoding only `readDataSchema`
    * and skipping row groups `pushedFilters` exclude — the residual
    * predicate is the caller's. With `labelCol` set, every row also
    * carries its file's label (the first of each pair) in a non-null
    * string column of that name, appended as a partition value.
    *
    * Sequential on purpose: a reader factory shared across threads
    * fails inside the vectorized parquet reader. A file that cannot be
    * read throws — the caller decides whether to re-list and retry.
    */
  def readOnDriver(
      spark: SparkSession,
      files: Seq[(String, FileStatus)],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      labelCol: Option[String]): DataFrame = {
    val partSchema = StructType(labelCol.map(StructField(_, StringType, nullable = false)).toSeq)
    val factory = parquetScanOver(spark, Nil, dataSchema, readDataSchema, pushedFilters, partSchema)
      .createReaderFactory().asInstanceOf[FilePartitionReaderFactory]
    val outSchema = StructType(readDataSchema.fields ++ partSchema.fields)
    val toUnsafe = UnsafeProjection.create(outSchema)
    val columnar = factory.supportColumnarReads(FilePartition(0, Array.empty))
    val rows = Vector.newBuilder[InternalRow]
    files.foreach { case (label, st) =>
      val file = PartitionedFile(
        if (labelCol.isEmpty) InternalRow.empty else InternalRow(UTF8String.fromString(label)),
        SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty[String],
        st.getModificationTime, st.getLen)
      if (columnar) {
        val reader = factory.buildColumnarReader(file)
        try while (reader.next()) reader.get().rowIterator().asScala.foreach(r => rows += toUnsafe(r).copy())
        finally reader.close()
      } else {
        val reader = factory.buildReader(file)
        try while (reader.next()) rows += toUnsafe(reader.get()).copy()
        finally reader.close()
      }
    }
    Bridge.localFrame(spark, outSchema, rows.result())
  }
}
