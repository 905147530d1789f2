package graft.sources.v2

import graft.TestSpark
import graft.sources.Store
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The reader factories of [[SparkInternals]]' scans broadcast the conf
  * once per read shape: scans of one shape share the broadcast, also
  * across sessions with the same conf, while a changed schema, SQL conf
  * or Hadoop conf entry gets its own. Each read runs in a fresh session,
  * or, for the distributed Store slices, back to back in the shared one,
  * so SQL conf set elsewhere in the shared test session cannot move a
  * compared shape.
  */
class ReaderFactoryCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val schema = StructType(Seq(
    StructField("ID", LongType), StructField("NAME", StringType)))

  /** A directory of parquet files of [[schema]], listed. */
  private lazy val files: Seq[FileStatus] = {
    val dir = java.nio.file.Files.createTempDirectory("factory-cache").toString + "/data"
    val s = spark
    import s.implicits._
    (0L until 200L).map(i => (i, s"n$i")).toDF("ID", "NAME").coalesce(2).write.parquet(dir)
    val p = new HPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq.sortBy(_.getPath.toString)
  }

  private def factory(s: SparkSession, read: StructType = schema,
      filters: Array[Filter] = Array.empty) =
    SparkInternals.driverReaderFactory(s, schema, read, filters, new StructType())

  private def broadcastId(s: SparkSession, read: StructType = schema): Long =
    factory(s, read).broadcastedConf.id

  private def columnar(s: SparkSession): Boolean =
    factory(s).supportColumnarReads(FilePartition(0, Array.empty))

  private def rows(s: SparkSession): Seq[Seq[Any]] =
    SparkInternals.readRowsOnDriver(s, files.map("" -> _), schema, schema, Array.empty, None)
      .map((r: InternalRow) => r.toSeq(schema))

  test("driver reads of one shape share one conf broadcast, each through its own factory") {
    val s = spark.newSession()
    val pushed: Array[Filter] = Array(GreaterThanOrEqual("ID", 100L))
    val a = factory(s)
    val b = factory(s, filters = pushed)
    assert(a.broadcastedConf.id == b.broadcastedConf.id)
    assert(!(a eq b), "a factory must never be shared across scans")
    assert(a.filters.isEmpty && b.filters.sameElements(pushed))
    assert(rows(s).size == 200)
  }

  test("a new read schema, SQL conf or Hadoop conf entry gets a new broadcast; a new session does not") {
    val s = spark.newSession()
    val default = broadcastId(s)
    assert(broadcastId(s) == default)
    assert(broadcastId(s, StructType(schema.fields.take(1))) != default, "read schema")
    assert(broadcastId(spark.newSession()) == default, "a new session with the same conf")

    val key = "graft.test.factory-cache." + java.util.UUID.randomUUID()
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set(key, "1")
    try assert(broadcastId(s) != default, "Hadoop conf entry")
    finally hadoopConf.unset(key)
    assert(broadcastId(s) == default, "the unset entry is the default shape again")

    val want = rows(s)
    s.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    assert(broadcastId(s) != default, "SQL conf")
    assert(!columnar(s), "the flipped conf reached the factory")
    assert(rows(s) == want)
    s.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assert(columnar(s))
  }

  /** A resumed drain's clone of the session also sets the conf entries
    * its checkpoint's offset log recorded, at their defaults; the fresh
    * drain's clone leaves them unset. Both read the same, so they share
    * one shape.
    */
  test("every drain of one graft stream, fresh or resumed, shares one conf broadcast") {
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("factory-cache-stream").toString
    val store = Store.open(s, dir, cols = Some(Seq("V" -> LongType)), index = Some("DATE"))
    def day(d: Int) = java.sql.Timestamp.valueOf(s"2024-01-${10 + d} 00:00:00")
    val frame = s.createDataFrame(java.util.Arrays.asList((0 until 4).map(d => Row(day(d), d.toLong)): _*),
      StructType(Seq(StructField("DATE", TimestampType), StructField("V", LongType))))
    store.write("T", frame.where("V < 1"))
    val ckpt = dir + "-ckpt"
    def drainBroadcastId(): Long = {
      val q = s.readStream.format("graft").option("item", "T").load(dir)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.map(_.numInputRows).sum == 1)
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collectFirst { case m: MicroBatchScanExec => m.readerFactory }.get
        .asInstanceOf[ParquetPartitionReaderFactory].broadcastedConf.id
    }
    val fresh = drainBroadcastId()
    store.appendNewOnly("T", frame.where("V < 2"))
    val resumed = drainBroadcastId()
    store.appendNewOnly("T", frame.where("V < 3"))
    assert(drainBroadcastId() == resumed)
    assert(fresh == resumed, "the fresh drain has a read shape of its own")
  }

  test("distributed Store slices of one shape share one conf broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("factory-cache-slice").toString
    val store = Store.open(spark, dir, cols = Some(Seq("V" -> LongType)), index = Some("DATE"))
    def day(d: Int) = java.sql.Timestamp.valueOf(s"2024-01-${10 + d} 00:00:00")
    store.write("T", spark.createDataFrame(
      java.util.Arrays.asList((0 until 8).map(d => Row(day(d), d.toLong)): _*),
      StructType(Seq(StructField("DATE", TimestampType), StructField("V", LongType)))))
    def sliceBroadcastId(from: Int, to: Int): Long = TestSpark.distributed {
      val q = store.query("T", Some(day(from)), Some(day(to)))
      assert(q.collect().length == to - from + 1)
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectFirst { case b: BatchScanExec => b.readerFactory }
        .getOrElse(fail(s"expected a BatchScanExec:\n$plan"))
        .asInstanceOf[ParquetPartitionReaderFactory].broadcastedConf.id
    }
    assert(sliceBroadcastId(0, 1) == sliceBroadcastId(3, 6))
  }
}
