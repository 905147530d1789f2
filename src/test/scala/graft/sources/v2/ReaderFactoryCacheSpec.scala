package graft.sources.v2

import graft.TestSpark
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The reader factories of [[SparkInternals]]' scans broadcast the conf
  * once per read shape: scans of one shape share the broadcast, while a
  * changed schema, SQL conf, Hadoop conf entry or session gets its own.
  * Each read runs in a fresh session, so SQL conf set elsewhere in the
  * shared test session cannot move its shape.
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

  test("a different read schema, SQL conf, Hadoop conf entry or session gets a new broadcast") {
    val s = spark.newSession()
    val default = broadcastId(s)
    assert(broadcastId(s) == default)
    assert(broadcastId(s, StructType(schema.fields.take(1))) != default, "read schema")
    assert(broadcastId(spark.newSession()) != default, "session")

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
}
