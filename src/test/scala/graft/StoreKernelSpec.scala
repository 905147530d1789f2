package graft

import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Store mutations through the one mutation kernel: what the task
  * placement reads, what it leaves in the store tree, when a write
  * starts no Spark job, and how nested columns merge.
  */
class StoreKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private val t0 = java.time.LocalDate.parse("2021-03-01").atStartOfDay(java.time.ZoneOffset.UTC)

  /** One bar per (day, hour) pair, values derived from both. */
  def bars(at: Seq[(Int, Int)]): DataFrame =
    at.map { case (d, h) =>
      val v = d * 100.0 + h
      (Timestamp.from(t0.plusDays(d.toLong).plusHours(h.toLong).toInstant), v, v + 1, v - 1, v, d * 100L + h)
    }.toDF("date", "open", "high", "low", "close", "volume")

  def days(ds: Range): DataFrame = bars(ds.map(_ -> 0))

  def tmpDir(): String = Files.createTempDirectory("graft-kernel").toString

  test("a distributed appendNewOnly reads only the buckets its batch touches") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("day"))
    s.write("K", days(0 until 10))
    // an unreadable data file, named by the version, in a bucket the
    // batch never touches
    val rogue = LiveDir(s, dir, "K").resolve("__bucket=2021-03-03").resolve("part-rogue.parquet")
    Files.write(rogue, "not parquet".getBytes)
    LiveDir.plant(s, "K", new org.apache.hadoop.fs.Path(rogue.toUri))
    TestSpark.distributed(s.appendNewOnly("K", days(8 until 12)))
    def ts(d: Int) = Some(Timestamp.from(t0.plusDays(d.toLong).toInstant))
    // every bucket but the rogue's: days 0-1 and 3-11
    assert(s.query("K", None, ts(1)).count() + s.query("K", ts(3), None).count() == 11)
    assert(LiveDir.files(s, "K").exists(_.getName == "part-rogue.parquet"),
      "the untouched bucket's files are carried into the new version")
  }

  test("distributed mutations leave no _temporary, .spark-staging, .crc or hidden file in the store") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("day"), chunkRows = 2L)
    def clean(after: String): Unit = {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      val debris =
        try walk.iterator().asScala.map(_.getFileName.toString).filter(n =>
          n == "_temporary" || n.startsWith(".spark-staging") || n.endsWith(".crc") ||
            n.startsWith(".graft-tmp-")).toVector
        finally walk.close()
      assert(debris.isEmpty, s"after $after: $debris")
      val data = Files.walk(java.nio.file.Paths.get(dir))
      val onDisk = try data.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.getFileName.toString).toSet finally data.close()
      assert(onDisk == LiveDir.files(s, "K").map(_.getName).toSet,
        s"after $after: a data file no manifest names is left")
    }
    TestSpark.distributed {
      s.write("K", days(0 until 6)); clean("write")
      s.append("K", days(4 until 8)); clean("append")
      s.appendNewOnly("K", days(6 until 10)); clean("appendNewOnly")
      // two more files in day 3's bucket: 3 files of 3 rows, canonically 2
      s.appendNewOnly("K", bars(Seq(3 -> 1)))
      s.appendNewOnly("K", bars(Seq(3 -> 2)))
      assert(s.compactBuckets("K", maxFilesPerBucket = 1L) == 1L)
      clean("compactBuckets")
      s.compact("K"); clean("compact")
    }
    assert(s("K").count() == 12)
  }

  test("a distributed append or compact with no batch row rewrites every unit exactly once") {
    Seq(None, Some("day")).foreach { bucket =>
      val s = Store.open(spark, tmpDir(), bucket = bucket)
      s.write("K", days(0 until 6))
      TestSpark.distributed {
        s.append("K", days(0 until 6).limit(0)) // a batch the optimizer empties
        assert(s("K").count() == 6, s"bucket=$bucket: empty local batch")
        s.append("K", s("K").where("open < 0")) // a scan that yields no row
        assert(s("K").count() == 6, s"bucket=$bucket: empty scanned batch")
        s.compact("K")
      }
      assert(s("K").count() == 6 && s.describe("K").rows == 6, s"bucket=$bucket: compact")
    }
  }

  test("a write of a batch already on the driver starts no Spark job") {
    Seq(None, Some("day")).foreach { bucket =>
      val dir = tmpDir()
      val s = Store.open(spark, dir, bucket = bucket)
      val (_, jobs) = TestSpark.jobsDuring(s.write("K", days(0 until 5)))
      assert(jobs == 0, s"bucket=$bucket: write started $jobs jobs")
      assert(s.describe("K").rows == 5)
    }
  }

  test("nested columns merge like a GROUP BY of every column: arrays, structs and maps") {
    val meta = StructType(Seq(StructField("A", DoubleType), StructField("B", StringType)))
    val s = Store.open(spark, tmpDir(),
      cols = Some(Seq("TAGS" -> ArrayType(DoubleType), "META" -> meta,
        "M" -> MapType(StringType, DoubleType), "AM" -> ArrayType(MapType(StringType, DoubleType)))),
      index = Some("ts"))
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("tags", ArrayType(DoubleType)),
      StructField("meta", meta), StructField("m", MapType(StringType, DoubleType)),
      StructField("am", ArrayType(MapType(StringType, DoubleType)))))
    def ts(d: Int) = Timestamp.from(t0.plusDays(d.toLong).toInstant)
    def df(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
    val r1 = Row(ts(0), Seq(1.0, -0.0), Row(0.0, "x"), Map("a" -> 1.0, "b" -> 2.0),
      Seq(Map("a" -> 1.0, "b" -> -0.0)))
    val r2 = Row(ts(1), Seq(Double.NaN), Row(-0.0, null), Map.empty[String, Double], Seq.empty)
    // r1 up to -0.0 versus 0.0 and the maps' key order
    val r1Twin = Row(ts(0), Seq(1.0, 0.0), Row(-0.0, "x"), Map("b" -> 2.0, "a" -> 1.0),
      Seq(Map("b" -> 0.0, "a" -> 1.0)))
    val r3 = Row(ts(2), null, null, null, null)
    val r4 = Row(ts(3), Seq.empty[Double], Row(Double.NaN, ""), Map("c" -> Double.NaN), Seq(null))
    s.write("K", df(r1, r2, r2))
    assert(s("K").count() == 3, "a write keeps duplicates")
    s.append("K", df(r1Twin, r3))
    assert(s("K").count() == 3, "append keeps the distinct rows of item and batch")
    s.appendNewOnly("K", df(r1Twin, r3, r4, r4))
    assert(s("K").count() == 4, "appendNewOnly adds only the batch's one new row")
    s.compact("K")
    assert(s("K").count() == 4)
    val stored = s("K").collect().map(r => r.getTimestamp(0) -> r).toMap
    assert(stored(ts(0)).getSeq[Double](1).map(java.lang.Double.doubleToLongBits) ==
      Seq(1.0, 0.0).map(java.lang.Double.doubleToLongBits), "the stored row is the normalized one")
  }
}
