package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The Store control plane runs on `org.apache.hadoop.fs.FileSystem`
  * (not `java.nio`), so a store base path may carry any Hadoop scheme.
  * This spec drives the full lifecycle through explicit `file:`-scheme
  * URIs — the cheapest scheme-bearing FileSystem — and a non-`file`
  * scheme over the local disk, and pins vacuum's age guard.
  */
class StoreFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  def bars(n: Int, seed: Long = 11): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2020-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        1000L + rnd.nextInt(1000))
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  /** A fresh `file:`-scheme base URI (note the explicit scheme — this is
    * a Hadoop path string, not a local path).
    */
  def fsDir(): String =
    "file:" + java.nio.file.Files.createTempDirectory("graft-fs").toString

  def hfs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  test("file:-scheme lifecycle: write/read/append/query/compact/describe/drop/vacuum") {
    val dir = fsDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    assert(s("MSFT").count() == 100)
    assert(s.listItems() == Seq("MSFT"))
    assert(s.exists("msft"))

    // append with overlap: dedup keeps one copy of each full row
    s.append("MSFT", bars(100)) // identical rows — no growth
    assert(s("MSFT").count() == 100)
    s.appendNewOnly("MSFT", bars(150)) // 50 genuinely new rows
    assert(s("MSFT").count() == 150)

    // range query through the scheme'd path, bounds inclusive
    val q = s.query("MSFT",
      Some(Timestamp.valueOf("2020-02-01 00:00:00")),
      Some(Timestamp.valueOf("2020-03-01 00:00:00")))
    assert(q.count() == 30)

    s.compact("MSFT")
    assert(s("MSFT").count() == 150)
    val st = s.describe("MSFT")
    assert(st.rows == 150 && st.files >= 1 && st.bytes > 0)
    assert(st.minIndex.contains(Timestamp.valueOf("2020-01-01 00:00:00")))

    s.write("AAPL", bars(10, seed = 3))
    s.drop("AAPL")
    assert(!s.exists("AAPL") && s.listItems() == Seq("MSFT"))
    assert(s.vacuum(0L) == 0L) // clean run leaves no staging debris

    // reopen through the same scheme'd path sees the persisted schema
    val s2 = Store.open(spark, dir)
    assert(s2.schema == s.schema && s2("MSFT").count() == 150)
  }

  test("file:-scheme bucketed store: prune drops expired bucket dirs") {
    val dir = fsDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("EVT", bars(100))
    val dropped = s.prune("EVT", Timestamp.valueOf("2020-03-01 00:00:00"))
    assert(dropped == 2, "Jan + Feb buckets expired")
    val left = s("EVT").count()
    assert(left == 100 - 60, "Jan(31) + Feb(29, leap) rows gone, Mar+ kept")
  }

  test("age guard: a fresh file no manifest names survives the default vacuum; vacuum(0) sweeps it") {
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(60))
    // what a mutation in flight (or one that died) has written so far: a
    // data file and a unit manifest no version names yet
    val data = new HPath(LiveDir.hpath(s, "MSFT"), "__bucket=2020-01/part-inflight.parquet")
    Store.writeUTF8(fs, data, "not yet committed")
    val unit = new HPath(new HPath(new HPath(base, "items"), "MSFT"), "u-inflight")
    Store.writeUTF8(fs, unit, Store.renderManifest(Seq("17" -> "data/__bucket=2020-01/part-inflight.parquet")))
    assert(s.vacuum() == 0L, "the default 1 h guard keeps a writer's fresh files")
    assert(fs.exists(data) && fs.exists(unit))
    assert(s("MSFT").count() == 60, "unnamed files are invisible to reads")
    assert(s.vacuum(0L) == 2L)
    assert(!fs.exists(data) && !fs.exists(unit))
    assert(s("MSFT").count() == 60)
  }

  test("non-file scheme: a file no manifest names — in-flight task payload — counts nowhere") {
    // Route a store through AtomicFs (RawLocalFileSystem under a
    // non-file scheme) and plant a copy of a data file where a failed
    // or in-flight task attempt would leave one: versionsOf, describe
    // and the scan count only what the version manifest names.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.atomicfs.impl", classOf[AtomicFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-fs-atomic")
    val dir = "atomicfs://" + local.toString
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(10))
    val cur = s.versionsOf("MSFT").find(_.current).get
    val data = local.resolve("items").resolve("MSFT").resolve("data")
    val tmpTask = data.resolve("_temporary").resolve("0").resolve("task-7")
    java.nio.file.Files.createDirectories(tmpTask)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(data)
    val firstParquet =
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
      finally walk.close()
    java.nio.file.Files.copy(
      firstParquet, tmpTask.resolve("part-00007-inflight.snappy.parquet"))
    java.nio.file.Files.copy(firstParquet, data.resolve("part-00008-failed-attempt.snappy.parquet"))
    val after = s.versionsOf("MSFT").find(_.current).get
    assert(after.files == cur.files && after.bytes == cur.bytes,
      s"an unnamed file leaked into the version's files or bytes: $cur -> $after")
    assert(s.describe("MSFT").rows == 10 && s.describe("MSFT").files == cur.files)
    assert(s("MSFT").count() == 10)
  }
}
