package graft

import graft.sources.{ItemExistsError, SchemaError, Store}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The store's item layout — the object-store-native commit path:
  * immutable `v-<id>` data dirs, one `_current` pointer object per item,
  * rewrites committed by a single pointer PUT with NO directory rename
  * anywhere on the item-level write path. This spec proves the refusal
  * of retired flat-layout directories, the full lifecycle, the
  * pointer-swap commit (old version gone, new pointer target, readers
  * never see an intermediate state), crash debris collection, and that
  * appendNewOnly lands incremental files inside the current version
  * (cheap appends).
  */
class StoreVersionedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  def bars(n: Int, seed: Long = 21): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2022-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        1000L + rnd.nextInt(1000))
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-versioned").toString

  def hfs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  def versionDirs(fs: FileSystem, base: HPath, key: String): Seq[String] =
    fs.listStatus(new HPath(new HPath(base, "items"), key))
      .map(_.getPath.getName).filter(_.startsWith("v-")).toSeq

  test("a flat-layout directory (no versioned marker) is refused by open and attach") {
    // the retired flat layout: schema.json plus parquet files directly
    // under items/K, no `versioned` marker and no `_current` pointer.
    // Built by hand — nothing in this codebase writes it any more.
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val schema = Store.open(spark, freshDir()).schema
    Store.writeUTF8(fs, new HPath(base, "schema.json"), schema.json)
    bars(10).toDF(schema.fieldNames.toIndexedSeq: _*).write
      .parquet(new HPath(new HPath(base, "items"), "K").toString)
    for (e <- Seq(
        intercept[SchemaError](Store.open(spark, dir)),
        intercept[SchemaError](Store.attach(spark, dir))))
      assert(e.getMessage.contains("flat"), s"layout not named: ${e.getMessage}")
  }

  test("lifecycle parity: write/read/append/appendNewOnly/query/describe/listItems/drop") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    assert(s("MSFT").count() == 100)
    assert(s.exists("msft") && s.listItems() == Seq("MSFT"))
    intercept[ItemExistsError] { s.write("msft", bars(10)) }

    s.appendNewOnly("MSFT", bars(130)) // 30 new rows land INSIDE the current version
    assert(s("MSFT").count() == 130)
    assert(versionDirs(fs, base, "MSFT").size == 1,
      "appendNewOnly must not create a new version — incremental files stay cheap")

    val q = s.query("MSFT",
      Some(Timestamp.valueOf("2022-02-01 00:00:00")),
      Some(Timestamp.valueOf("2022-03-01 00:00:00")))
    assert(q.count() == 29)
    val st = s.describe("MSFT")
    assert(st.rows == 130 && st.files >= 1)
    assert(st.minIndex.contains(Timestamp.valueOf("2022-01-01 00:00:00")))

    s.write("AAPL", bars(10, seed = 5))
    s.drop("AAPL")
    assert(!s.exists("AAPL") && s.listItems() == Seq("MSFT"))
  }

  test("rewrites commit by pointer swap: new version live, superseded version deleted") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    val v0 = versionDirs(fs, base, "MSFT")
    assert(v0.size == 1)
    s.append("MSFT", bars(120)) // rewrite path: union-dedup into a fresh version
    assert(s("MSFT").count() == 120)
    val v1 = versionDirs(fs, base, "MSFT")
    assert(v1.size == 1 && v1 != v0, "append must land in a NEW version dir and drop the old")
    s.compact("MSFT")
    val v2 = versionDirs(fs, base, "MSFT")
    assert(v2.size == 1 && v2 != v1, "compact commits another pointer swap")
    assert(s("MSFT").count() == 120)
    // no .staging debris and nothing for vacuum to do after clean swaps
    assert(s.vacuum(0L) == 0L)
  }

  test("crash debris: an orphan version (no pointer to it) is invisible and vacuum-swept") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    // simulate a versionSwap that died before its pointer write: a
    // complete version dir the pointer never named
    s.write("GHOST", bars(50, seed = 9))
    val ghostData = new HPath(new HPath(base, "items"), "GHOST")
    val orphan = new HPath(new HPath(base, "items"), "MSFT")
    val vGhost = fs.listStatus(ghostData).map(_.getPath)
      .find(_.getName.startsWith("v-")).get
    assert(fs.rename(vGhost, new HPath(orphan, "v-orphan-crash")))
    fs.delete(ghostData, true)
    // readers are completely unaffected by the orphan
    assert(s("MSFT").count() == 100)
    assert(s.describe("MSFT").rows == 100)
    assert(versionDirs(fs, base, "MSFT").size == 2)
    // age guard first: a fresh orphan is treated as possibly in flight
    assert(s.vacuum() == 0L)
    // force-sweep collects it; the live version is untouched
    assert(s.vacuum(0L) == 1L)
    assert(versionDirs(fs, base, "MSFT").size == 1)
    assert(s("MSFT").count() == 100)
  }

  test("torn pointer: reads fail actionably, vacuum repairs to the newest complete version — never sweeps the data") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    val ptr = new HPath(new HPath(new HPath(base, "items"), "MSFT"), "_current")
    // a crash between the pointer file's create and its write (create
    // is visible before close on HDFS-like filesystems) leaves an
    // EMPTY pointer — the one state that must never read as "no
    // version is current"
    Store.writeUTF8(fs, ptr, "")
    val e = intercept[java.io.IOException](s("MSFT").count())
    assert(e.getMessage.contains("vacuum"), s"unhelpful error: ${e.getMessage}")
    // force-sweep with the torn pointer: the version dir must SURVIVE
    // and the pointer must be repaired to it
    s.vacuum(0L)
    assert(versionDirs(fs, base, "MSFT").size == 1)
    assert(s("MSFT").count() == 100, "repaired pointer serves the data again")
    assert(s.describe("MSFT").rows == 100)
  }

  test("dangling pointer (names a vanished dir): vacuum repairs to the surviving complete version") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    val item = new HPath(new HPath(base, "items"), "MSFT")
    val ptr = new HPath(item, "_current")
    Store.writeUTF8(fs, ptr, "v-gone-" + java.util.UUID.randomUUID())
    intercept[java.io.IOException](s("MSFT").count())
    s.vacuum(0L)
    assert(s("MSFT").count() == 100)
  }

  test("streaming on the versioned layout: ingestStream auto-creates + lands idempotently, readStream tails the current version") {
    val dir = freshDir()
    val s = Store.open(spark, dir)
    val work = java.nio.file.Files.createTempDirectory("graft-vstream").toString
    val data = bars(60)
    data.coalesce(1).write.parquet(s"$work/in/b0")
    val src = spark.readStream.schema(spark.read.parquet(s"$work/in/b0").schema)
      .option("recursiveFileLookup", "true").parquet(s"$work/in")
    val q = s.ingestStream("MSFT", src, s"$work/chk")
    q.awaitTermination()
    assert(s("MSFT").count() == 60)
    // replay with a fresh checkpoint: the anti-join sink dedups to a no-op
    val q2 = s.ingestStream("MSFT", src, s"$work/chk2")
    q2.awaitTermination()
    assert(s("MSFT").count() == 60, "replayed batches must dedup to zero new rows")
    // tail-read resolves through the pointer to the current version dir
    val tail = s.readStream("MSFT")
    val tq = tail.writeStream.format("parquet")
      .option("path", s"$work/out").option("checkpointLocation", s"$work/tchk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    tq.awaitTermination()
    assert(spark.read.parquet(s"$work/out").count() == 60)
  }

  test("bucketed versioned store: partition pruning and prune() still work") {
    val dir = freshDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("EVT", bars(100))
    // directory pruning reaches the scan through the version dir: its
    // files all lie in the current version's in-range bucket dir
    val q = TestSpark.distributed(s.query("EVT",
      Some(Timestamp.valueOf("2022-02-01 00:00:00")),
      Some(Timestamp.valueOf("2022-02-10 00:00:00"))))
    val cur = s.versionsOf("EVT").find(_.current).get.id
    val scans = TestSpark.parquetScans(q)
    val dirs = scans.flatMap(_.fileIndex.allFiles()).map(_.getPath.getParent).toSet
    assert(scans.flatMap(TestSpark.bucketDirNames).toSet == Set("__bucket=2022-02") &&
      dirs.forall(_.getParent.getName == cur),
      s"expected only the current version's 2022-02 bucket, scanned: $dirs")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[IsNotNull(DATE), GreaterThanOrEqual(DATE"),
      s"expected the bounds pushed in plan:\n$plan")
    assert(q.count() == 10)
    val dropped = s.prune("EVT", Timestamp.valueOf("2022-03-01 00:00:00"))
    assert(dropped == 2, "Jan + Feb buckets expired")
    assert(s("EVT").count() == 100 - 59, "Jan(31) + Feb(28) rows gone")
  }

  test("bucketed versioned store: compactBuckets rewrites in place inside the current version") {
    val dir = freshDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("EVT", bars(60)) // Jan-Feb 2022
    s.appendNewOnly("EVT", bars(60, seed = 31))
    s.appendNewOnly("EVT", bars(60, seed = 32))
    val before = s("EVT").collect().map(_.toSeq).toSet
    val (fs, base) = hfs(dir)
    val vsBefore = versionDirs(fs, base, "EVT")
    assert(vsBefore.size == 1)
    def janFiles(): Int = {
      val jan = new HPath(LiveDir.hpath(s, "EVT"), "__bucket=2022-01")
      fs.listStatus(jan).count { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    val piled = janFiles()
    assert(piled > 1, s"fixture must pile files (got $piled)")
    assert(s.compactBuckets("EVT", maxFilesPerBucket = 1) >= 1L)
    // in-place: the CURRENT version dir is rewritten, no new version
    assert(versionDirs(fs, base, "EVT") == vsBefore, "no version churn")
    assert(janFiles() < piled, "bucket rewritten smaller inside the version")
    assert(s("EVT").collect().map(_.toSeq).toSet == before, "rows preserved")
    assert(s.vacuum(0L) == 0L, "clean bucket swaps leave nothing to vacuum")
  }

  test("vacuum job 4: dead job-staging debris inside the live version dir is swept, live appends are guarded") {
    // a crashed in-place append leaves its committer staging —
    // `_temporary` and a per-job-UUID `.spark-staging-*` dir — INSIDE
    // the current version dir. Hidden-segment filters keep it invisible
    // to reads and metadata, but the bytes are reclaimed by nothing
    // (later jobs use fresh staging names), so vacuum owns the sweep.
    // Found by the cross-JVM lifecycle fuzz's halt-on-delete arm, which
    // dies exactly at the committer's staging cleanup.
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(50))
    val before = s("MSFT").collect().map(_.toSeq).toSet
    val vDir = LiveDir(s, dir, "MSFT")
    val staging = vDir.resolve(".spark-staging-dead-job-uuid").resolve("DATE_BUCKET=2022-01")
    val temporary = vDir.resolve("_temporary").resolve("0").resolve("task-3")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.createDirectories(temporary)
    java.nio.file.Files.write(staging.resolve("part-00000-dead.snappy.parquet"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(temporary.resolve("part-00001-dead.snappy.parquet"),
      Array[Byte](4, 5, 6))
    // age guard: a conservative sweep leaves fresh debris (a writer in
    // another JVM may own it) — both dirs are seconds old
    assert(s.vacuum() == 0L, "fresh debris must survive the aged sweep")
    // same-JVM in-flight guard: a registered in-place append blocks
    // even the force sweep for ITS item
    val tag = Store.inPlaceTag(s.base, "MSFT") // s.base is fs-qualified
    Store.activeInPlaceWrites.add(tag)
    try assert(s.vacuum(0L) == 0L, "in-flight append's staging must survive vacuum(0)")
    finally Store.activeInPlaceWrites.remove(tag)
    // dead writer: the force sweep reclaims both debris dirs
    assert(s.vacuum(0L) == 2L, "both debris dirs swept once the writer is provably dead")
    assert(!java.nio.file.Files.exists(vDir.resolve(".spark-staging-dead-job-uuid")))
    assert(!java.nio.file.Files.exists(vDir.resolve("_temporary")))
    assert(s("MSFT").collect().map(_.toSeq).toSet == before, "data untouched")
    assert(s.describe("MSFT").rows == 50L)
    assert(s.vacuum(0L) == 0L, "sweep converges")
  }
}
