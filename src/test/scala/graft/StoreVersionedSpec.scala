package graft

import graft.sources.{ItemExistsError, SchemaError, Store}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The store's item layout — the object-store-native commit path: a
  * version is a `v-<id>` manifest naming unit manifests that name the
  * data files, one `_current` pointer object per item, and every
  * mutation committed by a single pointer PUT with NO rename anywhere.
  * This spec proves the refusal of retired layouts, the full lifecycle,
  * the pointer commit (old version gone, new pointer target, readers
  * never see an intermediate state), that appendNewOnly and
  * compactBuckets carry untouched units over, and vacuum's
  * mark-and-sweep of crash debris.
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

  def versionManifests(fs: FileSystem, base: HPath, key: String): Seq[String] =
    fs.listStatus(new HPath(new HPath(base, "items"), key))
      .map(_.getPath.getName).filter(_.startsWith("v-")).toSeq

  /** Unit → unit manifest name, as the current version manifest of
    * `key` names them.
    */
  def unitManifests(fs: FileSystem, base: HPath, key: String): Map[String, String] = {
    val item = new HPath(new HPath(base, "items"), key)
    val v = Store.readUTF8(fs, new HPath(item, "_current")).trim
    Store.parseManifest(Store.readUTF8(fs, new HPath(item, v))).get.toMap
  }

  test("a store of the directory-version layout (versioned = 1) is refused by open and attach") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    Store.open(spark, dir).write("K", bars(10))
    // what the retired layout's marker held: versions were directories
    Store.writeUTF8(fs, new HPath(base, "versioned"), "1")
    for (e <- Seq(
        intercept[SchemaError](Store.open(spark, dir)),
        intercept[SchemaError](Store.attach(spark, dir))))
      assert(e.getMessage.contains("versioned=1") && e.getMessage.contains("no migration"),
        s"layout not named: ${e.getMessage}")
  }

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

    val filesBefore = LiveDir.files(s, "MSFT").toSet
    s.appendNewOnly("MSFT", bars(130)) // 30 new rows in a new file
    assert(s("MSFT").count() == 130)
    assert(versionManifests(fs, base, "MSFT").size == 1,
      "appendNewOnly's commit replaces the version manifest")
    assert(filesBefore.subsetOf(LiveDir.files(s, "MSFT").toSet),
      "appendNewOnly rewrites no file — incremental appends stay cheap")

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
    val v0 = versionManifests(fs, base, "MSFT")
    assert(v0.size == 1)
    s.append("MSFT", bars(120)) // rewrite path: union-dedup into a fresh version
    assert(s("MSFT").count() == 120)
    val v1 = versionManifests(fs, base, "MSFT")
    assert(v1.size == 1 && v1 != v0, "append must commit a NEW version and drop the old")
    s.compact("MSFT")
    val v2 = versionManifests(fs, base, "MSFT")
    assert(v2.size == 1 && v2 != v1, "compact commits another pointer swap")
    assert(s("MSFT").count() == 120)
    // nothing for vacuum to do after clean commits
    assert(s.vacuum(0L) == 0L)
  }

  test("crash debris: an orphan version (no pointer to it) is invisible and vacuum-swept") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    // simulate a commit that died before its pointer write: a complete
    // version — manifests and data — the pointer never named, taken
    // from another item
    s.write("GHOST", bars(50, seed = 9))
    val ghost = java.nio.file.Paths.get(dir, "items", "GHOST")
    val msft = java.nio.file.Paths.get(dir, "items", "MSFT")
    import scala.jdk.CollectionConverters._
    val copied = java.nio.file.Files.walk(ghost).iterator().asScala.toVector
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString != "_current")
    copied.foreach { p =>
      val t = msft.resolve(ghost.relativize(p))
      java.nio.file.Files.createDirectories(t.getParent)
      java.nio.file.Files.copy(p, t)
    }
    s.drop("GHOST")
    // readers are completely unaffected by the orphan
    assert(s("MSFT").count() == 100)
    assert(s.describe("MSFT").rows == 100)
    assert(versionManifests(fs, base, "MSFT").size == 2)
    assert(s.versionsOf("MSFT").map(v => (v.current, v.files)).toSet == Set(true -> 1L, false -> 1L))
    // age guard first: a fresh orphan is treated as possibly in flight
    assert(s.vacuum() == 0L)
    // force-sweep collects its manifests and data; the live version is untouched
    assert(s.vacuum(0L) == copied.size.toLong)
    assert(versionManifests(fs, base, "MSFT").size == 1)
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
    // force-sweep with the torn pointer: the version must SURVIVE and
    // the pointer must be repaired to it
    s.vacuum(0L)
    assert(versionManifests(fs, base, "MSFT").size == 1)
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
    // the tail-read is the graft stream over the committed files
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
    // bucket pruning reaches the scan through the manifests: it reads
    // exactly the files the current version names for the in-range bucket
    val q = TestSpark.distributed(s.query("EVT",
      Some(Timestamp.valueOf("2022-02-01 00:00:00")),
      Some(Timestamp.valueOf("2022-02-10 00:00:00"))))
    val scans = TestSpark.parquetScans(q)
    val scanned = scans.flatMap(_.fileIndex.allFiles()).map(_.getPath).toSet
    assert(scans.flatMap(TestSpark.bucketDirNames).toSet == Set("__bucket=2022-02") &&
      scanned == LiveDir.files(s, "EVT").filter(_.getParent.getName == "__bucket=2022-02").toSet,
      s"expected only the current version's 2022-02 bucket, scanned: $scanned")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[IsNotNull(DATE), GreaterThanOrEqual(DATE"),
      s"expected the bounds pushed in plan:\n$plan")
    assert(q.count() == 10)
    val dropped = s.prune("EVT", Timestamp.valueOf("2022-03-01 00:00:00"))
    assert(dropped == 2, "Jan + Feb buckets expired")
    assert(s("EVT").count() == 100 - 59, "Jan(31) + Feb(28) rows gone")
  }

  test("bucketed versioned store: compactBuckets commits a new version that carries the untouched buckets") {
    val dir = freshDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("EVT", bars(60)) // Jan-Feb 2022
    s.appendNewOnly("EVT", bars(60, seed = 31))
    s.appendNewOnly("EVT", bars(60, seed = 32))
    s.appendNewOnly("EVT", bars(5, seed = 33)) // Jan only: Feb keeps 3 files
    val before = s("EVT").collect().map(_.toSeq).toSet
    val (fs, base) = hfs(dir)
    val unitsBefore = unitManifests(fs, base, "EVT")
    def janFiles(): Int = LiveDir.files(s, "EVT").count(_.getParent.getName == "__bucket=2022-01")
    val piled = janFiles()
    assert(piled > 3, s"fixture must pile files (got $piled)")
    assert(s.compactBuckets("EVT", maxFilesPerBucket = 3) == 1L)
    val unitsAfter = unitManifests(fs, base, "EVT")
    assert(unitsAfter("__bucket=2022-02") == unitsBefore("__bucket=2022-02"),
      "the untouched bucket's unit manifest is carried over")
    assert(unitsAfter("__bucket=2022-01") != unitsBefore("__bucket=2022-01"))
    assert(versionManifests(fs, base, "EVT").size == 1, "the superseded version manifest is deleted")
    assert(janFiles() < piled, "bucket rewritten smaller")
    assert(s("EVT").collect().map(_.toSeq).toSet == before, "rows preserved")
    assert(s.vacuum(0L) == 0L, "a clean commit leaves nothing to vacuum")
  }

  test("vacuum: dead task-attempt files among the live data files are swept once past the age guard") {
    // a task attempt that failed, or lost to a speculative twin, leaves
    // the files it wrote among the live ones; no manifest names them, so
    // reads never see them, and vacuum reclaims their bytes
    val dir = freshDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(50))
    val before = s("MSFT").collect().map(_.toSeq).toSet
    val data = LiveDir(s, dir, "MSFT")
    val temporary = data.resolve("_temporary").resolve("0").resolve("task-3")
    java.nio.file.Files.createDirectories(temporary)
    java.nio.file.Files.write(data.resolve("part-00000-dead.snappy.parquet"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(temporary.resolve("part-00001-dead.snappy.parquet"), Array[Byte](4, 5, 6))
    // age guard: a conservative sweep leaves fresh debris (a writer in
    // another JVM may own it)
    assert(s.vacuum() == 0L, "fresh debris must survive the aged sweep")
    assert(s.vacuum(0L) == 2L, "both dead files swept once the writer is provably dead")
    assert(!java.nio.file.Files.exists(data.resolve("_temporary")), "emptied dirs go too")
    assert(s("MSFT").collect().map(_.toSeq).toSet == before, "data untouched")
    assert(s.describe("MSFT").rows == 50L)
    assert(s.vacuum(0L) == 0L, "sweep converges")
  }

  test("vacuum(0) keeps every committed row while a same-JVM appendNewOnly is in flight, and a staged CTAS until its commit or abort") {
    ObjStoreFs.reset()
    spark.sparkContext.hadoopConfiguration.set("fs.objstore.impl", classOf[ObjStoreFs].getName)
    val dir = "objstore://" + freshDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(60))
    // a force sweep from another thread the instant the append has
    // written its first file: the item's lock is held, so vacuum skips
    // it — the new file, named by no manifest yet, survives
    var swept = -1L
    ObjStoreFs.afterWrite = Some { _ =>
      ObjStoreFs.afterWrite = None
      val t = new Thread(() => swept = s.vacuum(0L))
      t.start(); t.join()
    }
    try s.appendNewOnly("MSFT", bars(90)) // 30 new rows
    finally ObjStoreFs.afterWrite = None
    assert(swept == 0L, s"vacuum swept $swept files of an append in flight")
    assert(s("MSFT").count() == 90 && s.describe("MSFT").rows == 90)
    // a staged CTAS is named by no pointer: vacuum(0) keeps it while it
    // is staged, then treats an aborted one as debris
    val id = s.writeStagedVersion("STAGED", bars(20))
    assert(s.vacuum(0L) == 0L && !s.exists("STAGED"))
    s.commitStagedVersion("STAGED", id)
    assert(s("STAGED").count() == 20)
    val gone = s.writeStagedVersion("ABORTED", bars(20))
    assert(s.vacuum(0L) == 0L)
    s.abortStagedVersion("ABORTED", gone)
    assert(s.vacuum(0L) == 0L && !s.exists("ABORTED"), "abort deletes what it staged")
    // unnamed files and manifests are swept: the commits above left none
    val (fs, base) = hfs(dir)
    val item = new HPath(new HPath(base, "items"), "MSFT")
    Store.writeUTF8(fs, new HPath(item, "u-dead"), Store.renderManifest(Nil))
    Store.writeUTF8(fs, new HPath(item, "v-dead"), Store.renderManifest(Seq("" -> "u-dead")))
    assert(s.vacuum(0L) == 2L)
    assert(s("MSFT").count() == 90 && s("STAGED").count() == 20)
    ObjStoreFs.reset()
  }
}
