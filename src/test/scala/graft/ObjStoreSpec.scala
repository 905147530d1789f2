package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The control plane through RAW-OBJECT-STORE rename semantics.
  * [[ObjStoreFs]] (`objstore://` scheme) implements every directory
  * rename as a per-object copy followed by a per-object delete — what
  * `s3a://` really does — with injectable crash points. This spec
  * proves the two layers of the 100 TB object-store story:
  *
  *  - item-level writes (write/append/appendNewOnly/compact/drop) and
  *    vacuum perform ZERO control-plane renames — their commit
  *    primitive is the single-object `_current` pointer PUT, so none of
  *    the hazards below exist for them;
  *  - the in-place bucket rewrites that DO rename ([[Store.compactBuckets]]
  *    and [[Store.prune]]) recover EXACTLY through the manifest-bearing
  *    marker protocol from crashes inside a non-atomic rename (partial
  *    live dirs are restored from the complete side, interrupted
  *    removals are finished, re-created dirs are never clobbered).
  */
class ObjStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.session
    s.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
    s
  }
  import spark.implicits._

  def bars(n: Int, seed: Long = 11): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2020-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, 1000L + rnd.nextInt(1000))
    }.toDF("date", "price", "volume")
  }

  /** Fresh objstore:// base URI backed by a local temp dir. */
  def objDir(): String =
    "objstore://" + java.nio.file.Files.createTempDirectory("graft-obj").toString

  def hfs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  def open(dir: String, bucket: Option[String] = None, chunkRows: Long = 1000000L): Store =
    Store.open(spark, dir,
      cols = Some(Seq(
        "price" -> org.apache.spark.sql.types.DoubleType,
        "volume" -> org.apache.spark.sql.types.LongType)),
      index = Some("date"), bucket = bucket, chunkRows = chunkRows)

  /** The bucket-swap fixture: a month-bucketed store whose MSFT item
    * holds 62 rows, all in January 2020, piled into four data files by
    * a write and an append (25 + 6 rows each) — so
    * `compactBuckets(maxFilesPerBucket = 1)` rewrites exactly ONE bucket,
    * into its canonical three files, through the two-marker rename swap:
    * both renames move several files, so a crash can land between two.
    */
  def piled(dir: String): Store = {
    val s = open(dir, bucket = Some("month"), chunkRows = 25L)
    s.write("MSFT", bars(31))
    s.appendNewOnly("MSFT", bars(31, seed = 12))
    s
  }

  /** Crash-point source path of the fixture's bucket move-out. */
  val Jan = "__bucket=2020-01"

  def compactJan(s: Store): Unit = { s.compactBuckets("MSFT", maxFilesPerBucket = 1); () }

  /** Control-plane renames: anything moving an immediate child of
    * items/ or .staging/ (item dirs, staged tmp/trash dirs) or a
    * version dir — as opposed to Spark committer renames, which only
    * ever move files/dirs deeper inside a single parquet output.
    */
  def ctlRenames(base: String): Seq[(String, String)] = {
    val root = new HPath(base).toUri.getPath
    def isCtl(p: String): Boolean = {
      if (!p.startsWith(root)) return false
      val segs = p.stripPrefix(root).stripPrefix("/").split("/").toSeq
      if (segs.headOption.contains(".staging")) segs.length == 2
      else if (segs.headOption.contains("items"))
        segs.length <= 2 || (segs.length == 3 && !segs(2).contains("_temporary"))
      else false
    }
    ObjStoreFs.renames.asScala.toSeq.filter { case (s, d) => isCtl(s) || isCtl(d) }
  }

  test("versioned lifecycle: ZERO control-plane renames — commits are pointer PUTs only") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    assert(s("MSFT").count() == 100)
    s.appendNewOnly("MSFT", bars(150)) // 50 new rows, landed by single-file renames
    assert(s("MSFT").count() == 150)
    s.append("MSFT", bars(200)) // version swap: fresh v-dir + pointer overwrite
    assert(s("MSFT").count() == 200)
    s.compact("MSFT") // another version swap
    assert(s("MSFT").count() == 200)
    val q = s.query("MSFT",
      Some(Timestamp.valueOf("2020-02-01 00:00:00")),
      Some(Timestamp.valueOf("2020-02-29 00:00:00")))
    assert(q.count() == 29)
    assert(s.describe("MSFT").rows == 200)
    assert(s.vacuum(0L) == 0L, "clean swaps leave nothing to vacuum")
    assert(ctlRenames(dir).isEmpty,
      s"item-level write path must not rename item/staging dirs: ${ctlRenames(dir)}")
    // the in-place bucket ops are the only renaming paths
    s.appendNewOnly("MSFT", bars(200, seed = 12))
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 1) >= 1L)
    assert(ctlRenames(dir).nonEmpty, "compactBuckets swaps bucket dirs by rename")
    ObjStoreFs.renames.clear()
    assert(s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")) == 1L)
    assert(ctlRenames(dir).nonEmpty, "prune moves expired buckets out by rename")
    ObjStoreFs.renames.clear()
    s.drop("MSFT") // pointer delete, then data-tree delete — no rename
    assert(!s.exists("MSFT"))
    assert(s.vacuum(0L) == 0L)
    assert(ctlRenames(dir).isEmpty, s"drop/vacuum must not rename: ${ctlRenames(dir)}")
  }

  test("driver-read slice: a file swapped out between listing and read gives the full slice or a named error") {
    // a whole-item rewrite (compact: fresh version, old one deleted) and
    // an in-place bucket rewrite (compactBuckets) land after query()
    // listed the files and before it reads the first one
    val rewrites = Seq[(Option[String], Store => Unit)](
      None -> (_.compact("MSFT")), Some("month") -> compactJan)
    for ((bucket, rewrite) <- rewrites) {
      ObjStoreFs.reset()
      val s = open(objDir(), bucket)
      s.write("MSFT", bars(31))
      s.appendNewOnly("MSFT", bars(31, seed = 12))
      val want = s("MSFT").collect().map(_.toSeq).toSet
      assert(want.size == 62)
      var fired = 0
      ObjStoreFs.beforeDataOpen = Some(() => { rewrite(s); fired += 1 })
      val got = s.query("MSFT")
      assert(fired == 1 && TestSpark.wasReadOnDriver(got), s"bucket=$bucket fired=$fired")
      val rows = got.collect()
      assert(rows.length == 62 && rows.map(_.toSeq).toSet == want, s"bucket=$bucket")
    }
    // a rewrite before EVERY read attempt: the bounded retry gives up
    // with the vanished file's error instead of returning part of it
    ObjStoreFs.reset()
    val s = open(objDir())
    s.write("MSFT", bars(31))
    var fired = 0
    def arm(): Unit = ObjStoreFs.beforeDataOpen = Some(() => { s.compact("MSFT"); fired += 1; arm() })
    arm()
    val e = try { s.query("MSFT"); None } catch { case e: Exception => Some(e) }
    ObjStoreFs.reset()
    assert(fired == 6, s"one read plus five retries, got $fired")
    assert(Iterator.iterate[Throwable](e.orNull)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[java.io.FileNotFoundException] && c.getMessage.contains(".parquet")),
      s"expected the vanished file named: $e")
    assert(s("MSFT").count() == 31)
  }

  test("footer sweep: a file swapped out after the listing counts as vanished — describe skips it, footer SQL scans") {
    // compact (fresh version, old file deleted) lands after the sweep
    // listed the one-file item and before it reads the footer
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir)
    s.write("MSFT", bars(31))
    val before = s.describe("MSFT")
    assert(before.rows == 31 && before.files == 1, s"$before")
    var fired = 0
    ObjStoreFs.beforeDataOpen = Some(() => { s.compact("MSFT"); fired += 1 })
    val d = s.describe("MSFT")
    assert(fired == 1 && d.rows == 0 && d.files == 1 && d.minIndex.isEmpty, s"$d")
    assert(s.describe("MSFT").rows == 31)

    spark.read.format("graft").option("item", "MSFT").load(dir).createOrReplaceTempView("vanish_msft")
    def scans(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }
    val count = "SELECT count(*) FROM vanish_msft"
    assert(!scans(spark.sql(count)), "footer-answered with no file swapped out")
    ObjStoreFs.beforeDataOpen = Some(() => { s.compact("MSFT"); fired += 1 })
    val df = spark.sql(count)
    assert(scans(df) && fired == 2, "a vanished footer must fall back to the scan")
    assert(df.collect()(0).getLong(0) == 31L)
    ObjStoreFs.reset()
  }

  test("swap crash in the MOVE-OUT's delete phase: live split in half, vacuum restores the OLD item exactly") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir)
    val before = s("MSFT").collect().map(_.toSeq).toSet
    // the bucket swap's first rename (live -> trash) dies after all
    // files were copied and ONE source file was deleted: live is a
    // strict subset, trash is complete — the crash point the
    // rename-atomic protocol could never produce
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(Jan, "delete", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // only the swap marker exists (mid never written) -> roll back;
    // the manifest says live is damaged, trash refills it per file
    assert(s.vacuum(0L) >= 1L)
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "old item restored byte-complete from the trash copy")
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("swap crash in the PROMOTE's copy phase: vacuum resumes the promote, new data lands complete") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir)
    val expected = s("MSFT").collect().map(_.toSeq).toSet
    // the second rename (tmp -> live) dies after copying ONE file:
    // swap+mid markers present, live partially promoted, tmp intact
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(".tmp-", "copy", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    assert(s.vacuum(0L) >= 1L)
    assert(s("MSFT").collect().map(_.toSeq).toSet == expected,
      "compacted bucket promoted complete despite the mid-promote crash")
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("drop retires the key's crash markers so the key is re-creatable without vacuum") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir)
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(Jan, "delete", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // the half-moved item still exists (partial live bucket) — drop it
    s.drop("MSFT")
    assert(!s.exists("MSFT"))
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty,
      "drop swept the crashed swap's markers and staged dirs")
    s.write("MSFT", bars(30, seed = 88)) // no refusal: markers are gone
    assert(s("MSFT").count() == 30)
  }

  test("mutating a half-moved item is refused until vacuum; recovery then restores and the append lands") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir) // ≥2 data files in the bucket
    val before = s("MSFT").collect().map(_.toSeq).toSet
    // die after deleting a data file: live is genuinely missing rows,
    // trash holds the only complete copy
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(Jan, "delete", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // a writer hitting the half-moved item is REFUSED until recovery —
    // an append here could anti-join against the partial live dir and
    // re-insert rows whose only copy sits in trash, duplicating them
    // when the restore lands
    val e = intercept[Exception](s.appendNewOnly("MSFT", bars(30, seed = 5151)))
    assert(e.getMessage.contains("vacuum"), s"unhelpful error: ${e.getMessage}")
    s.vacuum(0L)
    val extra = bars(30, seed = 5151).collect().map(_.toSeq).toSet
    s.appendNewOnly("MSFT", bars(30, seed = 5151)) // markers cleared: flows
    assert(s("MSFT").collect().map(_.toSeq).toSet == (before ++ extra),
      "old rows restored from trash, append lands after recovery")
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("mutating a half-promoted item is refused until vacuum; recovery resumes the promote") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir)
    val committed = s("MSFT").collect().map(_.toSeq).toSet // compaction preserves rows
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(".tmp-", "copy", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // mutations are refused on the half-promoted item; compact too
    intercept[Exception](s.compact("MSFT"))
    s.vacuum(0L)
    val extra = bars(30, seed = 7272).collect().map(_.toSeq).toSet
    s.appendNewOnly("MSFT", bars(30, seed = 7272))
    assert(s("MSFT").collect().map(_.toSeq).toSet == (committed ++ extra),
      "promote resumed from tmp, append lands after recovery")
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("drop crash in the delete phase: half-deleted item, vacuum finishes the drop") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir)
    s.write("MSFT", bars(100))
    s.appendNewOnly("MSFT", bars(150))
    // die at the data-tree delete that follows the pointer delete: the
    // pointer is gone, the version dir is left behind
    ObjStoreFs.crashOnDeleteOf = Some("items/MSFT")
    intercept[ObjStoreFs.InjectedCrash](s.drop("MSFT"))
    // the pointer delete IS the disappear: the item is already gone
    assert(!s.exists("MSFT") && s.listItems().isEmpty)
    val (fs, base) = hfs(dir)
    val item = new HPath(new HPath(base, "items"), "MSFT")
    assert(fs.listStatus(item).exists(_.getPath.getName.startsWith("v-")),
      "fixture must leave the dropped item's version dir behind")
    // vacuum finishes the drop: the pointer-less version is an orphan
    assert(s.vacuum(0L) >= 1L)
    assert(!fs.listStatus(item).exists(_.getPath.getName.startsWith("v-")))
    // and the key is writable again
    s.write("MSFT", bars(10))
    assert(s("MSFT").count() == 10)
  }

  test("property: EVERY crash point in either swap rename recovers to exactly the old or the new content") {
    // enumerate crash points: phase x file-index x which-rename; after
    // vacuum the item must equal one complete side — never a mix,
    // never a partial — and staging must drain
    val points = for {
      target <- Seq(Jan, ".tmp-")
      phase <- Seq("copy", "delete")
      idx <- 0 to 1
    } yield ObjStoreFs.Crash(target, phase, idx)
    points.foreach { pt =>
      ObjStoreFs.reset()
      val dir = objDir()
      val s = piled(dir) // ≥2 data files in the bucket
      val content = s("MSFT").collect().map(_.toSeq).toSet // compaction preserves rows
      ObjStoreFs.crash = Some(pt)
      try compactJan(s)
      catch { case _: ObjStoreFs.InjectedCrash => () }
      // the armed point is one-shot (cleared when it fires) — a point
      // that never fired means the fixture no longer produces that
      // crash window and the recovery claim would pass vacuously
      assert(ObjStoreFs.crash.isEmpty, s"crash point $pt never fired")
      s.vacuum(0L)
      assert(s("MSFT").collect().map(_.toSeq).toSet == content,
        s"crash point $pt corrupted the item")
      // footer row count catches an old+new mixed dir (duplicated rows)
      // that value-set equality alone would miss
      assert(s.describe("MSFT").rows == 62, s"crash point $pt lost or duplicated rows")
      val (fs, base) = hfs(dir)
      assert(fs.listStatus(new HPath(base, ".staging")).isEmpty,
        s"crash point $pt left staging debris")
    }
  }

  test("prune crash mid-bucket-removal: vacuum finishes; re-running prune is a no-op") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = Store.open(spark, dir,
      cols = Some(Seq(
        "price" -> org.apache.spark.sql.types.DoubleType,
        "volume" -> org.apache.spark.sql.types.LongType)),
      index = Some("date"), bucket = Some("month"))
    s.write("MSFT", bars(100)) // Jan..Apr 2020 buckets
    val total = s("MSFT").count()
    val jan = s.query("MSFT", None,
      Some(Timestamp.valueOf("2020-01-31 23:59:59"))).count()
    ObjStoreFs.crash = Some(ObjStoreFs.Crash("__bucket=2020-01", "delete", 0))
    intercept[ObjStoreFs.InjectedCrash](
      s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")))
    assert(s.vacuum(0L) >= 1L)
    assert(s("MSFT").count() == total - jan,
      "expired bucket fully gone after recovery, later buckets intact")
    // retention is re-runnable: the already-removed bucket is not seen
    assert(s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")) == 0L)
    val (fs, base) = hfs(dir)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("bucket-swap crash points (compactBuckets): vacuum recovers the ONE bucket against the marker-recorded path") {
    // both phases of both renames, like the crash-point property — but
    // over TWO piled buckets, so recovery must restore or promote THE
    // crashed directory (recorded in the marker content) and leave
    // every sibling bucket alone
    val points = Seq(
      ObjStoreFs.Crash("__bucket=2020-01", "delete", 1), // move-out, live split
      ObjStoreFs.Crash("__bucket=2020-01", "copy", 1), // move-out, copy phase
      ObjStoreFs.Crash(".tmp-", "copy", 0), // promote never starts landing
      ObjStoreFs.Crash(".tmp-", "copy", 1) // promote half-landed
    )
    points.foreach { pt =>
      ObjStoreFs.reset()
      val dir = objDir()
      // chunkRows = 50: each bucket's three files rewrite into two
      val s = open(dir, bucket = Some("month"), chunkRows = 50L)
      s.write("MSFT", bars(60)) // Jan-Feb 2020
      s.appendNewOnly("MSFT", bars(60, seed = 12))
      s.appendNewOnly("MSFT", bars(60, seed = 13))
      val content = s("MSFT").collect().map(_.toSeq).toSet
      val total = s.describe("MSFT").rows
      ObjStoreFs.crash = Some(pt)
      try s.compactBuckets("MSFT", maxFilesPerBucket = 1)
      catch { case _: ObjStoreFs.InjectedCrash => () }
      assert(ObjStoreFs.crash.isEmpty,
        s"bucket-swap crash point $pt never fired") // see the property above
      s.vacuum(0L)
      assert(s("MSFT").collect().map(_.toSeq).toSet == content,
        s"bucket-swap crash point $pt corrupted the item")
      assert(s.describe("MSFT").rows == total,
        s"bucket-swap crash point $pt lost or duplicated rows")
      val (fs, base) = hfs(dir)
      assert(fs.listStatus(new HPath(base, ".staging")).isEmpty,
        s"bucket-swap crash point $pt left staging debris")
      // recovery leaves a consistent store: the compaction can simply
      // be re-run to completion
      s.compactBuckets("MSFT", maxFilesPerBucket = 1)
      assert(s("MSFT").collect().map(_.toSeq).toSet == content)
    }
  }

  test("LEGACY manifest-less marker + partial live: vacuum refills from trash instead of destroying the only complete copy") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir) // ≥2 data files
    val before = s("MSFT").collect().map(_.toSeq).toSet
    // crash in move-out's delete phase: live is a strict subset, trash
    // holds the complete copy, only the swap marker exists (no mid)
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(Jan, "delete", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // simulate an OLD-VINTAGE marker: truncate the manifest lines so
    // parseMarker sees the manifest-less legacy format — recovery must
    // still restore the bucket rather than sweep the trash copy
    val (fs, base) = hfs(dir)
    val staging = new HPath(base, ".staging")
    val marker = fs.listStatus(staging)
      .map(_.getPath).find(_.getName.contains(".swap-")).get
    val firstLine = {
      val in = fs.open(marker)
      val txt = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      in.close(); txt.split("\n").head
    }
    val out = fs.create(marker, true)
    out.write(firstLine.getBytes("UTF-8")); out.close()
    assert(s.vacuum(0L) >= 1L)
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "legacy roll-back restored the partially-moved live dir from trash")
    assert(s.describe("MSFT").rows == 62, "no duplicated rows either")
    assert(fs.listStatus(staging).isEmpty)
  }

  test("RELOCATED store: vacuum recovers against the current base, not the marker's recorded absolute path") {
    ObjStoreFs.reset()
    val dirA = objDir()
    val s = piled(dirA)
    val before = s("MSFT").collect().map(_.toSeq).toSet
    // crash mid move-out: live split, trash complete, markers recording
    // dirA's ABSOLUTE paths
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(Jan, "delete", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // relocate the whole store tree — the backup-restore scenario — and
    // recover at the NEW base: the marker's recorded path must be
    // re-based, not trusted (recovering into dead dirA would strand or
    // destroy the trash copy)
    val srcRoot = java.nio.file.Paths.get(dirA.stripPrefix("objstore://"))
    val dstRoot = java.nio.file.Files.createTempDirectory("graft-obj-moved")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(srcRoot).iterator().asScala.foreach { p =>
      val t = dstRoot.resolve(srcRoot.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val moved = open("objstore://" + dstRoot.toString)
    assert(moved.vacuum(0L) >= 1L)
    assert(moved("MSFT").collect().map(_.toSeq).toSet == before,
      "item restored at the RELOCATED base")
    assert(moved.describe("MSFT").rows == 62)
    val (fs, base) = hfs("objstore://" + dstRoot.toString)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("UNGATED-binary re-creation next to stale swap markers: vacuum never mixes the stale promote into the fresh item") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = piled(dir)
    val live = new HPath(LiveDir.hpath(s, "MSFT"), Jan)
    // crash mid-promote: swap+mid markers pend, tmp staged, live partial
    ObjStoreFs.crash = Some(ObjStoreFs.Crash(".tmp-", "copy", 1))
    intercept[ObjStoreFs.InjectedCrash](compactJan(s))
    // simulate a writer from a binary WITHOUT the mutation gate
    // re-creating the bucket from source while the markers still pend:
    // delete live, write a fresh incarnation straight through Spark
    val (fs, base) = hfs(dir)
    fs.delete(live, true)
    bars(30, seed = 99).write.parquet(live.toString)
    val freshCount = 30L
    // vacuum must treat the foreign-named live dir as a re-created
    // incarnation: sweep the stale staging debris, touch nothing in live
    s.vacuum(0L)
    assert(spark.read.parquet(live.toString).count() == freshCount,
      "stale swap files were mixed into the re-created item")
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty,
      "stale markers and staged dirs must drain")
  }
}
