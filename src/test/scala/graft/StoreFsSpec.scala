package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The Store control plane runs on `org.apache.hadoop.fs.FileSystem`
  * (not `java.nio`), so a store base path may carry any Hadoop scheme.
  * This spec drives the full lifecycle through explicit `file:`-scheme
  * URIs — the cheapest scheme-bearing FileSystem — and then proves the
  * bucket-swap crash protocol ([[Store.compactBuckets]]' in-place
  * rewrite) recovers from every between-step crash point using only the
  * on-disk marker pair (protocol documented at Store.stagedSwap).
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

  /** A month-bucketed store holding MSFT = 60 rows (Jan 31 + Feb 29,
    * 2020) — the crash fixtures below swap its Jan bucket.
    */
  def bucketed(dir: String): Store = {
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(60))
    s
  }

  /** The swapped dir: MSFT's Jan bucket inside its current version. */
  def jan(s: Store, key: String = "MSFT"): HPath =
    new HPath(LiveDir.hpath(s, key), "__bucket=2020-01")

  /** Builds the staging state of a bucket swap crashed at a chosen
    * step: a valid 20-row Jan tmp dir (written as a sibling item's Jan
    * bucket, then renamed in — same file schema by construction) plus
    * the marker(s), which record the swapped bucket path.
    */
  def stageCrash(s: Store, fs: FileSystem, base: HPath, withMid: Boolean,
      moveLiveOut: Boolean): Unit = {
    val staging = new HPath(base, ".staging")
    fs.mkdirs(staging)
    s.write("STAGESRC", bars(20, seed = 99))
    assert(fs.rename(jan(s, "STAGESRC"), new HPath(staging, "MSFT.tmp-crash1")))
    s.drop("STAGESRC")
    val live = jan(s)
    Store.writeUTF8(fs, new HPath(staging, "MSFT.swap-crash1"), live.toString)
    if (withMid) Store.writeUTF8(fs, new HPath(staging, "MSFT.mid-crash1"), live.toString)
    if (moveLiveOut) assert(fs.rename(live, new HPath(staging, "MSFT.old-crash1")))
  }

  test("crash before the live dir moved (swap marker only): vacuum rolls BACK") {
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir)
    stageCrash(s, fs, base, withMid = false, moveLiveOut = false)
    s.vacuum(0L)
    // live item untouched, staged tmp + marker gone
    assert(s("MSFT").count() == 60)
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("crash after the live dir moved out (swap+mid markers): vacuum rolls FORWARD") {
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir)
    val live = jan(s)
    stageCrash(s, fs, base, withMid = true, moveLiveOut = true)
    // a partial promote may also have left a half-copied live dir — the
    // recovery must replace it with the complete staged tmp
    fs.mkdirs(live)
    Store.writeUTF8(fs, new HPath(live, "partial.parquet.junk"), "partial")
    s.vacuum(0L)
    assert(s("MSFT").count() == 29 + 20, "staged 20-row Jan promoted to live")
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("crash after promote but before cleanup (trash+markers left): vacuum finishes") {
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir) // the "new" Jan bucket already live
    val staging = new HPath(base, ".staging")
    fs.mkdirs(staging)
    // old Jan bucket sits in trash; tmp already promoted (absent)
    s.write("OLDSRC", bars(31, seed = 5))
    assert(fs.rename(jan(s, "OLDSRC"), new HPath(staging, "MSFT.old-crash1")))
    s.drop("OLDSRC")
    Store.writeUTF8(fs, new HPath(staging, "MSFT.swap-crash1"), jan(s).toString)
    Store.writeUTF8(fs, new HPath(staging, "MSFT.mid-crash1"), jan(s).toString)
    s.vacuum(0L)
    assert(s("MSFT").count() == 60, "promoted bucket stays live")
    assert(fs.listStatus(staging).isEmpty)
  }

  test("crash between move-out and mid marker (live absent, data in trash): manifest roll-back restores the item") {
    // The one crash window where the ORIGINAL manifest-less protocol
    // lost data even on rename-atomic filesystems: rename(live->trash)
    // completed but the mid marker was never written, so roll-back
    // used to sweep the trash — and with it the only copy of the data.
    // The swap marker's manifest now says live (absent = strict subset)
    // is damaged and trash is the complete side: restore, then sweep.
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir)
    val before = s("MSFT").collect().map(_.toSeq).toSet
    val live = jan(s)
    val staging = new HPath(base, ".staging")
    fs.mkdirs(staging)
    // manifest exactly as stagedSwap renders it
    val files = {
      val it = fs.listFiles(live, true)
      val b = Seq.newBuilder[(String, Long)]
      val root = live.toUri.getPath
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toUri.getPath.stripPrefix(root).stripPrefix("/"), f.getLen))
      }
      b.result()
    }
    val manifest = (live.toString +: files.sorted.map { case (r, l) => s"$l\t$r" })
      .mkString("\n")
    Store.writeUTF8(fs, new HPath(staging, "MSFT.tmp-crash1/junk"), "staged-but-uncommitted")
    Store.writeUTF8(fs, new HPath(staging, "MSFT.swap-crash1"), manifest)
    assert(fs.rename(live, new HPath(staging, "MSFT.old-crash1")))
    // no mid marker: the swap never committed, yet live is GONE
    assert(!fs.exists(live))
    s.vacuum(0L)
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "bucket restored from the trash copy instead of being swept with it")
    assert(fs.listStatus(staging).isEmpty)
  }

  test("LEGACY manifest-less marker, live absent: trash is renamed back, not swept") {
    // same crash window as above but the marker carries no manifest
    // (the format older releases wrote) — recovery can't verify per
    // file, so the faithful move is the whole-dir rename of trash back
    // to live
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir)
    val before = s("MSFT").collect().map(_.toSeq).toSet
    val live = jan(s)
    val staging = new HPath(base, ".staging")
    fs.mkdirs(staging)
    Store.writeUTF8(fs, new HPath(staging, "MSFT.tmp-crash1/junk"), "staged")
    Store.writeUTF8(fs, new HPath(staging, "MSFT.swap-crash1"), live.toString)
    assert(fs.rename(live, new HPath(staging, "MSFT.old-crash1")))
    s.vacuum(0L)
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "legacy marker: bucket renamed back from trash")
    assert(fs.listStatus(staging).isEmpty)
  }

  test("age guard: a younger-than-cutoff swap marker is NOT recovered") {
    val dir = fsDir()
    val (fs, base) = hfs(dir)
    val s = bucketed(dir)
    stageCrash(s, fs, base, withMid = false, moveLiveOut = false)
    // default 1 h window: the just-created marker/tmp are in-flight
    assert(s.vacuum() == 0L)
    assert(fs.exists(new HPath(new HPath(base, ".staging"), "MSFT.tmp-crash1")),
      "in-flight staged swap must survive an age-scoped vacuum")
    s.vacuum(0L) // force-sweep now drains it
    assert(fs.listStatus(new HPath(base, ".staging")).isEmpty)
  }

  test("non-file scheme: versionsOf excludes in-flight _temporary payload on the listFiles branch") {
    // The file:// branch of walkFiles skips hidden DIRS during the walk,
    // so a name-only .parquet filter in versionsOf happened to be safe
    // there — but the fs.listFiles branch (object-store shape: one flat
    // recursive LIST) surfaces EVERY file including `_temporary/**`
    // task payloads, which the r16 ADVICE found still inflating a
    // version's files/bytes. Route a store through AtomicFs
    // (RawLocalFileSystem under a non-file scheme) so walkFiles takes
    // the listFiles branch, then pin the same invariant StoreSpec pins
    // on file://.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.atomicfs.impl", classOf[AtomicFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-fs-atomic")
    val dir = "atomicfs://" + local.toString
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(10))
    val cur = s.versionsOf("MSFT").find(_.current).get
    val vDir = local.resolve("items").resolve("MSFT").resolve(cur.id)
    val tmpTask = vDir.resolve("_temporary").resolve("0").resolve("task-7")
    java.nio.file.Files.createDirectories(tmpTask)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(vDir)
    val firstParquet =
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
      finally walk.close()
    java.nio.file.Files.copy(
      firstParquet, tmpTask.resolve("part-00007-inflight.snappy.parquet"))
    val after = s.versionsOf("MSFT").find(_.current).get
    assert(after.files == cur.files,
      s"listFiles branch leaked _temporary payload into file count: $cur -> $after")
    assert(after.bytes == cur.bytes,
      s"listFiles branch leaked _temporary payload into bytes: $cur -> $after")
    assert(s("MSFT").count() == 10)
  }
}
