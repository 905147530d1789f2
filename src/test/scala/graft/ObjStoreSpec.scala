package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The control plane through RAW-OBJECT-STORE semantics. [[ObjStoreFs]]
  * (`objstore://` scheme) implements every rename as a per-object copy
  * followed by a per-object delete — what `s3a://` really does — with
  * injectable crash and pause points. This spec proves:
  *
  *  - every mutation, vacuum and drop performs ZERO renames: each
  *    commits by the single-object `_current` pointer PUT;
  *  - a reader paused inside a mutation, after any file it writes, sees
  *    exactly the old version;
  *  - a mutation that dies after any file it writes leaves the old
  *    version (or, past the pointer PUT, the new one) and debris that
  *    vacuum sweeps completely.
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

  /** A month-bucketed store whose MSFT item holds 62 rows, all in
    * January 2020, piled into four data files by a write and an append
    * (25 + 6 rows each) — so `compactBuckets(maxFilesPerBucket = 1)`
    * rewrites exactly ONE bucket, into its canonical three files.
    */
  def piled(dir: String): Store = {
    val s = open(dir, bucket = Some("month"), chunkRows = 25L)
    s.write("MSFT", bars(31))
    s.appendNewOnly("MSFT", bars(31, seed = 12))
    s
  }

  def compactJan(s: Store): Unit = { s.compactBuckets("MSFT", maxFilesPerBucket = 1); () }

  /** Every rename the FS saw under `base`. */
  def renamesUnder(base: String): Seq[(String, String)] = {
    val root = new HPath(base).toUri.getPath
    ObjStoreFs.renames.asScala.toSeq.filter { case (s, d) => s.startsWith(root) || d.startsWith(root) }
  }

  def injected(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ObjStoreFs.InjectedCrash])

  def rows(s: Store, key: String = "MSFT"): Set[Seq[Any]] =
    s(key).collect().map(_.toSeq).toSet

  test("versioned lifecycle: ZERO control-plane renames — commits are pointer PUTs only") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir, bucket = Some("month"))
    def noRenames(op: String): Unit =
      assert(renamesUnder(dir).isEmpty, s"$op renamed: ${renamesUnder(dir)}")
    s.write("MSFT", bars(100))
    noRenames("write")
    assert(s("MSFT").count() == 100)
    s.appendNewOnly("MSFT", bars(150)) // 50 new rows
    noRenames("appendNewOnly")
    assert(s("MSFT").count() == 150)
    s.append("MSFT", bars(200))
    noRenames("append")
    assert(s("MSFT").count() == 200)
    s.compact("MSFT")
    noRenames("compact")
    assert(s("MSFT").count() == 200)
    val q = s.query("MSFT",
      Some(Timestamp.valueOf("2020-02-01 00:00:00")),
      Some(Timestamp.valueOf("2020-02-29 00:00:00")))
    assert(q.count() == 29)
    assert(s.describe("MSFT").rows == 200)
    s.appendNewOnly("MSFT", bars(200, seed = 12))
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 1) >= 1L)
    noRenames("compactBuckets")
    assert(s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")) == 1L)
    noRenames("prune")
    val id = s.writeStagedVersion("CTAS", bars(10))
    s.commitStagedVersion("CTAS", id)
    s.abortStagedVersion("GONE", s.writeStagedVersion("GONE", bars(10)))
    noRenames("the staged CTAS")
    assert(s.vacuum(0L) == 0L, "clean commits leave nothing to vacuum")
    s.drop("MSFT") // pointer delete, then data-tree delete
    assert(!s.exists("MSFT"))
    assert(s.vacuum(0L) == 0L)
    noRenames("drop and vacuum")
  }

  test("reader isolation: a query and a describe paused after any file appendNewOnly, prune or compactBuckets writes see exactly the old version") {
    // each case: a fixture, the op, and the rows the op leaves
    val cases = Seq[(String, String => Store, Store => Unit)](
      // two new files, one per bucket: a pause between them is a
      // reader's chance to see half the batch
      ("appendNewOnly", dir => { val s = open(dir, Some("month")); s.write("MSFT", bars(62)); s },
        s => s.appendNewOnly("MSFT", bars(62, seed = 12))),
      // two expired buckets: the chance to see one gone, one not
      ("prune", dir => { val s = open(dir, Some("month")); s.write("MSFT", bars(100)); s },
        s => { assert(s.prune("MSFT", Timestamp.valueOf("2020-03-01 00:00:00")) == 2L); () }),
      ("compactBuckets", piled, compactJan))
    for ((name, fixture, op) <- cases) {
      ObjStoreFs.reset()
      val s = fixture(objDir())
      val old = rows(s)
      val oldRows = s.describe("MSFT").rows
      var pauses = 0
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      ObjStoreFs.afterWrite = Some { p =>
        if (p.getName != "_current") {
          val hook = ObjStoreFs.afterWrite
          ObjStoreFs.afterWrite = None // the reads below write nothing, but never re-enter
          pauses += 1
          val got = s.query("MSFT").collect().map(_.toSeq).toSet
          val d = s.describe("MSFT")
          if (got != old || d.rows != oldRows)
            seen += s"after ${p.getName}: query ${got.size} rows, describe ${d.rows} (old ${old.size})"
          ObjStoreFs.afterWrite = hook
        }
      }
      try op(s) finally ObjStoreFs.afterWrite = None
      assert(pauses > 0, s"$name wrote no file to pause after")
      assert(seen.isEmpty, s"$name: a paused reader saw a mix: ${seen.mkString("; ")}")
      val after = rows(s)
      assert(after != old || name == "compactBuckets")
      assert(s.describe("MSFT").rows == after.size)
    }
  }

  test("property: a mutation that dies after any file it writes leaves the old version, or past its pointer PUT the new one; vacuum sweeps every leftover") {
    // each op is run once per file it writes, dying (an injected crash
    // thrown from the close) after the n-th; a run that completes ends
    // the search for that op
    val ops = Seq[(String, Store => Unit)](
      "appendNewOnly" -> (_.appendNewOnly("MSFT", bars(62, seed = 13))),
      "append" -> (_.append("MSFT", bars(40, seed = 14))),
      "compact" -> (_.compact("MSFT")),
      "compactBuckets" -> compactJan,
      "prune" -> (s => { s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")); () }))
    for ((name, op) <- ops) {
      val want = { ObjStoreFs.reset(); val s = piled(objDir()); op(s); rows(s) }
      var n = 1
      var done = false
      while (!done) {
        ObjStoreFs.reset()
        val dir = objDir()
        val s = piled(dir)
        val old = rows(s)
        var writes = 0
        var committed = false
        ObjStoreFs.afterWrite = Some { p =>
          writes += 1
          if (p.getName == "_current") committed = true
          if (writes == n) throw new ObjStoreFs.InjectedCrash(s"injected crash after writing $p")
        }
        done = try { op(s); true } catch { case t: Throwable if injected(t) => false }
          finally ObjStoreFs.afterWrite = None
        val expect = if (done || committed) want else old
        assert(rows(s) == expect, s"$name crashed after write $n: wrong rows")
        s.vacuum(0L)
        assert(rows(s) == expect && s.describe("MSFT").rows == expect.size,
          s"$name crashed after write $n: vacuum changed the rows")
        assert(s.vacuum(0L) == 0L, s"$name crashed after write $n: vacuum did not converge")
        // every file left under the item is one the current version names
        val (fs, base) = hfs(dir)
        val item = new HPath(new HPath(base, "items"), "MSFT")
        val left = fs.listFiles(item, true)
        val named = s.versionsOf("MSFT").filter(_.current).map(_.files).sum
        var data = 0
        while (left.hasNext) if (left.next().getPath.getName.endsWith(".parquet")) data += 1
        assert(data == named, s"$name crashed after write $n: $data data files, $named named")
        // and the op runs to completion on the recovered store
        if (!done) { op(s); assert(rows(s) == want, s"$name rerun after crash $n") }
        n += 1
      }
      assert(n > 2, s"$name wrote fewer than one file before its commit")
    }
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
    // one-shot: the compact fires once, and describe retakes its listing
    ObjStoreFs.beforeDataOpen = Some(() => { s.compact("MSFT"); fired += 1 })
    val d = s.describe("MSFT")
    val compacted = s.versionsOf("MSFT").head
    assert(compacted.current && compacted.files == 1)
    assert(fired == 1 && d.rows == 31 && d.files == 1 && d.bytes == compacted.bytes, s"$d")
    assert(d.minIndex == before.minIndex && d.maxIndex == before.maxIndex, s"$d")

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

  test("prune crash mid-bucket-removal: vacuum finishes; re-running prune is a no-op") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // Jan..Apr 2020 buckets
    val total = s("MSFT").count()
    val jan = s.query("MSFT", None,
      Some(Timestamp.valueOf("2020-01-31 23:59:59"))).count()
    // die right after the pointer PUT, before the expired bucket's files
    // are deleted: the commit is done, the removal is not
    ObjStoreFs.afterWrite = Some(p => if (p.getName == "_current") {
      ObjStoreFs.afterWrite = None
      throw new ObjStoreFs.InjectedCrash(s"injected crash after writing $p")
    })
    intercept[ObjStoreFs.InjectedCrash](
      s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")))
    assert(s("MSFT").count() == total - jan, "readers see the pruned version at once")
    val (fs, base) = hfs(dir)
    val janDir = new HPath(LiveDir.hpath(s, "MSFT"), "__bucket=2020-01")
    assert(fs.listStatus(janDir).nonEmpty, "the crash left the expired bucket's files")
    assert(s.vacuum(0L) >= 1L)
    assert(!fs.exists(janDir), "vacuum finished the removal")
    assert(s("MSFT").count() == total - jan, "later buckets intact")
    // retention is re-runnable: the already-removed bucket is not seen
    assert(s.prune("MSFT", Timestamp.valueOf("2020-02-01 00:00:00")) == 0L)
    assert(s.vacuum(0L) == 0L)
  }

  test("drop crash in the delete phase: half-deleted item, vacuum finishes the drop") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir)
    s.write("MSFT", bars(100))
    s.appendNewOnly("MSFT", bars(150))
    // die at the data-tree delete that follows the pointer delete: the
    // pointer is gone, the version's manifests and files are left behind
    ObjStoreFs.beforeDelete = Some(p => if (p.getName == "MSFT") {
      ObjStoreFs.beforeDelete = None
      throw new ObjStoreFs.InjectedCrash(s"injected crash: delete of $p")
    })
    intercept[ObjStoreFs.InjectedCrash](s.drop("MSFT"))
    // the pointer delete IS the disappear: the item is already gone
    assert(!s.exists("MSFT") && s.listItems().isEmpty)
    val (fs, base) = hfs(dir)
    val item = new HPath(new HPath(base, "items"), "MSFT")
    assert(fs.listStatus(item).exists(_.getPath.getName.startsWith("v-")),
      "fixture must leave the dropped item's version manifest behind")
    // vacuum finishes the drop: no pointer names anything left
    assert(s.vacuum(0L) >= 1L)
    assert(!fs.exists(item), "the emptied item dir goes too")
    // and the key is writable again
    s.write("MSFT", bars(10))
    assert(s("MSFT").count() == 10)
  }

  test("vacuum: a commit that moves the pointer on between the sweep's pointer read and its manifest read is kept, never rolled back to an orphan version") {
    ObjStoreFs.reset()
    def fixture(d: String): Store = { val s = open(d, Some("month")); s.write("MSFT", bars(62)); s }
    def commit(s: Store): Unit = s.append("MSFT", bars(40, seed = 14))
    val want = { val s = fixture(objDir()); commit(s); rows(s) }
    val dir = objDir()
    val s = fixture(dir)
    // a complete orphan version: an appendNewOnly that died right after
    // writing its version manifest, before its pointer PUT
    ObjStoreFs.afterWrite = Some(p => if (p.getName.startsWith("v-")) {
      ObjStoreFs.afterWrite = None
      throw new ObjStoreFs.InjectedCrash(s"injected crash after writing $p")
    })
    intercept[ObjStoreFs.InjectedCrash](s.appendNewOnly("MSFT", bars(100, seed = 12)))
    val (fs, base) = hfs(dir)
    val item = new HPath(new HPath(base, "items"), "MSFT")
    def pointer() = Store.readUTF8(fs, new HPath(item, "_current")).trim
    val read = pointer()
    val orphan = fs.listStatus(item).map(_.getPath.getName).filter(n => n.startsWith("v-") && n != read)
    assert(orphan.length == 1, "fixture: one complete orphan version beside the current one")
    // the sweep has read the pointer; just before it reads the version
    // manifest the pointer named, another writer commits and deletes
    // that manifest (the item lock is reentrant, so a commit on the
    // sweep's own thread passes it as a writer in another JVM would)
    var fired = 0
    ObjStoreFs.beforeOpen = Some(p => if (p.getName == read) {
      ObjStoreFs.beforeOpen = None
      commit(s)
      fired += 1
    })
    s.vacuum(0L)
    assert(fired == 1, "the commit landed inside the sweep")
    assert(pointer() != read && pointer() != orphan.head, "the pointer names the commit's version")
    assert(rows(s) == want, "the committed rows survive vacuum")
    assert(!fs.exists(new HPath(item, orphan.head)), "the orphan version is swept")
    assert(s.vacuum(0L) == 0L)
    assert(rows(s) == want && s.describe("MSFT").rows == want.size)
  }

  test("vacuum: a bucket dir a prune deletes while the sweep walks its item counts as empty, and every other item is still swept") {
    ObjStoreFs.reset()
    val dir = objDir()
    val s = open(dir, bucket = Some("month"))
    s.write("AAPL", bars(100)) // Jan..Apr 2020 buckets
    s.write("MSFT", bars(100))
    val want = rows(s, "MSFT")
    val (fs, _) = hfs(dir)
    // one data file no manifest names in each item
    val orphans = Seq("AAPL", "MSFT").map(k =>
      new HPath(new HPath(LiveDir.hpath(s, k), "__bucket=2020-02"), "part-orphan.snappy.parquet"))
    orphans.foreach(fs.create(_).close())
    val jan = new HPath(LiveDir.hpath(s, "AAPL"), "__bucket=2020-01")
    // the walk has listed AAPL's data dir; just before it lists the
    // January bucket, a prune commits (on the sweep's thread, as a writer
    // in another JVM would) and deletes that bucket's dir
    var pruned = -1L
    ObjStoreFs.beforeList = Some(p => if (p.toUri.getPath == jan.toUri.getPath) {
      ObjStoreFs.beforeList = None
      pruned = s.prune("AAPL", Timestamp.valueOf("2020-02-01 00:00:00"))
    })
    assert(s.vacuum(0L) == 2L, "each item's orphan is swept")
    assert(pruned == 1L && !fs.exists(jan), "the prune deleted the bucket dir mid-walk")
    assert(!orphans.exists(fs.exists(_)))
    assert(rows(s, "MSFT") == want)
    assert(s.describe("AAPL").rows == 100L - 31L)
    assert(s.vacuum(0L) == 0L)
  }
}
