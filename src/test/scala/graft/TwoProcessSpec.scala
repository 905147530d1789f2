package graft

import graft.sources.Store
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import ChildJvm.tail

/** TRUE cross-process proof of the cross-JVM claims: a real second JVM
  * (forked on the sbt test classpath) acquires a lease / starts a
  * mutation and is HARD-KILLED — `destroyForcibly` from outside, or
  * `Runtime.halt` at an injected create or delete — then THIS
  * process observes, steals, and vacuums. Everything the in-process
  * suites simulate with thrown exceptions (ObjStoreSpec) or planted
  * files (StoreLeaseSpec) is exercised here across genuine process
  * death: no finally blocks ran in the child, no shared JVM state
  * helped.
  */
class TwoProcessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.session
    s.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
    s
  }
  import spark.implicits._

  def bars(n: Int, seed: Long = 31): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2021-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        1000L + rnd.nextInt(1000))
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  def hfs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Fork `CrashChild` ([[ChildJvm.fork]]). */
  def forkChild(childArgs: Seq[String], extraJvm: Seq[String]): (Process, java.io.File) =
    ChildJvm.fork("graft.CrashChild", childArgs, extraJvm)

  test("a lease held by a LIVE foreign process blocks this one; hard kill -> TTL lapse -> steal") {
    val dir = java.nio.file.Files.createTempDirectory("graft-2proc-lease").toString
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    val flag = java.nio.file.Files.createTempDirectory("graft-2proc").resolve("held")
    // child takes the lease with a 3 s TTL and renews every ~750 ms
    val (proc, log) = forkChild(
      Seq("hold", dir, "MSFT", flag.toString),
      Seq("-Dgraft.store.lease.ttlMs=3000"))
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(flag) &&
             System.currentTimeMillis() < deadline && proc.isAlive)
        Thread.sleep(100)
      assert(java.nio.file.Files.exists(flag),
        s"child never acquired the lease; log:\n${tail(log)}")

      // the child is ALIVE and renewing: this process must block and
      // then fail loudly — across real process boundaries, not threads
      System.setProperty("graft.store.lease.waitMs", "1500")
      val e = intercept[java.io.IOException](s.appendNewOnly("MSFT", bars(150)))
      assert(e.getMessage.contains("lease"), s"wrong failure: ${e.getMessage}")
      assert(s("MSFT").count() == 100)

      // kill -9: no release runs in the child. Renewals stop, the 3 s
      // TTL lapses, and this process steals by claiming the next slot.
      proc.destroyForcibly()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(!proc.isAlive, "child must be dead")
      System.setProperty("graft.store.lease.waitMs", "30000")
      s.appendNewOnly("MSFT", bars(150)) // steals within the wait budget
      assert(s("MSFT").count() == 150)
      assert(Store.leaseState(fs,
        new HPath(new HPath(base, ".lease"), "MSFT")).exists(_._1 == "-"),
        "this process released after the stolen op")
    } finally {
      System.clearProperty("graft.store.lease.waitMs")
      proc.destroyForcibly()
    }
  }

  test("two LIVE processes append under the lease concurrently: every row lands exactly once") {
    // the cross-JVM analogue of StoreProps' same-JVM concurrent-writer
    // torture: this process and a real second JVM interleave leased
    // appendNewOnly batches into ONE item. The lease serializes the
    // cross-process mutations; the anti-join guarantees idempotence —
    // together: no lost rows, no duplicates, exact final count.
    val dir = java.nio.file.Files.createTempDirectory("graft-2proc-appends").toString
    val s = Store.open(spark, dir, writerLease = true)
    // the ONE shared generator (TwoProcFixtures) both writers draw
    // from — the exactly-once count below rests on the batches of
    // different seeds being disjoint by construction
    def batch(seed: Int, i: Int): DataFrame = TwoProcFixtures.batch(spark, seed, i)
    s.write("RACE", batch(0, 0)) // seed the item (seed 0 ∩ others = ∅)
    val nBatches = 5
    val (proc, log) = forkChild(
      Seq("appendloop", dir, "RACE", nBatches.toString, "1"), Seq.empty)
    try {
      (0 until nBatches).foreach(i => s.appendNewOnly("RACE", batch(2, i)))
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"child appendloop did not finish; log:\n${tail(log)}")
      assert(proc.exitValue() == 0, s"child failed; log:\n${tail(log)}")
      assert(tail(log).contains("APPENDLOOP_DONE"), s"child incomplete; log:\n${tail(log)}")
      val expected = 50L * (1 + 2 * nBatches)
      assert(s("RACE").count() == expected,
        s"lost or phantom rows across two leased writer processes")
      assert(s("RACE").distinct().count() == expected, "duplicated rows")
      // both writers released: the lease log's max slot is the sentinel
      val (fs, base) = hfs(dir)
      assert(Store.leaseState(fs,
        new HPath(new HPath(base, ".lease"), "RACE")).exists(_._1 == "-"))
    } finally proc.destroyForcibly()
  }

  test("a versioned commit halted AT the pointer create in another process: parent reads the OLD version exactly and sweeps the orphan") {
    // the item layout's whole claim is that the commit is ONE
    // single-object pointer write — so the worst crash a foreign
    // process can inflict is dying with a fully-written new version
    // (files and manifests) and the pointer untouched. Child halt(43)s
    // the instant the `_current` create begins.
    val dir = "objstore://" +
      java.nio.file.Files.createTempDirectory("graft-2proc-vers").toString
    val s = Store.open(spark, dir, chunkRows = 50)
    s.write("MSFT", bars(120))
    val before = s("MSFT").collect().map(_.toSeq).toSet
    assert(before.size == 120)

    val (proc, log) = forkChild(Seq("versioncrash", dir, "MSFT"), Seq.empty)
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"child did not finish; log:\n${tail(log)}")
    assert(proc.exitValue() == 43,
      s"child must die AT the pointer-create halt (exit 43), got ${proc.exitValue()}; log:\n${tail(log)}")

    // the pointer still names the OLD version: reads here are exact,
    // with zero recovery required — that is the commit's atomicity
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "reads must see the pre-crash version exactly")
    val (fs, base) = hfs(dir)
    val itemDir = new HPath(new HPath(base, "items"), "MSFT")
    def versionDirs(): Seq[String] =
      fs.listStatus(itemDir).map(_.getPath.getName).filter(_.startsWith("v-")).toSeq
    assert(versionDirs().size == 2,
      s"expected live + orphaned version manifests, got ${versionDirs()}")
    // vacuum(0) (safe: the only other writer is provably dead) sweeps
    // the dead child's uncommitted version
    s.vacuum(0L)
    assert(versionDirs().size == 1, s"orphan must be swept, got ${versionDirs()}")
    assert(s("MSFT").collect().map(_.toSeq).toSet == before)
    // and the next commit is a clean pointer swap
    s.appendNewOnly("MSFT", bars(130))
    assert(s("MSFT").count() == 130)
  }

  test("a CTAS halted AT the pointer commit in another process: no visible item, orphan swept, re-CTAS clean") {
    // the staged-CTAS atomicity claim end-to-end against a REAL
    // process death (r13 verdict #5's crash half): the child runs
    // CREATE TABLE AS SELECT through the SQL catalog and halt(43)s the
    // instant the `_current` pointer create begins — its version dir
    // is fully written, the commit is not. The parent must see no item
    // anywhere (Store API, catalog listing), sweep the orphan, and a
    // re-CTAS of the same name must succeed cleanly.
    val dir = "objstore://" +
      java.nio.file.Files.createTempDirectory("graft-2proc-ctas").toString
    val s = Store.open(spark, dir, chunkRows = 50)
    s.write("SRC", bars(100))

    val (proc, log) = forkChild(Seq("ctascrash", dir, "CTASX"), Seq.empty)
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"child did not finish; log:\n${tail(log)}")
    assert(proc.exitValue() == 43,
      s"child must die AT the pointer-create halt (exit 43), got ${proc.exitValue()}; log:\n${tail(log)}")

    // no pointer ever landed: the item does not exist — the
    // errorifexists discipline held across a mid-commit crash
    assert(!s.exists("CTASX"), "crashed CTAS must leave no visible item")
    spark.conf.set("spark.sql.catalog.gpcrash", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpcrash.path", dir)
    val listed = spark.sql("SHOW TABLES IN gpcrash")
      .collect().map(_.getString(1)).toSet
    assert(listed == Set("SRC"), s"catalog must not list the crashed CTAS: $listed")
    // the dead child left a fully-written orphan version
    val (fs, base) = hfs(dir)
    val itemDir = new HPath(new HPath(base, "items"), "CTASX")
    def orphans(): Seq[String] =
      if (!fs.exists(itemDir)) Seq.empty
      else fs.listStatus(itemDir).map(_.getPath.getName).filter(_.startsWith("v-")).toSeq
    assert(orphans().size == 1, s"expected the staged orphan version manifest, got ${orphans()}")
    // vacuum(0): a pointer-ABSENT item's versions are genuine orphans
    s.vacuum(0L)
    assert(orphans().isEmpty, s"orphan must be swept, got ${orphans()}")
    // and the same CTAS now succeeds end-to-end
    spark.sql("CREATE TABLE gpcrash.CTASX AS SELECT * FROM gpcrash.SRC")
    assert(s.exists("CTASX"))
    assert(spark.sql("SELECT count(*) FROM gpcrash.CTASX").collect()(0).getLong(0) == 100L)
  }

  test("a compactBuckets halted at its first manifest create in another process leaves the old version exact; vacuum sweeps its files here") {
    val dir = "objstore://" +
      java.nio.file.Files.createTempDirectory("graft-2proc-manifest").toString
    // a piled January bucket (write + append => several data files), so
    // the child's compactBuckets rewrites it: every new data file is
    // written when the halt hits the first unit manifest create
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(31))
    s.appendNewOnly("MSFT", bars(31, seed = 32))
    val before = s("MSFT").collect().map(_.toSeq).toSet
    assert(before.size == 62)
    val (fs, base) = hfs(dir)
    val data = new HPath(new HPath(new HPath(base, "items"), "MSFT"), "data/__bucket=2021-01")
    def dataFiles(): Int = fs.listStatus(data).count(_.getPath.getName.endsWith(".parquet"))
    val named = dataFiles()

    val (proc, log) = forkChild(Seq("manifestcrash", dir, "MSFT"), Seq.empty)
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"child did not finish; log:\n${tail(log)}")
    assert(proc.exitValue() == 43,
      s"child must die AT the manifest-create halt (exit 43), got ${proc.exitValue()}; log:\n${tail(log)}")

    // nothing was committed: reads here are exact with no recovery
    assert(s("MSFT").collect().map(_.toSeq).toSet == before,
      "rows must survive a mid-mutation process death exactly")
    val dead = dataFiles() - named
    assert(dead > 0, "the dead writer's new data files are on disk")
    // vacuum(0) (safe: the only other writer is provably dead) sweeps them
    assert(s.vacuum(0L) == dead.toLong)
    assert(dataFiles() == named && s("MSFT").collect().map(_.toSeq).toSet == before)
    // and the item is writable again
    s.appendNewOnly("MSFT", bars(130)) // extends the seed-31 prefix
    assert(s("MSFT").count() == 130 + 31)
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 1) >= 1L)
    assert(s("MSFT").count() == 130 + 31)
  }

  test("randomized cross-JVM lifecycle fuzz: forked writer with halt kill points, in-process reads, model-checked recovery") {
    // Composition of StoreProps' randomized lifecycle fuzz with this
    // spec's real-process-death machinery (r16 verdict task #7): a
    // forked JVM drives a SEEDED random op sequence (appendNewOnly /
    // append / compact / vacuum) over a shared objstore:// store,
    // arming halts at data file and manifest creates, at the `_current`
    // pointer create, and inside deletes (a commit's or vacuum's, after
    // 0-1 matches pass) — so the writer dies at
    // random protocol offsets like a preempted executor, with no
    // finally blocks and no shared JVM state. This process concurrently probes
    // the reader/metadata surface (the class the round-16 walkFiles
    // race lived in), then recovers with ONE vacuum(0) and checks the
    // final store against a model replayed from the child's
    // confirmed-op log:
    //   - every CONFIRMED op's rows are present (nothing a dead writer
    //     completed is ever lost by recovery),
    //   - extra rows beyond the model can only come from the ONE
    //     in-flight op, and only if that op was an append form (a
    //     compact is a pointer swap: all or nothing; a vacuum touches
    //     only files the current version does not name, never rows),
    //   - footer row count == content count (no duplicate incarnation,
    //     no torn file contributing phantom rows),
    //   - vacuum converges (second pass sweeps 0), exactly one version
    //     manifest remains, and every data file left is one it names.
    // Mutations stay in the child: cross-JVM mutation without a writer
    // lease is documented-undefined, and objstore's check-then-act
    // create cannot honestly attest lease exactness — one mutator,
    // many readers is the objstore deployment model this searches.
    // GRAFT_XJVM_N widens the seed sweep (default 3; 25 for the
    // dedicated PLANS.md receipt), GRAFT_XJVM_SEED moves the base.
    val nSeeds = sys.env.get("GRAFT_XJVM_N").map(_.toInt).getOrElse(3)
    val baseSeed = sys.env.get("GRAFT_XJVM_SEED").map(_.toLong).getOrElse(1700L)
    def ks(seed: Int, b: Int): Set[Double] =
      (0 until 50).map(j => ((seed * 1000 + b) * 100 + j).toDouble).toSet
    (0 until nSeeds).foreach { idx =>
      val seed = baseSeed + idx
      val dir = "objstore://" +
        java.nio.file.Files.createTempDirectory("graft-2proc-fuzz").toString
      val s = Store.open(spark, dir)
      s.write("K", TwoProcFixtures.batch(spark, 0, 0))
      val (proc, log) = forkChild(Seq("fuzzlife", dir, seed.toString, "7"), Seq.empty)
      var probes = 0
      var probeOk = 0
      try {
        val deadline = System.currentTimeMillis() + 180000
        while (proc.isAlive && System.currentTimeMillis() < deadline) {
          // read/metadata probes against a LIVE foreign mutator. On
          // this simulated object store a probe can catch a per-file
          // copy mid-flight (real stores surface whole objects), so
          // probes are best-effort — the assertion is liveness (some
          // succeed), not per-probe success.
          try {
            probes % 3 match {
              case 0 => s.describe("K")
              case 1 => s("K").count()
              case _ => s.listItems()
            }
            probeOk += 1
          } catch { case _: Throwable => () }
          probes += 1
          Thread.sleep(100)
        }
        assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
          s"child hung; log:\n${tail(log)}")
        val exit = proc.exitValue()
        // 43 = halt-on-create, 44 = halt-on-delete, 0 = all ops
        // completed before any arm fired
        assert(Set(0, 43, 44).contains(exit),
          s"child died outside its halt points (exit $exit); log:\n${tail(log)}")
        val lines = new String(
          java.nio.file.Files.readAllBytes(log.toPath), "UTF-8").linesIterator.toVector
        val starts = lines.filter(_.startsWith("FUZZLIFE_START")).map { l =>
          val p = l.split(" "); (p(1), p(2))
        }
        val nOk = lines.count(_ == "FUZZLIFE_OK")
        assert(exit != 0 || (nOk == starts.size && lines.contains("FUZZLIFE_DONE")),
          s"clean exit but incomplete log; log:\n${tail(log)}")
        // model = initial batch + every CONFIRMED op's rows (compact
        // and vacuum add nothing); the one started-but-unconfirmed op
        // bounds the permitted extras
        val model = scala.collection.mutable.Set.empty[Double] ++ ks(0, 0)
        starts.take(nOk).foreach {
          case ("appendNewOnly", b) => model ++= ks(seed.toInt, b.toInt)
          case ("append", b)        => model ++= ks(seed.toInt, b.toInt)
          case _                    => ()
        }
        val inflight = starts.drop(nOk).headOption
        val allowedExtra: Set[Double] = inflight match {
          case Some(("appendNewOnly", b)) => ks(seed.toInt, b.toInt)
          case Some(("append", b))        => ks(seed.toInt, b.toInt)
          case _                          => Set.empty
        }
        // recovery: the writer is provably dead — one force sweep
        s.vacuum(0L)
        val got = s("K").collect().map(_.getAs[Double]("OPEN")).toSet
        val missing = model.toSet -- got
        assert(missing.isEmpty,
          s"seed=$seed: confirmed rows lost after recovery: ${missing.take(5)} " +
            s"(${missing.size} of ${model.size}); log:\n${tail(log)}")
        val phantom = got -- model -- allowedExtra
        assert(phantom.isEmpty,
          s"seed=$seed: rows from nowhere (or a non-append in-flight op " +
            s"leaked): ${phantom.take(5)}; inflight=$inflight; log:\n${tail(log)}")
        assert(s.describe("K").rows == got.size.toLong,
          s"seed=$seed: footer rows=${s.describe("K").rows} content=${got.size} " +
            "(duplicate incarnation or torn file)")
        assert(s.vacuum(0L) == 0L, s"seed=$seed: vacuum did not converge")
        val versions = s.versionsOf("K")
        assert(versions.size == 1 && versions.head.current,
          s"seed=$seed: orphan versions survived the sweep: $versions")
        // a writer that died mid-mutation leaves data files no manifest
        // names; the recovery vacuum must have reclaimed them
        val (fs, base) = hfs(dir)
        val left = fs.listFiles(new HPath(new HPath(base, "items"), "K"), true)
        var data = 0L
        while (left.hasNext) if (left.next().getPath.getName.endsWith(".parquet")) data += 1
        assert(data == versions.head.files,
          s"seed=$seed: $data data files on disk, ${versions.head.files} named: debris survived recovery")
        assert(probeOk > 0, s"seed=$seed: vacuous probe loop ($probes probes, 0 ok)")
        System.err.println(
          s"[xjvm-fuzz] seed=$seed exit=$exit confirmed=$nOk/" +
            s"${starts.size} inflight=${inflight.getOrElse("-")} " +
            s"rows=${got.size} probes=$probeOk/$probes ok=true")
      } finally proc.destroyForcibly()
    }
  }
}
