package graft

import graft.sources.{SchemaError, Store}
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataOutputStream, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.sql.Timestamp

/** Test-only local FileSystem whose `create(overwrite = false)` is
  * genuinely ATOMIC (java.nio `Files.createFile` = O_CREAT|O_EXCL),
  * unlike RawLocalFileSystem's check-then-act. This is the filesystem
  * class the lease protocol's exactness contract names — HDFS, or an
  * object store whose connector maps exclusive create to a conditional
  * PUT — so the steal-race stress below PROVES mutual exclusion rather
  * than relying on a narrow local-FS window. Registered under
  * `atomicfs://` via `fs.atomicfs.impl`.
  */
class AtomicFs extends RawLocalFileSystem {
  override def getScheme: String = "atomicfs"
  override def getUri: URI = AtomicFs.SchemeUri

  /** Same materialized-FileStatus trick as ObjStoreFs: the lazy
    * permission probe dies on non-file scheme URIs.
    */
  private def solid(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      FsPermission.getDirDefault, "graft", "graft", st.getPath)

  override def getFileStatus(f: HPath): FileStatus = solid(super.getFileStatus(f))
  override def listStatus(f: HPath): Array[FileStatus] =
    super.listStatus(f).map(solid)

  /** O_EXCL-create the file first, atomically, then open it for
    * writing; only the thread whose createFile won proceeds.
    */
  private def exclusiveTouch(f: HPath): Unit = {
    val file = pathToFile(f)
    Option(file.getParentFile).foreach(_.mkdirs())
    try java.nio.file.Files.createFile(file.toPath) // atomic O_EXCL
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$f already exists")
    }
  }

  // BOTH public create overloads must be covered: RawLocalFileSystem's
  // (Path, boolean, ...) overload does NOT funnel through the
  // permission one, and FileSystem.create(Path, boolean) lands there.
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) exclusiveTouch(f)
    super.create(f, true, bufferSize, replication, blockSize, progress)
  }

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite) exclusiveTouch(f)
    super.create(f, permission, true, bufferSize, replication, blockSize, progress)
  }
}

object AtomicFs {
  val SchemeUri: URI = URI.create("atomicfs:///")
}

/** [[AtomicFs]] plus TRANSIENT READ failures in wall-clock BURSTS:
  * while armed, every listStatus/open call inside a 300 ms window out
  * of each 900 ms throws IOException (bursts must outlast state()'s
  * ~200 ms internal retry budget — see maybeFail). The
  * exclusive-create arbitration itself never fails spuriously — the
  * injected flakiness is precisely the failure class the protocol must
  * never misread: a failed LIST is not "no lease exists", a failed
  * read of the max entry is not "stolen". Registered under
  * `flakyfs://`; [[FlakyAtomicFs.thrown]] counts the failures that
  * actually fired, so specs can prove the harness engaged.
  */
class FlakyAtomicFs extends AtomicFs {
  override def getScheme: String = "flakyfs"
  override def getUri: URI = FlakyAtomicFs.SchemeUri

  private def maybeFail(op: String): Unit =
    if (FlakyAtomicFs.armed.get()) {
      FlakyAtomicFs.calls.incrementAndGet()
      // TIME-based failure bursts (all reads fail for 300 ms out of
      // every 900 ms), the shape real object-store throttling has.
      // Bursts must OUTLAST state()'s internal retry budget (~200 ms
      // of backed-off re-lists): scattered or call-indexed failures
      // get absorbed by the retries and never force the protocol to
      // decide what an unreadable log MEANS — which is exactly the
      // decision this harness exists to check (mutation-verified: with
      // the old unreadable=NoLease bug re-introduced, a contender
      // whose burst-spanning retries exhaust mid-window claims the
      // free low slot and the overlap assertion below fails).
      if ((System.currentTimeMillis() / 300) % 3 == 1) {
        FlakyAtomicFs.thrown.incrementAndGet()
        throw new java.io.IOException(s"injected transient $op failure")
      }
    }

  override def listStatus(f: HPath): Array[FileStatus] = {
    maybeFail("listStatus")
    super.listStatus(f)
  }
  override def open(f: HPath, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    maybeFail("open")
    super.open(f, bufferSize)
  }
}

object FlakyAtomicFs {
  val SchemeUri: URI = URI.create("flakyfs:///")
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val calls = new java.util.concurrent.atomic.AtomicLong(0L)
  val thrown = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** [[AtomicFs]] whose next exclusive-create's content WRITE fails
  * (one-shot arming): the real slot file is created — 0 bytes, exactly
  * the on-disk state — and the returned stream throws on write. Models
  * a claimant that wins the create but cannot land content: an
  * interrupt surfacing mid-write, a disk error, a process about to
  * die. Registered under `writefailfs://`.
  */
class WriteFailFs extends AtomicFs {
  override def getScheme: String = "writefailfs"
  override def getUri: URI = WriteFailFs.SchemeUri

  private def maybeFailing(out: FSDataOutputStream, overwrite: Boolean): FSDataOutputStream =
    if (!overwrite && WriteFailFs.armOnce.compareAndSet(true, false)) {
      out.close() // the 0-byte slot file now exists, like the real failure
      new FSDataOutputStream(new java.io.OutputStream {
        override def write(b: Int): Unit =
          throw new java.io.IOException("injected content-write failure")
        override def write(b: Array[Byte], off: Int, len: Int): Unit =
          throw new java.io.IOException("injected content-write failure")
      }, null)
    } else out

  // both public create overloads, like AtomicFs: FileSystem.create(
  // Path, boolean) lands on the non-permission one
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    maybeFailing(
      super.create(f, overwrite, bufferSize, replication, blockSize, progress),
      overwrite)

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    maybeFailing(
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress),
      overwrite)
}

object WriteFailFs {
  val SchemeUri: URI = URI.create("writefailfs:///")
  val armOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/** [[AtomicFs]] that can HOLD one exclusive create at a gate: when
  * armed, the next `create(overwrite = false)` whose path contains the
  * armed substring signals [[BlockingCreateFs.arrived]] and parks on
  * [[BlockingCreateFs.gate]] BEFORE performing the create. This
  * freezes a lease claimant between its state read and its slot
  * create — the exact window the slot-log ABA lives in — so a spec can
  * interleave a foreign advance underneath it deterministically.
  * Registered under `blockfs://`.
  */
class BlockingCreateFs extends AtomicFs {
  override def getScheme: String = "blockfs"
  override def getUri: URI = BlockingCreateFs.SchemeUri

  private def maybeBlock(f: HPath, overwrite: Boolean): Unit =
    if (!overwrite && f.toUri.getPath.contains(BlockingCreateFs.pathContains) &&
        BlockingCreateFs.armed.compareAndSet(true, false)) {
      BlockingCreateFs.arrived.countDown()
      BlockingCreateFs.gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
    }

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    maybeBlock(f, overwrite)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    maybeBlock(f, overwrite)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object BlockingCreateFs {
  val SchemeUri: URI = URI.create("blockfs:///")
  @volatile var pathContains: String = "\u0000never"
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var arrived = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def arm(substr: String): Unit = {
    pathContains = substr
    arrived = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
    armed.set(true)
  }
}

/** The opt-in cross-JVM writer lease (`writerLease = true`), a slot
  * LOG under `.lease/<KEY>/`: every transition (acquire, steal, renew,
  * release) claims slot entry `e<seq+1>` by exclusive create; state is
  * the highest entry; release is a `-\n0` sentinel slot. The JVM-wide
  * per-item locks already serialize writers inside one driver; the
  * lease is the other-JVM story, so these tests impersonate a foreign
  * writer by planting slot entries by hand.
  */
class StoreLeaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  // the injected test filesystems' exclusive create IS atomic
  // (AtomicFs = O_EXCL via java.nio) — attest their schemes exactly
  // like an operator would attest a conditional-PUT object-store
  // connector; the unattested-refusal test below proves the other side
  System.setProperty("graft.store.lease.exactCreateSchemes",
    "atomicfs,flakyfs,writefailfs,blockfs")

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

  def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-lease").toString

  def hfs(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  def leaseDir(base: HPath, key: String): HPath =
    new HPath(new HPath(base, ".lease"), key)

  def slot(fs: FileSystem, dir: HPath, seq: Long, content: String): Unit =
    Store.writeUTF8(fs, new HPath(dir, f"e$seq%019d"), content)

  /** (uuid, expiry) of the current max slot; None = never leased. */
  def state(fs: FileSystem, dir: HPath): Option[(String, Long)] =
    Store.leaseState(fs, dir)

  def released(fs: FileSystem, dir: HPath): Boolean =
    state(fs, dir).forall(_._1 == "-")

  test("mutations acquire and release the lease; the store works end to end with leasing on") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    assert(released(fs, leaseDir(base, "MSFT")), "released after write")
    s.appendNewOnly("MSFT", bars(150))
    s.compact("MSFT")
    assert(s("MSFT").count() == 150)
    // every op released its lease (sentinel slot, uuid "-") on the way out
    assert(released(fs, leaseDir(base, "MSFT")))
    // and at most two slot entries survive (current + none below after GC)
    val entries = fs.listStatus(leaseDir(base, "MSFT")).map(_.getPath.getName)
    assert(entries.length <= 2, s"GC must bound the log: ${entries.toSeq}")
    s.drop("MSFT")
    assert(released(fs, leaseDir(base, "MSFT")))
  }

  test("a live foreign lease blocks writers until it expires; the failure names the remedy") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    // a foreign writer holds the current slot for another hour
    slot(fs, leaseDir(base, "MSFT"), 10,
      s"other-writer\n${System.currentTimeMillis() + 3600000L}")
    System.setProperty("graft.store.lease.waitMs", "300")
    try {
      val e = intercept[java.io.IOException](s.appendNewOnly("MSFT", bars(150)))
      assert(e.getMessage.contains("lease"), s"unhelpful error: ${e.getMessage}")
      assert(s("MSFT").count() == 100, "blocked writer must not have mutated")
    } finally System.clearProperty("graft.store.lease.waitMs")
    // the foreign holder's slot survived the failed contender
    assert(state(fs, leaseDir(base, "MSFT")).exists(_._1 == "other-writer"))
  }

  test("an expired foreign lease is stolen by claiming the NEXT slot — the stale entry is never deleted first") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    // a writer that died an hour ago, at slot 7
    slot(fs, leaseDir(base, "MSFT"), 7,
      s"dead-writer\n${System.currentTimeMillis() - 3600000L}")
    s.appendNewOnly("MSFT", bars(150))
    assert(s("MSFT").count() == 150)
    // the op stole via slot 8 and released via slot 9
    assert(released(fs, leaseDir(base, "MSFT")))
    val maxSeq = fs.listStatus(leaseDir(base, "MSFT")).map(_.getPath.getName)
      .filter(_.startsWith("e")).map(_.drop(1).toLong).max
    assert(maxSeq == 9, s"steal must extend the log past slot 7, got max $maxSeq")
  }

  test("a torn max slot is neither held nor expired: fail loudly, never steal blind") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    slot(fs, leaseDir(base, "MSFT"), 3, "garbage-without-expiry")
    System.setProperty("graft.store.lease.waitMs", "300")
    try intercept[java.io.IOException](s.appendNewOnly("MSFT", bars(150)))
    finally System.clearProperty("graft.store.lease.waitMs")
    // operator remedy: remove the corrupt entry, writes flow again
    fs.delete(new HPath(leaseDir(base, "MSFT"), f"e${3L}%019d"), false)
    s.appendNewOnly("MSFT", bars(150))
    assert(s("MSFT").count() == 150)
  }

  test("a torn max slot lapses with its file's ttl: a stale one is stolen, a fresh one waits and fails loudly") {
    // a writer killed while it wrote its slot entry leaves it torn; the
    // torn entry has no expiry of its own, so its file's mtime stands in
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    slot(fs, leaseDir(base, "MSFT"), 3, "garbage-without-expiry")
    System.setProperty("graft.store.lease.waitMs", "300")
    try {
      // fresh: its writer may still be mid-claim
      val e = intercept[java.io.IOException](s.appendNewOnly("MSFT", bars(150)))
      assert(e.getMessage.contains("unparseable"), s"unhelpful error: ${e.getMessage}")
      assert(s("MSFT").count() == 100, "a blocked writer must not have mutated")
      // older than the ttl (default 1 h): stolen through the next slot
      fs.setTimes(new HPath(leaseDir(base, "MSFT"), f"e${3L}%019d"),
        System.currentTimeMillis() - 2 * 3600000L, -1)
      s.appendNewOnly("MSFT", bars(150))
    } finally System.clearProperty("graft.store.lease.waitMs")
    assert(s("MSFT").count() == 150)
    assert(released(fs, leaseDir(base, "MSFT")))
  }

  test("a pre-log-vintage lease FILE at the dir path wedges loudly, not silently") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(50))
    fs.delete(leaseDir(base, "MSFT"), true)
    // an old-binary lease file occupies the path the log dir needs
    Store.writeUTF8(fs, leaseDir(base, "MSFT"), "old-writer\n123")
    System.setProperty("graft.store.lease.waitMs", "300")
    try intercept[java.io.IOException](s.appendNewOnly("MSFT", bars(60)))
    finally System.clearProperty("graft.store.lease.waitMs")
    fs.delete(leaseDir(base, "MSFT"), false)
    s.appendNewOnly("MSFT", bars(60))
    assert(s("MSFT").count() == 60)
  }

  test("the lease is RENEWED while an op outlives its ttl — ttl is a death detector, not an op bound") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    System.setProperty("graft.store.lease.ttlMs", "400")
    try {
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val opStart = System.currentTimeMillis()
      val opEnd = new java.util.concurrent.atomic.AtomicLong(0L)
      val t = new Thread(() => {
        s.compact("MSFT")
        opEnd.set(System.currentTimeMillis()); done.set(true)
      })
      t.start()
      // watch the lease log while the op runs: the max slot's expiry
      // must move forward (renewal claims fresh slots), never lapse
      // into stealable-expired
      val d = leaseDir(base, "MSFT")
      def expiry: Option[Long] =
        state(fs, d).filter(_._1 != "-").map(_._2)
      var first: Option[Long] = None
      val deadline = System.currentTimeMillis() + 10000
      while (first.isEmpty && System.currentTimeMillis() < deadline && !done.get())
        { first = expiry; Thread.sleep(20) }
      var renewed = false
      while (!renewed && System.currentTimeMillis() < deadline && !done.get()) {
        Thread.sleep(50)
        renewed = expiry.exists(e => first.exists(e > _))
      }
      t.join(30000)
      assert(done.get(), "compact must complete")
      // renewal is only REQUIRED when the op actually outlived the ttl
      val outlived = opEnd.get() - opStart > 450
      // the lease must have been OBSERVED during a long op (see the
      // round-8 note: a silently-absent lease would pass vacuously)
      assert(first.nonEmpty || opEnd.get() - opStart <= 2000,
        s"op ran ${opEnd.get() - opStart} ms yet no live lease was ever observed at $d")
      assert(renewed || !outlived || first.isEmpty,
        s"op ran ${opEnd.get() - opStart} ms > ttl yet the lease never renewed")
      // on failure, dump the whole lease log — name AND content per
      // entry — so an intermittent leaves enough evidence to diagnose
      def leaseDump(): String =
        try fs.listStatus(d).map { st =>
          val c = try Store.readUTF8(fs, st.getPath).replace("\n", "\\n")
            catch { case e: Throwable => s"<read failed: ${e.getMessage}>" }
          s"${st.getPath.getName}='$c'"
        }.mkString(", ")
        catch { case e: Throwable => s"<list failed: ${e.getMessage}>" }
      assert(released(fs, d),
        s"released after the op despite renewals; now=${System.currentTimeMillis()} dir: ${leaseDump()}")
      assert(s("MSFT").count() == 100)
    } finally System.clearProperty("graft.store.lease.ttlMs")
  }

  test("leasing off (default): no lease files are ever created") {
    val dir = freshDir()
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    s.compact("MSFT")
    assert(!fs.exists(new HPath(base, ".lease")))
  }

  test("EXACT steal race under atomic exclusive create: many contenders, never two holders") {
    // route the whole store (control plane only — no parquet runs here)
    // through AtomicFs, whose create(overwrite=false) is O_EXCL-atomic:
    // the filesystem class the protocol's exactness contract names.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.atomicfs.impl", classOf[AtomicFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-lease-atomic")
    val dir = "atomicfs://" + local.toString
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    // an expired foreign lease: every contender is entitled to steal it
    slot(fs, leaseDir(base, "RACE"), 1,
      s"dead-writer\n${System.currentTimeMillis() - 3600000L}")
    System.setProperty("graft.store.lease.waitMs", "30000")
    try {
      val contenders = 8
      val active = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
      val completed = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to contenders).map { _ =>
        new Thread(() => {
          try {
            s.withLease("RACE") {
              val now = active.incrementAndGet()
              maxActive.updateAndGet(m => math.max(m, now))
              Thread.sleep(25) // widen any violation window
              active.decrementAndGet()
              completed.incrementAndGet()
            }
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errors.isEmpty, s"contenders failed: ${errors.asScala().map(_.getMessage)}")
      assert(completed.get() == contenders, s"only ${completed.get()}/$contenders finished")
      assert(maxActive.get() == 1,
        s"MUTUAL EXCLUSION VIOLATED: ${maxActive.get()} concurrent holders")
      assert(released(fs, leaseDir(base, "RACE")), "last holder released")
    } finally System.clearProperty("graft.store.lease.waitMs")
  }

  test("transient read failures never seat a second writer (absence of evidence is not evidence of absence)") {
    // the regression guard for the review-pass bug class: a foreign
    // writer died at slot 5 — e1 is long GC'd — so a contender that
    // misreads ONE failed LIST as "empty log" would claim the FREE
    // slot 1 and seat itself beside whoever legitimately steals slot 6.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flakyfs.impl", classOf[FlakyAtomicFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-lease-flaky")
    val dir = "flakyfs://" + local.toString
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true) // setup unarmed
    slot(fs, leaseDir(base, "RACE"), 5,
      s"dead-writer\n${System.currentTimeMillis() - 3600000L}")
    System.setProperty("graft.store.lease.waitMs", "30000")
    FlakyAtomicFs.armed.set(true)
    try {
      val contenders = 6
      val active = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
      val completed = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to contenders).map { _ =>
        new Thread(() => {
          try {
            s.withLease("RACE") {
              val now = active.incrementAndGet()
              maxActive.updateAndGet(m => math.max(m, now))
              // holds must be LONG relative to state()'s ~200 ms retry
              // phase: a contender that wrongly concludes "no lease"
              // out of a failure burst claims its bogus slot right
              // after that phase, and only a still-running legitimate
              // holder turns the violation into an observable overlap
              // (mutation-checked: 20 ms holds let the bug escape)
              Thread.sleep(150)
              active.decrementAndGet()
              completed.incrementAndGet()
            }
          } catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(60000))
      assert(errors.isEmpty,
        s"contenders failed under flaky reads: ${errors.asScala().map(_.getMessage)}")
      assert(completed.get() == contenders, s"only ${completed.get()}/$contenders finished")
      assert(maxActive.get() == 1,
        s"MUTUAL EXCLUSION VIOLATED under transient read failures: ${maxActive.get()} holders")
      // the harness must have ENGAGED: zero thrown injections would
      // mean this test silently degenerated to the clean-FS steal test
      // (e.g. a refactor routing reads around listStatus/open)
      assert(FlakyAtomicFs.thrown.get() > 0,
        "no injected failure ever fired — the flaky harness is disconnected")
    } finally {
      FlakyAtomicFs.armed.set(false)
      System.clearProperty("graft.store.lease.waitMs")
    }
    assert(released(fs, leaseDir(base, "RACE")), "last holder released despite flaky reads")
    // and nobody ever took the slot-1 shortcut: the log advanced PAST
    // the dead writer's slot 5, it was never restarted below it
    val minSeq = fs.listStatus(leaseDir(base, "RACE")).map(_.getPath.getName)
      .filter(_.startsWith("e")).map(_.drop(1).toLong).min
    assert(minSeq > 5, s"a contender claimed a pre-GC slot (min=$minSeq): misread an empty listing")
  }

  test("a claim that wins the create but cannot land content retires its own slot — no torn wedge") {
    // the intermittent the full suite caught: the release-path
    // interrupt can surface inside the renewer's in-flight claim WRITE
    // (create landed, content didn't), and a permanent 0-byte max
    // entry wedges release and every later contender as torn-forever.
    // The claim must retire its own slot file on a content failure.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.writefailfs.impl", classOf[WriteFailFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-lease-wf")
    val dir = "writefailfs://" + local.toString
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    // the NEXT exclusive create (= the first lease slot claim of the
    // write below; store metadata writes use overwrite=true) fails at
    // content-write time
    WriteFailFs.armOnce.set(true)
    s.write("MSFT", bars(20)) // acquire retries past the failed claim
    assert(!WriteFailFs.armOnce.get(), "the injected failure must have fired")
    assert(s("MSFT").count() == 20)
    assert(released(fs, leaseDir(base, "MSFT")), "released cleanly after the retry")
    // and no torn debris: every surviving slot entry parses
    val d = leaseDir(base, "MSFT")
    fs.listStatus(d).foreach { st =>
      val c = Store.readUTF8(fs, st.getPath)
      assert(c.split("\n").length >= 2,
        s"torn 0-byte slot left behind: ${st.getPath.getName}='$c'")
    }
  }

  test("slot-number recycling cannot seat a stale claimant under a live foreign lease (ABA)") {
    // the round-10 review's HIGH finding: gc() deletes superseded slot
    // files, so a stealer frozen between deciding on slot N+1 and
    // creating it can win the create of a number that was already
    // claimed, superseded by a renewal, and SWEPT — its exclusive
    // create succeeds while a live foreign lease sits at a higher
    // slot. The post-claim confirmation (re-list, claimed slot must be
    // the true max) must catch this: the max entry is never deleted,
    // so the foreign higher slot is always visible.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.blockfs.impl", classOf[BlockingCreateFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-lease-aba")
    val dir = "blockfs://" + local.toString
    val (fs, base) = hfs(dir)
    val s = Store.open(spark, dir, writerLease = true)
    s.write("MSFT", bars(100))
    val d = leaseDir(base, "MSFT")
    // reset the log to: a foreign writer died at slot 7 — every
    // contender is entitled to steal by claiming slot 8
    fs.delete(d, true)
    slot(fs, d, 7, s"dead-writer\n${System.currentTimeMillis() - 3600000L}")
    // freeze the victim between its state read and its create of e8
    BlockingCreateFs.arm(f"/.lease/MSFT/e${8L}%019d")
    System.setProperty("graft.store.lease.waitMs", "2500")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try s.appendNewOnly("MSFT", bars(150))
      catch { case e: Throwable => err.set(e) }
    })
    try {
      t.start()
      assert(BlockingCreateFs.arrived.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "victim never reached its slot-8 create")
      // while the victim is frozen: a thief steals slot 8, renews to
      // slot 9, and gc's 8 — the net observable state is a live
      // foreign lease at e9 with slot number 8 free for recycling
      slot(fs, d, 9, s"thief\n${System.currentTimeMillis() + 3600000L}")
      BlockingCreateFs.gate.countDown() // the victim's e8 create now SUCCEEDS
      t.join(30000)
      assert(!t.isAlive, "victim wedged")
      // the victim must NOT have mutated under the thief's live lease:
      // its recycled-number claim is superseded — it retires the claim,
      // re-enters the wait loop, and fails loudly at its deadline
      assert(err.get() != null,
        "victim claimed a recycled GC'd slot and ran as a second writer")
      assert(err.get().getMessage.contains("lease"), s"wrong failure: ${err.get()}")
      assert(s("MSFT").count() == 100, "data mutated under a live foreign lease")
      assert(state(fs, d).exists(_._1 == "thief"), "foreign max entry must survive")
      assert(!fs.exists(new HPath(d, f"e${8L}%019d")),
        "the retired stale claim must not linger in the log")
    } finally {
      BlockingCreateFs.gate.countDown()
      System.clearProperty("graft.store.lease.waitMs")
    }
    // recovery: once the thief's lease expires, writes flow again
    Store.writeUTF8(fs, new HPath(d, f"e${9L}%019d"),
      s"thief\n${System.currentTimeMillis() - 10L}")
    s.appendNewOnly("MSFT", bars(150))
    assert(s("MSFT").count() == 150)
  }

  test("an unattested non-atomic-create FS refuses writerLease loudly at open — never silent best-effort") {
    // ObjStoreFs delegates create to RawLocalFileSystem: check-then-act,
    // the raw-object-store shape, and its scheme is NOT attested — so a
    // leased open must refuse with both remedies named, instead of
    // running a lease that is only usually exclusive
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjStoreFs].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-lease-refuse")
    val dir = "objstore://" + local.toString
    val s0 = Store.open(spark, dir) // leaseless use of the store is fine
    s0.write("MSFT", bars(10))
    val e = intercept[SchemaError](Store.open(spark, dir, writerLease = true))
    assert(e.getMessage.contains("exactCreateSchemes"),
      s"refusal must name the attestation remedy: ${e.getMessage}")
    val e2 = intercept[SchemaError](Store.attach(spark, dir, writerLease = true))
    assert(e2.getMessage.contains("exactCreateSchemes"))
    // with the operator attestation (the conditional-PUT deployment
    // story), the same open succeeds and the lease protocol runs
    val key = "graft.store.lease.exactCreateSchemes"
    val prev = System.getProperty(key)
    System.setProperty(key, prev + ",objstore")
    try {
      val s = Store.open(spark, dir, writerLease = true)
      s.appendNewOnly("MSFT", bars(20))
      assert(s("MSFT").count() == 20)
      assert(released(hfs(dir)._1, leaseDir(hfs(dir)._2, "MSFT")))
    } finally System.setProperty(key, prev)
  }

  implicit class QueueOps(q: java.util.concurrent.ConcurrentLinkedQueue[Throwable]) {
    def asScala(): Seq[Throwable] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }
}
