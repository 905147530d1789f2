package graft

import graft.sources.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import java.nio.file.Files
import java.sql.Timestamp

/** Property-based checks from SURVEY.md §5.3:
  *  - append-dedup idempotence: append(x); append(x) ≡ append(x)
  *  - range-query partition invariant: q[a,b] ⊎ q(b,c] ≡ q[a,c]
  *  - schema normalization is case-insensitive in column names
  * Row counts kept small — each case drives real Spark jobs.
  */
object StoreProps extends Properties("Store") {

  // GRAFT_PROPS_N widens the per-property sample count for dedicated
  // fuzz sweeps (the lifecycle receipts in PLANS.md); the suite default
  // stays small because every case drives real Spark jobs.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(sys.env.get("GRAFT_PROPS_N").map(_.toInt).getOrElse(5))

  private lazy val spark = TestSpark.session
  import spark.implicits._

  private def bars(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2020-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        rnd.nextDouble() * 100, rnd.nextInt(1000).toLong)
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  private def freshStore(): Store =
    Store.open(spark, Files.createTempDirectory("graft-prop").toString)

  private val smallN = Gen.choose(5, 25)

  property("append idempotence") = forAll(smallN, Gen.choose(1L, 999L)) { (n, seed) =>
    val s = freshStore()
    val a = bars(n, seed)
    val b = bars(n + 7, seed) // superset: same seed, longer walk prefix-equal dates
    s.write("K", a)
    s.append("K", b)
    val once = s("K").count()
    s.append("K", b)
    val twice = s("K").count()
    once == twice && once == (n + 7)
  }

  property("range partition invariant: q[a,b] ⊎ q(b,c] = q[a,c]") =
    forAll(Gen.choose(10, 30), Gen.choose(1L, 999L)) { (n, seed) =>
      val s = freshStore()
      s.write("K", bars(n, seed))
      def day(i: Int) = Timestamp.from(
        java.time.LocalDate.parse("2020-01-01").atStartOfDay(java.time.ZoneOffset.UTC)
          .plusDays(i).toInstant)
      val (a, b, c) = (day(1), day(n / 2), day(n - 1))
      val bPlus = new Timestamp(b.getTime + 1) // just past the inclusive bound
      val left = s.query("K", Some(a), Some(b)).count()
      val right = s.query("K", Some(bPlus), Some(c)).count()
      val whole = s.query("K", Some(a), Some(c)).count()
      left + right == whole
    }

  property("bucketed range query ≡ flat range query (non-aligned bounds)") =
    forAll(Gen.choose(20, 40), Gen.choose(1L, 999L), Gen.choose(0, 86399),
      Gen.choose(0, 86399)) { (n, seed, s1, s2) =>
      val data = bars(n, seed)
      val flat = freshStore()
      val bucketed = Store.open(
        spark, Files.createTempDirectory("graft-prop-b").toString,
        bucket = Some("day"))
      flat.write("K", data)
      bucketed.write("K", data)
      // bounds at arbitrary intra-day second offsets, possibly inverted
      def at(day: Int, sec: Int) = Timestamp.from(
        java.time.LocalDate.parse("2020-01-01").atStartOfDay(java.time.ZoneOffset.UTC)
          .plusDays(day).plusSeconds(sec).toInstant)
      val (a, b) = (at(2, math.min(s1, s2)), at(n - 2, math.max(s1, s2)))
      val f = flat.query("K", Some(a), Some(b))
      val g = bucketed.query("K", Some(a), Some(b))
      f.count() == g.count() && f.exceptAll(g).count() == 0
    }

  property("append idempotence with NULL-bearing rows, both paths") =
    forAll(Gen.choose(5, 20), Gen.choose(1L, 999L)) { (n, seed) =>
      // stored rows: every 3rd carries NULLs in two value columns (a
      // null-unsafe match never pairs those, so they would re-append
      // forever), every 4th a NaN, row 2 a -0.0. The batch overlaps
      // half of them, re-sends row 2 with +0.0, repeats rows inside
      // itself, and adds new rows, among them a -0.0/+0.0 sign-twin pair
      val rnd = new scala.util.Random(seed)
      val t0 = java.time.LocalDate.parse("2021-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC)
      def row(i: Int) =
        (Timestamp.from(t0.plusDays(i).toInstant),
          if (i % 4 == 1) Double.NaN else rnd.nextDouble(),
          if (i == 2) -0.0 else rnd.nextDouble(), rnd.nextDouble(),
          if (i % 3 == 0) None else Some(rnd.nextDouble()),
          if (i % 3 == 0) None else Some(rnd.nextInt(1000).toLong))
      val stored = (0 until n).map(row)
      val fresh = (n until n + 4).map(row)
      val batch = stored.take(n / 2) ++ Seq(stored(2).copy(_3 = 0.0)) ++
        fresh ++ fresh.take(2) ++
        Seq(fresh.head.copy(_3 = -0.0), fresh.head.copy(_3 = 0.0))
      def df(rows: Seq[(Timestamp, Double, Double, Double, Option[Double], Option[Long])]) =
        rows.toDF("date", "open", "high", "low", "close", "volume")
      val want = n + fresh.size + 1 // the sign twins are one new row
      val viaAppend = freshStore()
      viaAppend.write("K", df(stored))
      viaAppend.append("K", df(batch))
      viaAppend.append("K", df(batch))
      val viaNewOnly = freshStore()
      viaNewOnly.write("K", df(stored))
      viaNewOnly.appendNewOnly("K", df(batch))
      viaNewOnly.appendNewOnly("K", df(batch))
      viaAppend("K").count() == want && viaNewOnly("K").count() == want &&
        viaAppend("K").exceptAll(viaNewOnly("K")).count() == 0
    }

  property("concurrent appendNewOnly + compactIfNeeded + vacuum(0): no lost rows, stats intact") =
    forAll(Gen.choose(1L, 999L)) { seed => concurrentTorture(freshStore(), seed) }

  /** The same torture over `objstore://` ([[ObjStoreFs]]), whose
    * creates and deletes are per-object: commits racing vacuum's sweep
    * and torn-pointer repair, which must never mis-read a commit in
    * flight (it skips an item whose lock a mutation holds).
    */
  property("concurrent maintenance over copy+delete renames (objstore://): no lost rows") =
    forAll(Gen.choose(1L, 999L)) { seed =>
      spark.sparkContext.hadoopConfiguration
        .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
      val dir = "objstore://" + Files.createTempDirectory("graft-prop-obj").toString
      concurrentTorture(Store.open(spark, dir), seed)
    }

  /** Bucket-granular compaction under the same torture: bucket
    * rewrites racing appends and a force-vacuum must leave every row,
    * exactly like whole-item compaction does.
    */
  property("concurrent maintenance with compactBuckets (bucketed store): no lost rows") =
    forAll(Gen.choose(1L, 999L)) { seed =>
      val dir = Files.createTempDirectory("graft-prop-bc").toString
      concurrentTorture(
        Store.open(spark, dir, bucket = Some("month")), seed,
        st => { st.compactBuckets("K", maxFilesPerBucket = 1L); () })
    }

  /** 4 appender threads (distinct batches), one compaction loop, one
    * force-vacuum loop, all on ONE item: the per-item JVM locks
    * serialize the mutations and vacuum(0) skips the item while one
    * holds its lock — end state must hold every distinct row, and
    * describe() must still see footer stats (INT96 files carry none, so
    * a non-None minIndex proves no write slipped through under a racing
    * conf).
    */
  private def concurrentTorture(
      s: Store, seed: Long,
      maintainOp: Store => Unit = st => { st.compactIfNeeded("K", 2L); () }
  ): Boolean = {
      val batches = (0 until 4).map(i => bars(20, seed + i)) // distinct values per batch
      s.write("K", batches(0))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      def thread(body: => Unit): Thread = {
        val t = new Thread(() => try body catch { case e: Throwable => errs.add(e) })
        t.start(); t
      }
      val appenders = (1 until 4).map(i => thread { s.appendNewOnly("K", batches(i)) })
      val maintain = thread { while (!stop.get()) { maintainOp(s); Thread.sleep(5) } }
      val sweeper = thread { while (!stop.get()) { s.vacuum(0L); Thread.sleep(3) } }
      appenders.foreach(_.join())
      stop.set(true)
      maintain.join(); sweeper.join()
      val want = batches.reduce(_ unionByName _).dropDuplicates()
      val got = s("K")
      val stats = s.describe("K")
      val ok = errs.isEmpty &&
        got.count() == want.count() &&
        got.exceptAll(want).count() == 0 &&
        stats.minIndex.isDefined && stats.maxIndex.isDefined
      if (!ok) {
        System.err.println(s"[concurrent-prop] errs=${errs.size} got=${got.count()} " +
          s"want=${want.count()} missing=${want.exceptAll(got).count()} stats=$stats")
        errs.forEach(e => { System.err.println(s"[concurrent-prop] thread error: $e"); e.printStackTrace() })
      }
      ok
  }

  // ------------------------------------------------------------------
  // Randomized store-lifecycle fuzz (round 16): the enumerated crash
  // sweeps in ObjStoreSpec prove every LISTED crash point recovers;
  // this property searches the op-SEQUENCE space nobody enumerated. A
  // seeded generator drives a random sequence of lifecycle ops
  // (write / append / appendNewOnly / compact / compactIfNeeded /
  // compactBuckets / prune / drop / vacuum, plus deliberate
  // invalid-op probes, plus the CTAS staging triple
  // writeStagedVersion / commit / abort on fresh item names) over
  // objstore://, arming a random crash point before each maintenance op
  // with p≈3/4: after the n-th file the op writes (a data file or a
  // manifest), at its version manifest (the instant before the pointer
  // PUT), at the pointer itself (committed, nothing superseded deleted
  // yet), or at one of its deletes (inside a commit's best-effort
  // deletes, a drop's tree delete or vacuum's sweep). Each compactBuckets
  // first piles two one-row appends into a day bucket, so it always has
  // a bucket to rewrite. A crashed op is recovered exactly the way the
  // docs prescribe (vacuum(0) then retry once) and the run then
  // continues. Invariants, checked against a sequentially-replayed local
  // model: no row lost, no duplicate incarnation (footer row count ==
  // model size catches old+new mixes value-set equality would miss),
  // refusals only where documented, an uncommitted or aborted CTAS never
  // visible, vacuum converges to zero.
  // ------------------------------------------------------------------

  private type BarRow = (Timestamp, Double, Double, Double, Double, Long)

  private def barRows(n: Int, seed: Long): Seq[BarRow] = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2020-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until n).map { i =>
      (Timestamp.from(t0.plusDays(i).toInstant),
        rnd.nextDouble() * 100, rnd.nextDouble() * 100, rnd.nextDouble() * 100,
        rnd.nextDouble() * 100, rnd.nextInt(1000).toLong)
    }
  }

  private def dayTs(i: Int): Timestamp = Timestamp.from(
    java.time.LocalDate.parse("2020-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC).plusDays(i).toInstant)

  private def isInjected(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[ObjStoreFs.InjectedCrash]) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  property("randomized lifecycle fuzz over objstore:// with injected crashes") =
    forAll(Gen.choose(1L, 1000000L)) { seed => lifecycleFuzz(seed) }

  private def lifecycleFuzz(seed: Long): Boolean = {
    ObjStoreFs.reset()
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
    val rnd = new scala.util.Random(seed)
    val dir = "objstore://" + Files.createTempDirectory("graft-lfz").toString
    val s = Store.open(spark, dir, bucket = Some("day"))
    val nDays = 10
    val batches = (0 until 4).map(i => barRows(nDays, seed * 7 + i))
    def df(i: Int) = batches(i)
      .toDF("date", "open", "high", "low", "close", "volume")

    // sequential model: the row set the item must hold (date keyed as
    // epoch millis — rows are all at midnight so day-bucket prune is
    // exactly a date >= cutoff filter)
    val model = scala.collection.mutable.Set.empty[BarRow]
    var exists = false
    // committed CTAS items, each written once and never touched again
    val ctas = scala.collection.mutable.Map.empty[String, Set[BarRow]]
    var fired = 0
    val log = new scala.collection.mutable.ArrayBuffer[String]

    // one-shot: the armed hook disarms itself as it fires
    def crash(at: String): Nothing = {
      ObjStoreFs.afterWrite = None; ObjStoreFs.beforeDelete = None
      fired += 1
      throw new ObjStoreFs.InjectedCrash(s"injected crash $at")
    }
    def maybeArm(): Unit = if (rnd.nextInt(4) > 0) { // p=3/4
      val n = 1 + rnd.nextInt(3)
      var seen = 0
      rnd.nextInt(4) match {
        case 0 =>
          log += s"  armed after write $n"
          ObjStoreFs.afterWrite = Some { p => seen += 1; if (seen == n) crash(s"after writing $p") }
        case 1 =>
          log += "  armed at the version manifest"
          ObjStoreFs.afterWrite = Some(p => if (p.getName.startsWith("v-")) crash(s"after writing $p"))
        case 2 =>
          log += "  armed at the pointer"
          ObjStoreFs.afterWrite = Some(p => if (p.getName == "_current") crash(s"after writing $p"))
        case _ =>
          log += s"  armed before delete $n"
          ObjStoreFs.beforeDelete = Some { p => seen += 1; if (seen == n) crash(s"before deleting $p") }
      }
    }

    // run op; on an injected crash, recover the documented way
    // (vacuum(0) + retry once). Returns false on an UNdocumented error.
    def run(name: String, body: () => Unit, retryOk: Throwable => Boolean): Boolean = {
      log += s"op $name"
      try { body(); true }
      catch {
        case t: Throwable if isInjected(t) =>
          log += s"  crashed: ${t.getMessage}"
          s.vacuum(0L)
          try { body(); true }
          catch {
            case r: Throwable if retryOk(r) =>
              log += s"  retry refused as documented: ${r.getClass.getSimpleName}"
              true
            case r: Throwable =>
              log += s"  RETRY FAILED: $r"; false
          }
        case t: Throwable =>
          log += s"  UNDOCUMENTED ERROR: $t"; false
      }
    }

    val never = (_: Throwable) => false
    var ok = true
    val nOps = 14
    var step = 0
    while (ok && step < nOps) {
      step += 1
      if (rnd.nextInt(6) == 0) {
        // CTAS on a fresh name: the staged version must stay invisible
        // until commit; an aborted one must vanish. Every third one
        // runs a force-vacuum between stage and commit — the registered
        // in-flight id must survive it.
        val name = s"C${ctas.size}_$step"
        val b = rnd.nextInt(batches.size)
        log += s"op ctas($name, $b)"
        val id = s.writeStagedVersion(name, df(b))
        if (s.exists(name)) { log += s"staged $name visible before commit"; ok = false }
        else if (step % 3 == 0 || rnd.nextBoolean()) {
          if (step % 3 == 0) s.vacuum(0L)
          s.commitStagedVersion(name, id)
          ctas(name) = batches(b).toSet
        } else {
          s.abortStagedVersion(name, id)
          if (s.exists(name)) { log += s"aborted $name visible"; ok = false }
        }
      } else if (!exists) {
        // only creation is valid; also probe that everything else
        // refuses with the documented error
        if (rnd.nextBoolean()) {
          val probe = try { s.drop("K"); "no-error" }
          catch { case e: Throwable => e.getClass.getSimpleName }
          if (probe != "ItemKeyError") { log += s"drop on absent: $probe"; ok = false }
        }
        val b = rnd.nextInt(batches.size)
        ok = ok && run(s"write($b)", () => s.write("K", df(b)), never)
        if (ok) { model.clear(); model ++= batches(b); exists = true }
      } else rnd.nextInt(12) match {
        case 0 | 1 =>
          val b = rnd.nextInt(batches.size)
          ok = run(s"appendNewOnly($b)", () => s.appendNewOnly("K", df(b)), never)
          if (ok) model ++= batches(b)
        case 2 =>
          val b = rnd.nextInt(batches.size)
          ok = run(s"append($b)", () => s.append("K", df(b)), never)
          if (ok) model ++= batches(b)
        case 3 =>
          maybeArm()
          ok = run("compact", () => s.compact("K"), never)
        case 4 | 10 | 11 =>
          // pile two fresh one-row appends into one day bucket, so it
          // holds more than maxFilesPerBucket files and the
          // compactBuckets below rewrites it — an armed crash point then
          // has files to fire at
          val day = rnd.nextInt(nDays)
          (0 until 2).foreach { j =>
            val pile = barRows(1, seed * 31 + step * 2 + j).map(_.copy(_1 = dayTs(day)))
            ok = ok && run(s"appendNewOnly(pile $day)", () => s.appendNewOnly("K",
              pile.toDF("date", "open", "high", "low", "close", "volume")), never)
            if (ok) model ++= pile
          }
          if (ok) {
            maybeArm()
            ok = run("compactBuckets",
              () => { s.compactBuckets("K", maxFilesPerBucket = 1L); () }, never)
          }
        case 5 =>
          val cut = rnd.nextInt(nDays)
          maybeArm()
          ok = run(s"prune($cut)", () => { s.prune("K", dayTs(cut)); () }, never)
          if (ok) {
            val keep = model.filter(_._1.getTime >= dayTs(cut).getTime).toSet
            model.clear(); model ++= keep
          }
        case 6 =>
          maybeArm()
          ok = run("vacuum", () => { s.vacuum(0L); () }, never)
        case 7 =>
          maybeArm()
          // a crashed drop may have completed via the recovery vacuum:
          // the retry's ItemKeyError is the documented already-gone shape
          ok = run("drop", () => s.drop("K"),
            _.isInstanceOf[graft.sources.ItemKeyError])
          if (ok) { model.clear(); exists = false }
        case 8 =>
          // documented refusal probe: write on an existing item
          val probe = try { s.write("K", df(0)); "no-error" }
          catch { case e: Throwable => e.getClass.getSimpleName }
          if (probe != "ItemExistsError") { log += s"write on existing: $probe"; ok = false }
        case 9 =>
          ok = run("compactIfNeeded",
            () => { s.compactIfNeeded("K", 2L); () }, never)
      }
      // a point that never fired must not leak forward
      ObjStoreFs.afterWrite = None; ObjStoreFs.beforeDelete = None
    }

    // settle: recovery sweep, then convergence — a second vacuum must
    // find nothing left to do
    ok = ok && {
      s.vacuum(0L)
      val second = s.vacuum(0L)
      if (second != 0L) log += s"vacuum did not converge: second pass did $second"
      second == 0L
    }
    def rowsOf(key: String): Set[BarRow] =
      s(key).collect().map(r =>
        (r.getAs[Timestamp]("DATE"), r.getAs[Double]("OPEN"),
          r.getAs[Double]("HIGH"), r.getAs[Double]("LOW"),
          r.getAs[Double]("CLOSE"), r.getAs[Long]("VOLUME"))).toSet
    ok = ok && (if (!exists) {
      val gone = !s.exists("K")
      if (!gone) log += "item should not exist"
      gone
    } else {
      val got = rowsOf("K")
      val fRows = s.describe("K").rows
      val contentOk = got == model.toSet
      val countOk = fRows == model.size.toLong
      if (!contentOk) log +=
        s"content mismatch: got=${got.size} model=${model.size} " +
          s"missing=${(model.toSet -- got).take(3)} extra=${(got -- model.toSet).take(3)}"
      if (!countOk) log += s"footer rows=$fRows model=${model.size} (duplicate incarnation?)"
      contentOk && countOk
    })
    ok = ok && {
      val items = s.listItems().toSet
      val want = ctas.keySet.toSet ++ (if (exists) Set("K") else Set.empty)
      val ctasOk = ctas.forall { case (k, rows) =>
        rowsOf(k) == rows && s.describe(k).rows == rows.size.toLong }
      if (items != want) log += s"listItems=$items want=$want"
      if (!ctasOk) log += "a committed CTAS item lost or changed rows"
      items == want && ctasOk
    }
    // non-vacuity receipt: one line per sequence so a test-log reader
    // can see the searched interleavings really hit crash windows
    System.err.println(
      s"[lifecycle-fuzz] seed=$seed ops=$step crashesFired=$fired " +
        s"ctas=${ctas.size} endRows=${if (exists) model.size else -1} ok=$ok")
    if (!ok) log.foreach(l => System.err.println(s"[lifecycle-fuzz] $l"))
    ObjStoreFs.reset()
    ok
  }

  /** `Store.query` and `queryMany` read small slices on the driver; with
    * the driver read off (threshold -1) the same calls are distributed
    * scans. Both must give the same schema and the same row multiset on
    * bucketed and unbucketed stores, for unbounded, single-instant,
    * empty and arbitrary ranges, mixed-case projections, NULL / NaN /
    * ±0.0 values, and a non-UTC session time zone at read time.
    */
  property("driver-read slices ≡ distributed scans: rows and schema") =
    forAll(Gen.choose(1L, 1000000L)) { seed => driverReadEqualsScan(seed) }

  private def driverReadEqualsScan(seed: Long): Boolean = {
    val rnd = new scala.util.Random(seed)
    val bucket = Seq(None, Some("day"), Some("month"))(rnd.nextInt(3))
    val s = Store.open(spark, Files.createTempDirectory("graft-prop-q").toString,
      cols = Some(Seq("v" -> org.apache.spark.sql.types.DoubleType,
        "w" -> org.apache.spark.sql.types.DoubleType,
        "x" -> org.apache.spark.sql.types.LongType,
        "label" -> org.apache.spark.sql.types.StringType)),
      index = Some("ts"), bucket = bucket)
    val t0 = java.time.Instant.parse("2021-01-01T00:00:00Z")
    val stepSec = Seq(5 * 3600L, 11 * 3600L, 3 * 86400L)(rnd.nextInt(3))
    def rows(from: Int, n: Int) = (from until from + n).map { i =>
      (Timestamp.from(t0.plusSeconds(i * stepSec + rnd.nextInt(3600))),
        i % 5 match { case 0 => Double.NaN; case 1 => -0.0; case 2 => 0.0; case _ => rnd.nextDouble() },
        if (i % 3 == 0) None else Some(if (i % 2 == 0) -0.0 else rnd.nextGaussian()),
        if (i % 4 == 0) None else Some(rnd.nextLong()),
        if (i % 6 == 0) None else Some(s"r$i"))
    }
    def df(rs: Seq[(Timestamp, Double, Option[Double], Option[Long], Option[String])]) =
      rs.toDF("ts", "v", "w", "x", "label")
    val n = 10 + rnd.nextInt(40)
    val kRows = rows(0, n)
    s.write("K", df(kRows))
    s.appendNewOnly("K", df(rows(n, 1 + rnd.nextInt(10)))) // a second file
    s.write("L", df(rows(rnd.nextInt(n), n)))
    val times = kRows.map(_._1)
    def instant(): Timestamp = new Timestamp(
      times.head.getTime - 86400000L + (rnd.nextDouble() * (times.last.getTime - times.head.getTime + 2 * 86400000L)).toLong)
    val (start, end) = rnd.nextInt(5) match {
      case 0 => val t = times(rnd.nextInt(times.size)); (Some(t), Some(t)) // one instant
      case 1 => val (a, b) = (instant(), instant()) // empty: start after end
        (Some(if (a.after(b)) a else b), Some(if (a.after(b)) b else a))
      case _ =>
        def bound() = if (rnd.nextInt(4) == 0) None else Some(instant())
        (bound(), bound())
    }
    def mixedCase(c: String) = c.map(ch => if (rnd.nextBoolean()) ch.toUpper else ch.toLower)
    val columns =
      if (rnd.nextInt(3) == 0) None
      else Some(rnd.shuffle(Seq("ts", "v", "w", "x", "label")).take(1 + rnd.nextInt(5)).map(mixedCase))
    val tz = Seq("UTC", "America/New_York", "Asia/Kolkata", "Pacific/Chatham")(rnd.nextInt(4))

    def canon(d: DataFrame) = (d.schema, d.collect().toSeq.map(_.toSeq.map {
      case v: Double => java.lang.Double.doubleToLongBits(v) // NaN and -0.0 kept apart
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size })
    def same(what: String, local: => DataFrame): Boolean = {
      val (l, d) = (local, TestSpark.distributed(local))
      val (cl, cd) = (canon(l), canon(d))
      val ok = TestSpark.wasReadOnDriver(l) && !TestSpark.wasReadOnDriver(d) && cl == cd
      if (!ok) System.err.println(s"[driver-read-prop] seed=$seed $what bucket=$bucket tz=$tz " +
        s"range=($start, $end) columns=$columns\n driver=$cl\n scan=$cd")
      ok
    }
    TestSpark.withConf("spark.sql.session.timeZone", tz) {
      same("query", s.query("K", start, end, columns)) &&
        same("queryMany", s.queryMany(Seq("k", "L"), start, end, columns))
    }
  }

  /** Every mutation runs one kernel in one of two placements: with a
    * batch already on the driver (or none) and a small item, on the
    * calling thread with no Spark job; with the threshold at -1, in Spark
    * tasks. Each case runs write → append → appendNewOnly →
    * compactBuckets (bucketed stores) → compact on both sides and, after
    * every op, both stores must hold the same row multiset (-0.0 and
    * +0.0 kept apart, so normalization must agree), the same data files
    * per bucket, the same `describe` — rows, index bounds, file count
    * and bytes, so both placements write byte-identical files — and the
    * same footer-answered SQL count/min/max, answered from footers on
    * both sides or on neither. Inputs: NULL, NaN and ±0.0 values,
    * NULL-index rows, a batch spanning two buckets with duplicates inside
    * it, None/day/month buckets and small `chunkRows`.
    */
  property("driver mutations ≡ distributed mutations: rows, files, describe, footer SQL") =
    forAll(Gen.choose(1L, 1000000L)) { seed => driverMutationsEqualDistributed(seed) }

  private type MRow = (Option[Timestamp], Double, Option[Double], Option[Long], Option[String])

  private def driverMutationsEqualDistributed(seed: Long): Boolean = {
    val rnd = new scala.util.Random(seed)
    val bucket = Seq(None, Some("day"), Some("month"))(rnd.nextInt(3))
    val chunkRows = Seq(1000000L, 2L, 3L, 7L)(rnd.nextInt(4))
    // 2021-01-31 → 2021-02-02 in 5 h steps: every batch crosses a day
    // AND a month boundary
    val t0 = java.time.Instant.parse("2021-01-31T00:00:00Z")
    def row(i: Int): MRow =
      (if (i % 11 == 5) None else Some(Timestamp.from(t0.plusSeconds(i * 5 * 3600L + rnd.nextInt(3) * 60))),
        i % 5 match { case 0 => Double.NaN; case 1 => -0.0; case 2 => 0.0; case _ => rnd.nextInt(50) / 4.0 },
        if (i % 3 == 0) None else Some(if (i % 2 == 0) -0.0 else rnd.nextInt(9) / 2.0),
        if (i % 4 == 0) None else Some(rnd.nextInt(100).toLong),
        if (i % 6 == 0) None else Some(s"r${i % 4}"))
    val n = 4 + rnd.nextInt(8)
    val stored = (0 until n).map(row)
    val second = (n until n + 3 + rnd.nextInt(4)).map(row)
    val third = (n + 8 until n + 12 + rnd.nextInt(4)).map(row)
    def sign(r: MRow): MRow = r.copy(_2 = if (r._2 == 0.0) -r._2 else r._2)
    // overlap with stored rows (a ±0.0 twin among them), new rows,
    // duplicates inside the batch
    val batch1 = stored.take(n / 2).map(sign) ++ second ++ second.take(2)
    val batch2 = stored.takeRight(2) ++ second.take(1) ++ third ++ third.take(1).map(sign)
    def df(rs: Seq[MRow]) = rs.toDF("ts", "v", "w", "x", "label")

    def open(): (Store, String) = {
      val dir = Files.createTempDirectory("graft-prop-m").toString
      (Store.open(spark, dir, cols = Some(Seq("v" -> org.apache.spark.sql.types.DoubleType,
        "w" -> org.apache.spark.sql.types.DoubleType, "x" -> org.apache.spark.sql.types.LongType,
        "label" -> org.apache.spark.sql.types.StringType)),
        index = Some("ts"), bucket = bucket, chunkRows = chunkRows), dir)
    }
    val (drv, drvDir) = open()
    val (dist, distDir) = open()

    def canon(d: DataFrame) = d.collect().toSeq.map(_.toSeq.map {
      case v: Double => java.lang.Double.doubleToLongBits(v)
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }
    /** Data files per bucket of the current version. */
    def filesPerBucket(s: Store, dir: String): Map[String, Int] =
      LiveDir.files(s, "K").groupBy(_.getParent.getName).map { case (b, fs) => b -> fs.size }
    def footerSql(dir: String) = {
      val agg = spark.read.format("graft").option("item", "K").load(dir)
        .agg(count(lit(1)), min(col("TS")), max(col("TS")), min(col("X")), max(col("X")))
      (agg.collect().toSeq.map(_.toSeq),
        !agg.queryExecution.optimizedPlan.toString.contains("RelationV2"))
    }
    def same(step: String): Boolean = {
      val checks = Seq(
        "rows" -> (canon(drv("K")), canon(dist("K"))),
        "files per bucket" -> (filesPerBucket(drv, drvDir), filesPerBucket(dist, distDir)),
        "describe" -> (drv.describe("K"), dist.describe("K")),
        "footer sql" -> (footerSql(drvDir), footerSql(distDir)))
      val bad = checks.filter { case (_, (a, b)) => a != b }
      bad.foreach { case (what, (a, b)) =>
        System.err.println(s"[driver-mutation-prop] seed=$seed bucket=$bucket chunkRows=$chunkRows " +
          s"after $step: $what differs\n driver=$a\n distributed=$b")
      }
      bad.isEmpty
    }
    def step(name: String)(op: Store => Unit): Boolean = {
      val jobs = TestSpark.jobsDuring(op(drv))._2
      TestSpark.distributed(op(dist))
      if (jobs != 0)
        System.err.println(s"[driver-mutation-prop] seed=$seed $name on the driver started $jobs jobs")
      jobs == 0 && same(name)
    }
    step("write")(_.write("K", df(stored))) &&
      step("append")(_.append("K", df(batch1))) &&
      step("appendNewOnly")(_.appendNewOnly("K", df(batch2))) &&
      (bucket.isEmpty || step("compactBuckets")(s => s.compactBuckets("K", maxFilesPerBucket = 1L))) &&
      step("compact")(_.compact("K"))
  }

  property("normalization is case-insensitive in column names") =
    forAll(Gen.choose(5, 15), Gen.choose(1L, 999L)) { (n, seed) =>
      val s = freshStore()
      val canonical = bars(n, seed)
      val mangled = canonical.toDF(
        canonical.columns.map { c =>
          c.zipWithIndex.map { case (ch, i) =>
            if ((seed + i) % 2 == 0) ch.toUpper else ch.toLower
          }.mkString
        }.toIndexedSeq: _*
      )
      val a = s.normalize(canonical)
      val b = s.normalize(mangled)
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    }
}
