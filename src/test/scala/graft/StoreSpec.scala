package graft

import graft.sources.{ItemExistsError, ItemKeyError, SchemaError, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Ports the reference's five behavioral tests
  * (/root/reference/tests/test_store.py:35-82) against a deterministic
  * fixture — the reference downloads live MSFT bars from yfinance
  * (testing/yfinance.py:6-19), which is non-hermetic; we use a seeded
  * random walk instead. The reference's equality assertions are vacuous
  * (`(a == b).all` without parens, test_store.py:50,68); here they are
  * real checks.
  */
class StoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** ~1000 daily OHLCV bars from 2015-01-01, seeded random walk. */
  def bars(n: Int = 1000, seed: Long = 7, startDay: String = "2015-01-01"): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse(startDay).atStartOfDay(java.time.ZoneOffset.UTC)
    var px = 100.0
    (0 until n).map { i =>
      px = math.max(1.0, px + rnd.nextGaussian())
      val o = px; val h = px + rnd.nextDouble(); val l = px - rnd.nextDouble()
      val c = px + rnd.nextGaussian() * 0.2
      val v = 1000L + rnd.nextInt(100000)
      (Timestamp.from(t0.plusDays(i).toInstant), o, h, l, c, v)
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  def tmpDir(): String =
    Files.createTempDirectory("graft-store").toString

  test("create: store layout + schema persistence + conflict detection") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    assert(Files.exists(java.nio.file.Paths.get(dir, "items")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "schema.json")))
    assert(s.indexName == "DATE")
    assert(s.schema.fieldNames.toSeq ==
      Seq("DATE", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"))
    // reopen with same schema: fine; with conflicting: SchemaError
    Store.open(spark, dir)
    Store.open(spark, dir, cols = Some(Store.DefaultColumns), index = Some("DATE"))
    intercept[SchemaError] {
      Store.open(spark, dir, cols = Some(Seq("X" -> DoubleType)), index = Some("TS"))
    }
  }

  test("write + read-back equality (reference test_write_data, :47-50)") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    val df = bars(500)
    s.write("MSFT", df)
    val back = s("MSFT")
    assert(back.count() == 500)
    // full-row equality vs normalized input (order-independent)
    val want = s.normalize(df)
    assert(back.exceptAll(want).count() == 0)
    assert(want.exceptAll(back).count() == 0)
    // rewrite of an existing item is an error (store.py:203-204)
    intercept[ItemExistsError] { s.write("msft", df) } // case-folded key
  }

  test("query: inclusive range + empty-future-range (reference :53-62)") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(400))
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    val q = s.query("MSFT", Some(t0), Some(t1))
    val n = q.count()
    assert(n == 29, "inclusive on both ends: Feb 1 .. Mar 1 = 29 daily bars")
    val bounds = q.agg(min($"DATE"), max($"DATE")).as[(Timestamp, Timestamp)].head()
    assert(bounds._1 == t0 && bounds._2 == t1)
    // unbounded query returns everything
    assert(s.query("MSFT").count() == 400)
    // compat slice: rows dated after now() are invisible (store.py:253)
    val future = bars(10, seed = 9, startDay = "2300-01-01")
    s.append("MSFT", future)
    assert(s.query("MSFT").count() == 410)
    assert(s.sliceCompat("MSFT").count() == 400)
  }

  test("queryMany: union of pruned per-item reads, ITEM column, key folding + dedup") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(400))
    s.write("AAPL", bars(400, seed = 7))
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    // duplicate + lowercase keys resolve and dedupe; range applies per item
    val q = s.queryMany(Seq("msft", "AAPL", "MSFT"), Some(t0), Some(t1))
    assert(q.columns.head == "ITEM")
    val perItem = q.groupBy("ITEM").count().as[(String, Long)].collect().toMap
    assert(perItem == Map("MSFT" -> 29L, "AAPL" -> 29L))
    // rows equal the single-key reads, labeled
    val one = s.query("MSFT", Some(t0), Some(t1))
    assert(q.filter($"ITEM" === "MSFT").drop("ITEM").exceptAll(one).count() == 0)
    assert(one.exceptAll(q.filter($"ITEM" === "MSFT").drop("ITEM")).count() == 0)
    // projection flows through; empty keys and missing items fail fast
    assert(s.queryMany(Seq("MSFT"), columns = Some(Seq("date"))).columns.toSeq
      == Seq("ITEM", "DATE"))
    intercept[SchemaError] { s.queryMany(Seq.empty) }
    intercept[ItemKeyError] { s.queryMany(Seq("MSFT", "GOOG")) }
    // a stored ITEM column would silently collide with the origin column
    val s2 = Store.open(
      spark, tmpDir(),
      cols = Some(Seq("ITEM" -> org.apache.spark.sql.types.StringType)))
    intercept[SchemaError] { s2.queryMany(Seq("ANY")) }
  }

  test("append: dedup idempotence, both paths (reference :65-68)") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    val a = bars(300)
    val b = bars(500) // superset: first 300 rows identical
    s.write("K1", a)
    s.append("K1", b)
    assert(s("K1").count() == 500)
    s.append("K1", b) // idempotent
    assert(s("K1").count() == 500)

    val s2 = Store.open(spark, tmpDir())
    s2.write("K1", a)
    s2.appendNewOnly("K1", b)
    assert(s2("K1").count() == 500)
    s2.appendNewOnly("K1", b)
    assert(s2("K1").count() == 500)
    // both paths converge to the same rows
    assert(s("K1").exceptAll(s2("K1")).count() == 0)
  }

  test("bucketed layout: directory partition pruning on range queries") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(400)) // ~13 months from 2015-01-01
    assert(s("MSFT").count() == 400)
    assert(s("MSFT").columns.toSeq == s.schema.fieldNames.toSeq, "partition col hidden")
    // reopening with a conflicting bucket fails
    intercept[graft.sources.SchemaError] {
      Store.open(spark, dir, bucket = Some("day"))
    }
    // bucket layout visible on disk, under the item's data dir
    val parts = java.nio.file.Files.list(LiveDir(s, dir, "MSFT")).iterator()
    var sawBucketDir = false
    while (parts.hasNext) {
      if (parts.next().getFileName.toString.startsWith("__bucket=")) sawBucketDir = true
    }
    assert(sawBucketDir, "expected __bucket=... partition directories")
    // range query: correct inclusive result; the distributed scan reads
    // only files of the in-range bucket dirs, with the bounds pushed to
    // Parquet row-group stats
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    val q = TestSpark.distributed(s.query("MSFT", Some(t0), Some(t1)))
    assert(q.count() == 29)
    val buckets = TestSpark.parquetScans(q).flatMap(TestSpark.bucketDirNames).toSet
    assert(buckets == Set("__bucket=2015-02", "__bucket=2015-03"),
      s"expected only the in-range bucket dirs' files, scanned: $buckets")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[IsNotNull(DATE), GreaterThanOrEqual(DATE") &&
      plan.contains("LessThanOrEqual(DATE"), s"expected the bounds pushed in plan:\n$plan")
    // append paths preserve the bucketed layout
    s.append("MSFT", bars(450))
    assert(s("MSFT").count() == 450)
    s.appendNewOnly("MSFT", bars(470))
    assert(s("MSFT").count() == 470)
    assert(s.query("MSFT", Some(t0), Some(t1)).count() == 29)
  }

  test("bucketed store is timezone-safe: non-UTC session correct, drifted reads correct, drifted writes fail fast") {
    val tzKey = "spark.sql.session.timeZone"
    val orig = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val dir = tmpDir()
      val s = Store.open(spark, dir, bucket = Some("day"))
      // bars timestamped at 00:00 UTC = 19:00 previous day in New York —
      // every row straddles the tz day boundary, so a UTC-formatted
      // query bound against NY-formatted bucket dirs would mis-prune
      s.write("MSFT", bars(100))
      val t0 = Timestamp.valueOf("2015-01-10 00:00:00")
      val t1 = Timestamp.valueOf("2015-02-10 00:00:00")
      val got = s.query("MSFT", Some(t0), Some(t1)).count()
      // flat store = ground truth (no bucket pruning involved)
      val flat = Store.open(spark, tmpDir())
      flat.write("MSFT", bars(100))
      assert(got == flat.query("MSFT", Some(t0), Some(t1)).count())
      assert(got == 32, "Jan 10 .. Feb 10 inclusive = 32 daily bars")
      // READS under a drifted session are CORRECT, not refused: every
      // bucket bound renders under the PERSISTED store tz and residual
      // predicates compare instants — a read-only consumer in another
      // timezone (reopen or an already-open handle after a mid-session
      // tz change) sees the same rows
      spark.conf.set(tzKey, "UTC")
      assert(s.query("MSFT", Some(t0), Some(t1)).count() == 32)
      val reopened = Store.open(spark, dir)
      assert(reopened.query("MSFT", Some(t0), Some(t1)).count() == 32)
      // WRITES are where bucket labels get rendered (date_format is
      // session-tz codegen): a drifted bucketed write refuses with the
      // remedy named, instead of silently labeling rows into wrong
      // bucket directories
      val e = intercept[SchemaError] { s.appendNewOnly("MSFT", bars(100)) }
      assert(e.getMessage.contains("timeZone"), s"unhelpful: ${e.getMessage}")
      // maintenance that only COMPARES labels stays available under
      // drift (labels render under the store tz)
      assert(s.compactBuckets("MSFT", maxFilesPerBucket = 1000L) == 0L)
    } finally spark.conf.set(tzKey, orig)
  }

  test("chunkRows caps rows per written file (reference 1M-row chunks, store.py:27)") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, chunkRows = 100L)
    s.write("MSFT", bars(1000))
    assert(s("MSFT").count() == 1000)
    val files = java.nio.file.Files
      .walk(java.nio.file.Paths.get(dir, "items", "MSFT"))
      .iterator()
    var nFiles = 0
    while (files.hasNext) {
      val f = files.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        nFiles += 1
        val n = spark.read.parquet(f.toString).count()
        assert(n <= 100, s"file $f has $n rows > chunkRows=100")
      }
    }
    assert(nFiles >= 10, s"expected >= 10 capped files, saw $nFiles")
  }

  test("assignment sugar: store(k) = df writes, store.item(k) += df appends (store.py:130-139)") {
    val s = Store.open(spark, tmpDir())
    s("MSFT") = bars(300) // update desugaring = reference __setitem__
    assert(s("MSFT").count() == 300)
    intercept[ItemExistsError] { s("MSFT") = bars(300) }
    s.item("MSFT") += bars(500) // reference += idiom
    assert(s("MSFT").count() == 500)
    assert(s.item("msft").toDF.count() == 500) // lazy read, case-folded
    // item slicing mirrors store[k][t0:t1] incl. sliceCompat defaults
    assert(s.item("MSFT")(
      Timestamp.valueOf("2015-02-01 00:00:00"),
      Timestamp.valueOf("2015-03-01 00:00:00")).count() == 29)
    assert(s.item("MSFT").slice().count() == 500) // all rows predate now()
  }

  test("compact: merges small appended files back to the chunk contract, rows unchanged") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, chunkRows = 1000L)
    s.write("MSFT", bars(200))
    // 8 tiny appends → small-file accumulation (the appendNewOnly trade)
    for (i <- 1 to 8)
      s.appendNewOnly("MSFT", bars(200 + i * 25))
    val before = s("MSFT")
    val beforeRows = before.collect().toSet
    def parquetFiles() = {
      val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "items", "MSFT"))
      try {
        import scala.jdk.CollectionConverters._
        fs.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      } finally fs.close()
    }
    val nBefore = parquetFiles()
    s.compact("MSFT")
    val nAfter = parquetFiles()
    assert(nAfter < nBefore, s"expected fewer files after compact ($nBefore -> $nAfter)")
    assert(s("MSFT").collect().toSet == beforeRows, "compaction must not change data")
    // still prunable + sorted: a range query behaves identically
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    assert(s.query("MSFT", Some(t0), Some(t1)).count() == 29)
  }

  test("readStream: streaming tail-read of an item equals batch; appends arrive incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    // one shared checkpoint + file sink (memory sink cannot resume from
    // a checkpoint): the second run must process ONLY the files appended
    // since the first — a full reprocess would double-write the history
    val out = s"$dir/.stream-out"
    def runOnce(): Long = {
      val q = s.readStream("MSFT").writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", s"$dir/.chk")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(s.schema).parquet(out).count()
    }
    assert(runOnce() == 100)
    // batch equality on full content
    val streamed = spark.read.schema(s.schema).parquet(out)
    assert(streamed.exceptAll(s("MSFT")).count() == 0)
    assert(s("MSFT").exceptAll(streamed).count() == 0)
    // incremental: resume adds exactly the 50-row delta (150 total)
    s.appendNewOnly("MSFT", bars(150))
    assert(runOnce() == 150)
    assert(s("MSFT").count() == 150)
  }

  test("ingestStream: micro-batches land idempotently; fresh-checkpoint replay is a no-op") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    // source item feeding the stream (readStream needs an existing item)
    val src = Store.open(spark, s"$dir-src")
    src.write("FEED", bars(100))
    def ingestOnce(chk: String): Unit =
      s.ingestStream("MSFT", src.readStream("FEED"), chk).awaitTermination()
    ingestOnce(s"$dir/.chk1") // auto-creates the item on first batch
    assert(s("MSFT").count() == 100)
    assert(s("MSFT").exceptAll(src("FEED")).count() == 0)
    // resume from the SAME checkpoint after new upstream data: exactly
    // the delta is processed and appended
    src.appendNewOnly("FEED", bars(150))
    ingestOnce(s"$dir/.chk1")
    assert(s("MSFT").count() == 150)
    // replay EVERYTHING with a fresh checkpoint: every batch
    // re-delivered, every row anti-joins to nothing — no duplicates
    // (the crash-between-land-and-commit property, at full scale)
    ingestOnce(s"$dir/.chk2")
    assert(s("MSFT").count() == 150)
    assert(s("MSFT").exceptAll(src("FEED")).count() == 0)
  }

  test("describe: footer-only stats equal full-scan aggregates") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(123))
    // multiple files, incl. appended ones; a local batch is merged and
    // written on the driver — no Spark job at all
    val (_, appendJobs) =
      TestSpark.jobsDuring(s.appendNewOnly("MSFT", bars(200)))
    assert(appendJobs == 0, s"appendNewOnly started $appendJobs Spark jobs")
    // with the driver path off, the merge of a local batch is one
    // shuffle stage and the write — no sampling job, no join
    val (_, distributedJobs) =
      TestSpark.jobsDuring(TestSpark.distributed(s.appendNewOnly("MSFT", bars(230))))
    assert(distributedJobs <= 2, s"distributed appendNewOnly started $distributedJobs Spark jobs")
    // footers of a small item are read on driver threads: no job
    val (st, describeJobs) = TestSpark.jobsDuring(s.describe("MSFT"))
    assert(describeJobs == 0, s"describe started $describeJobs Spark jobs")
    // the item's count/min/max are footer-answered too: compare with
    // the index column scanned whole
    val (scanned, scanJobs) = TestSpark.jobsDuring(s("MSFT").select("DATE").collect())
    assert(scanJobs >= 1, "the job counter must see a scan's jobs")
    val dates = scanned.map(_.getTimestamp(0))
    assert(st.rows == dates.length)
    assert(st.minIndex.contains(dates.minBy(_.getTime)))
    assert(st.maxIndex.contains(dates.maxBy(_.getTime)))
    assert(st.files > 1, "expected several parquet files after append")
    assert(st.bytes > 0)
    // an empty but existing item yields zero rows and no bounds
    val s2 = Store.open(spark, tmpDir())
    s2.write("EMPTY", bars(1).filter(lit(false)))
    val st2 = s2.describe("EMPTY")
    assert(st2.rows == 0 && st2.minIndex.isEmpty && st2.maxIndex.isEmpty)
  }

  test("compactIfNeeded: trips only past maxFiles, restores file count, rows unchanged") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    // grow the item via small appends until well past the threshold
    (1 to 6).foreach(i => s.appendNewOnly("MSFT", bars(100 + i * 20)))
    val before = s.describe("MSFT")
    val rowsBefore = s("MSFT").collect().toSet
    // the decision is one listing: no footer read, no Spark job
    assert(TestSpark.jobsDuring(s.compactIfNeeded("MSFT", maxFiles = before.files + 1)) ==
      ((false, 0)), "under threshold: a no-op that starts no Spark job")
    assert(s.describe("MSFT").files == before.files, "no-op must not touch files")
    // a small item is read and rewritten on the driver: no Spark job
    assert(TestSpark.jobsDuring(s.compactIfNeeded("MSFT", maxFiles = before.files / 2)) ==
      ((true, 0)), "over threshold: compacts, on the driver")
    val after = s.describe("MSFT")
    // canonical floor for a month-bucketed item: one file per bucket
    val buckets = s("MSFT").select(date_format(col("DATE"), "yyyy-MM")).distinct().count()
    assert(after.files == buckets, s"expected $buckets files (one per bucket), got ${after.files}")
    assert(after.files < before.files)
    assert(after.rows == before.rows)
    assert(s("MSFT").collect().toSet == rowsBefore, "compaction must not change data")
    // the compacted layout still answers a pruned range query correctly
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    assert(s.query("MSFT", Some(t0), Some(t1)).count() == 29)
  }

  test("vacuum: sweeps stale driver-write temp files in live buckets; no read counts them") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    s.appendNewOnly("MSFT", bars(130))
    val want = (s.describe("MSFT"), s("MSFT").count(), s.query("MSFT").count())
    // a mutation that died after writing a data file and before its
    // commit: plant two such files, a copy of a real data file each, one
    // past vacuum's age guard, one fresh
    val bucketDir = LiveDir(s, dir, "MSFT").resolve("__bucket=2015-02")
    val data = Files.list(bucketDir).filter(_.toString.endsWith(".parquet")).findFirst().get
    val stale = bucketDir.resolve("part-00000-stale-c000.snappy.parquet")
    val fresh = bucketDir.resolve("part-00000-fresh-c000.snappy.parquet")
    Files.copy(data, stale)
    Files.copy(data, fresh)
    // likewise a local pointer commit that died before its rename, and
    // a unit manifest whose version never got written
    val itemDir = java.nio.file.Paths.get(dir, "items", "MSFT")
    val stalePtr = Files.write(itemDir.resolve(".graft-tmp-stale"), "v-x".getBytes)
    val freshPtr = Files.write(itemDir.resolve(".graft-tmp-fresh"), "v-x".getBytes)
    val staleUnit = Files.write(itemDir.resolve("u-stale"),
      Store.renderManifest(Seq("1" -> "data/__bucket=2015-02/part-00000-stale-c000.snappy.parquet")).getBytes)
    Seq(stale, stalePtr, staleUnit).foreach(f =>
      assert(f.toFile.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L)))
    def reads = (s.describe("MSFT"), s("MSFT").count(), s.query("MSFT").count())
    assert(reads == want, "a file no manifest names must never be counted")
    assert(TestSpark.distributed(s.query("MSFT").count()) == want._2)
    assert(s.vacuum() == 3L, "the default age guard sweeps only the stale files")
    assert(!Files.exists(stale) && Files.exists(fresh))
    assert(!Files.exists(stalePtr) && Files.exists(freshPtr) && !Files.exists(staleUnit))
    assert(reads == want)
  }
  /** Parquet files under `itemDir` whose index column lacks INT64
    * footer statistics in ANY row group — INT96 legacy timestamps (the
    * Spark default) have none, which silently disables row-group
    * pruning and describe(); the store must never produce such a file.
    */
  def filesWithoutIndexStats(itemDir: java.nio.file.Path, idx: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val walk = Files.walk(itemDir)
    try walk.iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .filterNot { f =>
        Store.readFooter(conf, new org.apache.hadoop.fs.Path(f.toString)).getBlocks.asScala.forall { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString.equalsIgnoreCase(idx))
            .exists { c =>
              val st = c.getStatistics
              st != null && !st.isEmpty && st.hasNonNullValue &&
                st.genericGetMin.isInstanceOf[java.lang.Long]
            }
        }
      }
      .map(_.toString).toVector
    finally walk.close()
  }

  test("micros pin: resident ingestStream racing batch writes — every file keeps INT64 index stats") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    val src = Store.open(spark, s"$dir-src")
    src.write("FEED", bars(100))
    // resident stream (NOT AvailableNow): its micro-batch writes on the
    // stream thread interleave with this thread's batch writes — the
    // exact schedule the old per-write set/restore conf swap raced
    // (restore on one thread mid-write on the other => INT96 files)
    val q = s.ingestStream(
      "STREAMED", src.readStream("FEED"), s"$dir/.chk",
      Trigger.ProcessingTime("25 milliseconds"))
    try {
      s.write("BATCHED", bars(50))
      (1 to 5).foreach { i =>
        src.appendNewOnly("FEED", bars(100 + i * 15))
        s.appendNewOnly("BATCHED", bars(50 + i * 10))
      }
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination() }
    assert(s("STREAMED").count() == 175)
    assert(s("BATCHED").count() == 100)
    // the invariant the race used to break: NO file anywhere in either
    // item is missing INT64 stats on the index column
    val itemsRoot = java.nio.file.Paths.get(dir, "items")
    assert(filesWithoutIndexStats(itemsRoot, "DATE").isEmpty,
      s"files without INT64 index stats: ${filesWithoutIndexStats(itemsRoot, "DATE")}")
    // and the per-write guard: a mid-session conf change fails fast
    // instead of landing stat-less INT96 files
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try intercept[SchemaError] { s.appendNewOnly("BATCHED", bars(120)) }
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // reopening any store re-pins the invariant
    Store.open(spark, dir, bucket = Some("month"))
    s.appendNewOnly("BATCHED", bars(120))
    assert(s("BATCHED").count() == 120)
    assert(filesWithoutIndexStats(itemsRoot, "DATE").isEmpty)
  }

  test("prune: drops whole expired buckets, keeps the cutoff's own bucket, no scan") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("day"))
    s.write("MSFT", bars(90)) // ~Jan-Apr 2015, one bucket per day
    val total = s("MSFT").count()
    val cutoff = Timestamp.valueOf("2015-02-10 12:00:00") // mid-bucket
    val expected = s.query("MSFT", Some(Timestamp.valueOf("2015-02-10 00:00:00")), None).count()
    val dropped = s.prune("MSFT", cutoff)
    assert(dropped > 0)
    // bucket-granular: everything from the cutoff's own bucket onward kept
    assert(s("MSFT").count() == expected)
    assert(s("MSFT").agg(min(col("DATE"))).head().getTimestamp(0)
      .compareTo(Timestamp.valueOf("2015-02-10 00:00:00")) >= 0)
    // idempotent: nothing else to drop at the same cutoff
    assert(s.prune("MSFT", cutoff) == 0)
    assert(s("MSFT").count() == expected && expected < total)
    // flat stores reject prune (no sub-scan deletion unit)
    val flat = Store.open(spark, tmpDir())
    flat.write("X", bars(5))
    intercept[SchemaError] { flat.prune("X", cutoff) }
  }

  test("query projection: pruned columns reach the parquet ReadSchema") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars())
    val q = TestSpark.distributed(s.query(
      "MSFT",
      Some(Timestamp.valueOf("2015-02-01 00:00:00")),
      Some(Timestamp.valueOf("2015-03-01 00:00:00")),
      columns = Some(Seq("close", "Volume")) // case-insensitive
    ))
    assert(q.columns.toSeq == Seq("CLOSE", "VOLUME"))
    assert(q.count() == 29) // inclusive bounds
    // the scan must decode only the index (for the residual range
    // filter) and the two requested columns — never the full width
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    val readSchema = "ReadSchema: ([^\\n]*)".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse(scan)
    assert(readSchema.contains("CLOSE") && readSchema.contains("VOLUME"))
    assert(!readSchema.contains("OPEN") && !readSchema.contains("HIGH") && !readSchema.contains("LOW"),
      s"unpruned scan: $readSchema")
    // unknown column fails fast
    intercept[SchemaError](s.query("MSFT", None, None, Some(Seq("nope"))))
  }

  test("driver-read slice: bucket pruning keeps an out-of-range corrupt file unread") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(400))
    val corrupt = LiveDir(s, dir, "MSFT").resolve("__bucket=2015-06").resolve("part-corrupt.parquet")
    Files.write(corrupt, "not parquet".getBytes)
    LiveDir.plant(s, "MSFT", new org.apache.hadoop.fs.Path(corrupt.toUri))
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    val q = s.query("MSFT", Some(t0), Some(t1))
    assert(TestSpark.wasReadOnDriver(q))
    assert(q.count() == 29)
    // the file is listed and read when its bucket is in range
    intercept[Exception](s.query("MSFT", Some(t0), Some(Timestamp.valueOf("2015-06-15 00:00:00"))))
  }

  test("driver-read slice: the LocalRelation holds only the index and the requested columns") {
    val s = Store.open(spark, tmpDir())
    s.write("MSFT", bars())
    val q = s.query(
      "MSFT",
      Some(Timestamp.valueOf("2015-02-01 00:00:00")),
      Some(Timestamp.valueOf("2015-03-01 00:00:00")),
      columns = Some(Seq("close", "Volume")))
    assert(q.columns.toSeq == Seq("CLOSE", "VOLUME"))
    assert(q.count() == 29)
    val leaves = q.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1 && TestSpark.wasReadOnDriver(q), leaves.mkString("\n"))
    assert(leaves.head.output.map(_.name) == Seq("DATE", "CLOSE", "VOLUME"))
    // the row-based parquet reader (schemas the vectorized one cannot
    // decode) reads the same rows
    val rowBased = TestSpark.withConf("spark.sql.parquet.enableVectorizedReader", "false") {
      s.query("MSFT", Some(Timestamp.valueOf("2015-02-01 00:00:00")),
        Some(Timestamp.valueOf("2015-03-01 00:00:00")), columns = Some(Seq("close", "Volume")))
    }
    assert(TestSpark.wasReadOnDriver(rowBased))
    assert(rowBased.collect().toSeq == q.collect().toSeq)
  }

  test("driver-read slice: collecting a small query starts no Spark job") {
    val s = Store.open(spark, tmpDir(), bucket = Some("day"))
    s.write("MSFT", bars(100))
    val t0 = Timestamp.valueOf("2015-02-01 00:00:00")
    val t1 = Timestamp.valueOf("2015-03-01 00:00:00")
    val (rows, jobs) = TestSpark.jobsDuring(s.query("MSFT", Some(t0), Some(t1)).collect())
    assert(rows.length == 29 && jobs == 0, s"driver read started $jobs jobs")
    val (many, manyJobs) =
      TestSpark.jobsDuring(s.queryMany(Seq("MSFT"), Some(t0), Some(t1)).collect())
    assert(many.length == 29 && manyJobs == 0, s"driver queryMany started $manyJobs jobs")
    val (_, scanJobs) =
      TestSpark.jobsDuring(TestSpark.distributed(s.query("MSFT", Some(t0), Some(t1))).collect())
    assert(scanJobs > 0, "the distributed branch runs a job: the counter sees it")
  }

  test("queryMany decides on the total size: small keys that add up past the limit are scanned") {
    val s = Store.open(spark, tmpDir())
    s.write("MSFT", bars(400))
    s.write("AAPL", bars(400, seed = 8))
    val (a, b) = (s.describe("MSFT").bytes, s.describe("AAPL").bytes)
    TestSpark.withConf("spark.sql.sources.fileCompressionFactor", "1.0") {
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", (math.max(a, b) + 1).toString) {
        assert(TestSpark.wasReadOnDriver(s.query("MSFT")) && TestSpark.wasReadOnDriver(s.query("AAPL")))
        val both = s.queryMany(Seq("MSFT", "AAPL"))
        assert(!TestSpark.wasReadOnDriver(both), "a + b bytes are past the limit")
        assert(both.count() == 800)
      }
      TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", (a + b).toString) {
        assert(TestSpark.wasReadOnDriver(s.queryMany(Seq("MSFT", "AAPL"))))
      }
    }
  }

  test("drop removes one item, leaves the store and other items intact") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("AAA", bars(100))
    s.write("BBB", bars(100))
    s.drop("AAA")
    assert(!s.exists("AAA") && s.exists("BBB"))
    assert(s.listItems() == Seq("BBB"))
    assert(s("BBB").count() == 100)
    intercept[ItemKeyError](s.drop("AAA")) // already gone
    // the key is reusable after a drop
    s.write("AAA", bars(50))
    assert(s("AAA").count() == 50)
  }

  test("key validation (reference :71-82)") {
    val s = Store.open(spark, tmpDir())
    for (bad <- Seq("", "a b", "a/b", "a$b", "ключ", "a\nb", "a:b"))
      intercept[ItemKeyError] { s.validateKey(bad) }
    assert(s.validateKey("msft-2.b_x") == "MSFT-2.B_X")
    intercept[ItemKeyError] { s("NOPE") }
  }

  test("normalize: case-insensitive match, extra cols dropped, real cast, missing col error") {
    val s = Store.open(spark, tmpDir())
    val df = Seq(
      ("2020-01-01 00:00:00", 1, 2, 0, 1, "5", "junk")
    ).toDF("Date", "oPen", "HIGH", "low", "close", "volume", "extra")
      .withColumn("Date", $"Date".cast(TimestampType))
    val out = s.normalize(df)
    assert(out.columns.toSeq == Seq("DATE", "OPEN", "HIGH", "LOW", "CLOSE", "VOLUME"))
    assert(out.schema("OPEN").dataType == DoubleType) // int really cast (store.py:168 bug fixed)
    assert(out.schema("VOLUME").dataType == LongType) // string "5" cast to long
    assert(out.as[(Timestamp, Double, Double, Double, Double, Long)].head()._6 == 5L)
    intercept[SchemaError] { s.normalize(df.drop("close")) }
  }

  test("compactBuckets: rewrites only oversized buckets, cold buckets byte-untouched") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    // three appends landing in Jan-Feb 2015 pile small files into those
    // buckets; a fourth, disjoint append makes a single-file cold bucket
    s.write("MSFT", bars(40)) // Jan 1 .. Feb 9
    s.appendNewOnly("MSFT", bars(40, seed = 8))
    s.appendNewOnly("MSFT", bars(40, seed = 9))
    s.appendNewOnly("MSFT", bars(10, startDay = "2015-06-01")) // cold bucket
    val before = s("MSFT").collect().map(_.toSeq).toSet
    import scala.jdk.CollectionConverters._
    def filesIn(bucket: String): Set[String] =
      LiveDir.files(s, "MSFT").filter(_.getParent.getName == s"__bucket=$bucket").map(_.getName).toSet
    val coldBefore = filesIn("2015-06")
    val janBefore = filesIn("2015-01").size
    assert(janBefore > 2, s"fixture must pile files in Jan (got $janBefore)")
    val rewritten = s.compactBuckets("MSFT", maxFilesPerBucket = 2)
    assert(rewritten >= 1, "at least the Jan bucket must trip the threshold")
    assert(filesIn("2015-01").size < janBefore, "oversized bucket rewritten smaller")
    assert(filesIn("2015-06") == coldBefore, "cold bucket files untouched (same names)")
    assert(s("MSFT").collect().map(_.toSeq).toSet == before, "rows preserved exactly")
    assert(s.describe("MSFT").rows == before.size, "no duplicated rows")
    // threshold satisfied now: a second pass is a metadata-only no-op
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 2) == 0L)
    // the since bound skips older buckets entirely: pile files into Jan
    // again, then compact only from June — Jan must stay oversized
    s.appendNewOnly("MSFT", bars(40, seed = 21))
    s.appendNewOnly("MSFT", bars(40, seed = 22))
    val janPiled = filesIn("2015-01").size
    assert(janPiled > 2)
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 2,
      since = Some(Timestamp.valueOf("2015-06-01 00:00:00"))) == 0L)
    assert(filesIn("2015-01").size == janPiled, "pre-cutoff bucket untouched")
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 2) >= 1L)
    // non-bucketed stores have no sub-item rewrite unit
    val unbucketed = Store.open(spark, tmpDir())
    unbucketed.write("MSFT", bars(10))
    intercept[SchemaError] { unbucketed.compactBuckets("MSFT") }
  }

  test("compactBuckets rewrites a bucket of canonical file count whose files overlap; the rewrite's ranges are disjoint") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"), chunkRows = 10L)
    // four batches of 10 rows over the same ten January days: each
    // lands as one 10-row file, so January holds its canonical count of
    // 4 files, every one spanning Jan 1 .. Jan 10
    s.write("MSFT", bars(10))
    (8 to 10).foreach(seed => s.appendNewOnly("MSFT", bars(10, seed = seed.toLong)))
    val before = s("MSFT").collect().map(_.toSeq).toSet
    def ranges(): Seq[(Long, Long)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = LiveDir.files(s, "MSFT").filter(_.getParent.getName == "__bucket=2015-01")
      files.map { f =>
        val cs = Store.readFooter(conf, f).getBlocks.asScala
          .map(_.getColumns.asScala.find(_.getPath.toDotString == "DATE").get.getStatistics)
        (cs.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
          cs.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max)
      }.sortBy(_._1)
    }
    def disjoint(rs: Seq[(Long, Long)]): Boolean =
      rs.zip(rs.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo }
    assert(ranges().size == 4 && !disjoint(ranges()), s"fixture: ${ranges()}")
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 2) == 1L)
    assert(ranges().size <= 4 && disjoint(ranges()), s"after compactBuckets: ${ranges()}")
    assert(s("MSFT").collect().map(_.toSeq).toSet == before, "rows preserved exactly")
    assert(s.compactBuckets("MSFT", maxFilesPerBucket = 2) == 0L, "the rewrite is a fixed point")
  }

  test("a transient job failure inside a mutation leaves the item as it was — no vacuum needed") {
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(100))
    val before = s("MSFT").collect().toSet
    // a batch that fails at ACTION time (inside the mutation's write),
    // like an executor OOM or a flaky object store would: assert_true
    // throws mid-job, before the commit
    val poison = bars(50, seed = 99)
      .withColumn("open", expr("assert_true(open > 1e18)").cast("double"))
    intercept[Exception] { s.append("MSFT", poison) }
    assert(s("MSFT").collect().toSet == before, "a failed mutation commits nothing")
    // the very next mutation runs WITHOUT any vacuum() in between
    s.append("MSFT", bars(150))
    assert(s("MSFT").count() == 150)
  }
  test("files no manifest names — in-flight _temporary payload, hidden or non-parquet files — are invisible to ALL metadata") {
    // Every read takes its files from the version's manifests, so what a
    // concurrent or failed writer leaves among the data files — a
    // committer's `_temporary/**.parquet` payload, a `.`-prefixed dir, a
    // stray non-parquet file — counts nowhere until a commit names it.
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(10))
    val cur = s.versionsOf("MSFT").find(_.current).get
    val vDir = LiveDir(s, dir, "MSFT")
    val tmpTask = vDir.resolve("_temporary").resolve("0").resolve("task-0")
    val dotPart = vDir.resolve(".x=1")
    java.nio.file.Files.createDirectories(tmpTask)
    java.nio.file.Files.createDirectories(dotPart)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(vDir)
    val firstParquet =
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
      finally walk.close()
    java.nio.file.Files.copy(
      firstParquet, tmpTask.resolve("part-00000-inflight.snappy.parquet"))
    java.nio.file.Files.copy(
      firstParquet, dotPart.resolve("part-00000-hidden.snappy.parquet"))
    java.nio.file.Files.copy(firstParquet, vDir.resolve("part-00000-unnamed.snappy.parquet"))
    val after = s.versionsOf("MSFT").find(_.current).get
    assert(after.files == cur.files,
      s"an unnamed file leaked into the version file count: $cur -> $after")
    assert(after.bytes == cur.bytes,
      s"an unnamed file leaked into the version bytes: $cur -> $after")
    assert(s.describe("MSFT").rows == 10)
    assert(s("MSFT").count() == 10, "scan must exclude unnamed files")
    assert(spark.read.format("graft").option("item", "MSFT").load(dir).count() == 10,
      "the footer-answered count must exclude unnamed files")
    // compactIfNeeded counts the files describe counts
    java.nio.file.Files.write(vDir.resolve("notes.txt"), "not data".getBytes)
    assert(s.describe("MSFT").files == cur.files)
    assert(!s.compactIfNeeded("MSFT", maxFiles = cur.files),
      "unnamed files counted toward the compaction threshold")
    // compact rewrites only the files the version names
    s.compact("MSFT")
    val compacted = s.describe("MSFT")
    assert(compacted.rows == 10 && compacted.files == 1,
      s"compact must rewrite the 10 rows into one canonical file: $compacted")
  }
  test("distributed appendNewOnly: a batch of stored rows writes no file; new rows land in at most 2 jobs") {
    val dir = tmpDir()
    val s = Store.open(spark, dir) // unbucketed: Spark's writer would open a file even for no rows
    s.write("MSFT", bars(50))
    val before = s.describe("MSFT")
    TestSpark.distributed(s.appendNewOnly("MSFT", bars(40)))
    assert(s.describe("MSFT") == before,
      s"an all-duplicate batch changed the item: $before -> ${s.describe("MSFT")}")
    val (_, jobs) = TestSpark.jobsDuring(TestSpark.distributed(s.appendNewOnly("MSFT", bars(60))))
    assert(jobs <= 2, s"distributed appendNewOnly started $jobs Spark jobs")
    val after = s.describe("MSFT")
    assert(after.rows == 60 && after.files > before.files, s"$before -> $after")
    import scala.jdk.CollectionConverters._
    val onDisk = Files.list(LiveDir(s, dir, "MSFT")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == LiveDir.files(s, "MSFT").map(_.getName).toSet,
      s"a file no manifest names was left: $onDisk")
  }

  test("one listing per read: LIMIT and TopN planning, compact and compactBuckets over 40 files start no listing job") {
    // chunkRows = 1 writes one file per row; reopening with the default
    // makes the rewrites emit one file
    def written(n: Int, bucket: Option[String]): Store = {
      val dir = tmpDir()
      Store.open(spark, dir, bucket = bucket, chunkRows = 1).write("K", bars(n))
      val s = Store.open(spark, dir, bucket = bucket)
      assert(s.describe("K").files == n)
      s
    }
    val day = written(40, Some("day"))
    val t = spark.read.format("graft").option("item", "K").load(day.base.toString)
    def planJobs(df: DataFrame): (Int, Int) = TestSpark.jobsDuring {
      df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().length
      }.sum
    }.swap
    // a 35-file prefix is past Spark's 32-path parallel-listing threshold
    val (limitJobs, limitSplits) = planJobs(t.limit(35))
    assert(limitJobs == 0 && limitSplits > 0, s"planning a LIMIT scan started $limitJobs jobs")
    val (topJobs, topSplits) = planJobs(t.orderBy(col("DATE").desc).limit(35))
    assert(topJobs == 0 && topSplits > 0, s"planning a TopN scan started $topJobs jobs")
    // a rewrite's own jobs do not depend on how many files it reads
    def compactJobs(n: Int): Int = {
      val s = written(n, None)
      val jobs = TestSpark.jobsDuring(TestSpark.distributed(s.compact("K")))._2
      assert(s.describe("K").files == 1 && s("K").count() == n)
      jobs
    }
    assert(compactJobs(40) == compactJobs(2), "a distributed compact of 40 files started a listing job")
    def bucketJobs(n: Int): Int = {
      val s = written(n, Some("year")) // one bucket of n files
      val (rewritten, jobs) = TestSpark.jobsDuring(s.compactBuckets("K", maxFilesPerBucket = 16))
      assert(rewritten == 1 && s.describe("K").files == 1 && s("K").count() == n)
      jobs
    }
    assert(bucketJobs(40) == bucketJobs(17), "a compactBuckets rewrite of 40 files started a listing job")
  }

  test("the pointer commit never tears under readers: describe and query race 50 tripping compactIfNeeded calls") {
    val s = Store.open(spark, tmpDir())
    s.write("MSFT", bars(20))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      while (!stop.get()) {
        try {
          s.describe("MSFT")
          s.query("MSFT").collect()
          reads.incrementAndGet()
        } catch {
          case e: Throwable if Option(e.getMessage).exists(_.contains("torn")) => torn.add(e)
        }
      })
    reader.start()
    try (1 to 50).foreach { i =>
      s.appendNewOnly("MSFT", bars(20 + i)) // a second file
      assert(s.compactIfNeeded("MSFT", maxFiles = 1), s"compaction $i did not trip")
    } finally {
      stop.set(true)
      reader.join()
    }
    assert(torn.isEmpty, s"${torn.size} reads saw a torn pointer, e.g. ${torn.peek()}")
    assert(reads.get() > 0)
    assert(s.describe("MSFT").rows == 70)
  }
}
