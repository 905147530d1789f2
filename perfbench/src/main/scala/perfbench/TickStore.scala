package perfbench

import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.sql.Timestamp
import java.util.Random
import scala.collection.mutable

/** tick_store: the reference's own use case, a keyed, day-bucketed time
  * series store. `Tickers` items hold `HistDays` days of events each
  * (written during set-up); the first `Hot` tickers also receive the new
  * events, in turn, a quarter of a day per append. Each round of the
  * closed loop, the same mix every time,
  *  - appends the next quarter-day batch of the next hot ticker with
  *    appendNewOnly; a sixth of the batch repeats rows already stored,
  *  - reads four Store.query slices of the last two days of Zipf-skewed
  *    tickers (reads outnumber writes; with four, the median call of a
  *    round is a slice rather than the boundary between slices and SQL
  *    statements, which made request_p50_ms jump between the two),
  *  - runs three catalog SQL statements over Zipf-skewed tickers: a
  *    day-aligned ranged count (footer-answered), the newest 100 rows
  *    (TopN) and a ranged GROUP BY,
  *  - calls compactIfNeeded on the appended ticker, standing in for
  *    background maintenance: the threshold lets a ticker hold one small
  *    file beyond its one-file-per-day floor, so a rewrite trips on every
  *    third append of a ticker,
  *  - drains that ticker with an incremental readStream.format("graft")
  *    (Trigger.AvailableNow), resuming from the ticker's checkpoint; only
  *    the first drain after a rewrite starts afresh.
  * Every read is checked against the client's own ledger of what it
  * stored. Heavy on sources.Store, sources.v2 and plans; no LlmOps.
  */
final class TickStore(c: Ctx) extends Workload {
  import Common._
  import c._

  val Tickers = 16
  /** Tickers 0 until Hot receive the appends and the stream drains. */
  val Hot = 2
  val RowsPerDay = 600
  val BatchesPerDay = 4
  val BatchRows: Int = RowsPerDay / BatchesPerDay
  val OverlapRows = 30
  val HistDays = 2
  val Slices = 4
  /** Small files a ticker may hold beyond one per day before compactIfNeeded rewrites it. */
  val CompactSlack = 1
  private val Types = Array("click", "view", "purchase", "signup", "error")

  private final case class Ev(id: Long, ts: Long, user: Long, typ: String, value: Double)

  private def fresh(k: Int, day: Int): IndexedSeq[Ev] = {
    val rnd = new Random(seed * 1000003L + k * 10007L + day)
    val t0 = dayStartMicros(day)
    val tss = Iterator.continually(t0 + rnd.nextLong(DayMicros)).distinct.take(RowsPerDay).toArray.sorted
    tss.indices.map { j =>
      Ev(k * 1000000000L + day * 100000L + j, tss(j), rnd.nextInt(1500).toLong,
        Types(rnd.nextInt(Types.length)), rnd.nextInt(56022) / 100.0)
    }
  }

  /** Batch `b` of ticker `k`: the `b % BatchesPerDay`-th quarter of day
    * `b / BatchesPerDay`, a contiguous stretch of time.
    */
  private def batchRows(k: Int, b: Int): IndexedSeq[Ev] = {
    val q = b % BatchesPerDay
    fresh(k, b / BatchesPerDay).slice(q * BatchRows, (q + 1) * BatchRows)
  }

  /** Batch `b` as delivered: its rows plus the last `OverlapRows` rows of
    * the previous batch again.
    */
  private def delivered(k: Int, b: Int): IndexedSeq[Ev] =
    (if (b == 0) IndexedSeq.empty else batchRows(k, b - 1).takeRight(OverlapRows)) ++ batchRows(k, b)

  private val schema = StructType(Seq(
    StructField("EVENT_ID", LongType), StructField("TS", LongType), StructField("USER_ID", LongType),
    StructField("EVENT_TYPE", StringType), StructField("VALUE", DoubleType)))

  private def frame(evs: Seq[Ev]): DataFrame = {
    val rows = new java.util.ArrayList[Row](evs.size)
    evs.foreach(e => rows.add(Row(e.id, e.ts, e.user, e.typ, e.value)))
    spark.createDataFrame(rows, schema).withColumn("TS", timestamp_micros(col("TS")))
  }

  /** Uncompressed size of the rows as generated (the space_amp base). */
  private def rawBytes(evs: Seq[Ev]): Long = evs.map(e => 32L + e.typ.length).sum

  private val cols = Seq("EVENT_ID" -> LongType, "USER_ID" -> LongType,
    "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType)

  private final class Ticks(val base: String, val catalog: String) {
    val store = Store.open(spark, base, cols = Some(cols), index = Some("TS"), bucket = Some("day"))
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.path", base)
    /** Ledger: every stored row per ticker, by event id. */
    val rows = Array.fill(Tickers)(mutable.LinkedHashMap.empty[Long, Ev])
    /** Next batch each ticker receives. */
    val nextBatch = Array.fill(Tickers)(0)
    def lastDay(k: Int): Int = (nextBatch(k) - 1) / BatchesPerDay
    /** Rows each ticker's stream consumer has not drained yet. */
    val undrained = Array.fill(Tickers)(0L)
    val ckptGen = Array.fill(Tickers)(0)
    /** Data files each ticker's stream consumer has already read. */
    val drainedFiles = Array.fill(Tickers)(Set.empty[String])
    def key(k: Int): String = f"T$k%02d"
  }

  private var t: Ticks = _
  private var inputBytes = 0L
  private var round = 0
  private val rnd = new Random(seed)
  private val zipf = new Zipf(Tickers, 1.1, rnd)
  // traced-run counters
  private var rowsOffered, filesWritten, compactions, compactBytes = 0L
  private val writeMs = mutable.ArrayBuffer.empty[Double]
  private var streamRows, streamBacklog, drains = 0L
  private var queryFiles, queryRows, queries = 0L
  private val qPlanMs, qExecMs, sqlPlanMs, sqlExecMs = mutable.ArrayBuffer.empty[Double]
  private var sqlFiles, sqlBuckets, sqlCount, rangedCounts, footerAnswered = 0L

  /** Writes `HistDays` days of history for `tickers`, four items at a
    * time (set-up, not part of the measured loop).
    */
  private def history(x: Ticks, tickers: Seq[Int]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val jobs = tickers.map { k =>
        val evs = (0 until HistDays).flatMap(d => fresh(k, d))
        evs.foreach(e => x.rows(k)(e.id) = e)
        x.nextBatch(k) = HistDays * BatchesPerDay
        x.undrained(k) = evs.size
        inputBytes += rawBytes(evs)
        val df = frame(evs)
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val t0 = System.nanoTime()
            x.store.write(x.key(k), df)
            writeMs.synchronized(writeMs += (System.nanoTime() - t0) / 1e6)
          }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
  }

  def prepare(): Unit = {
    t = new Ticks(s"$dir/store", "tk")
    history(t, 0 until Tickers)
  }

  def warmup(): Unit = {
    val w = new Ticks(s"$dir/warm", "tkw")
    val saved = inputBytes
    history(w, Seq(0))
    // every kind of call, on a throwaway store, then a rewrite and the
    // fresh drain that follows it
    oneRound(w, 0, Some(0))
    w.store.compactIfNeeded(w.key(0), 1L)
    w.ckptGen(0) += 1
    w.undrained(0) = w.rows(0).size
    drain(w, 0)
    inputBytes = saved
    // the hot tickers' stream consumers start here, so the timed drains
    // resume from a checkpoint
    for (k <- 0 until Hot) {
      drain(t, k)
      t.drainedFiles(k) = parquetFiles(spark, s"${t.base}/items/${t.key(k)}")
    }
  }

  def run(deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) {
      tr.request("req.round")(oneRound(t, round, None))
      round += 1
    }

  private def call[T](kind: String)(body: => T)(check: T => Boolean): Option[T] =
    rec.timed(kind)(tr.span(kind)(body))(check)

  private def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** One round; `fixedKey` pins every read to one ticker (warm-up). */
  private def oneRound(x: Ticks, r: Int, fixedKey: Option[Int]): Unit = {
    def pick(): Int = fixedKey.getOrElse(zipf.next())
    val k = fixedKey.getOrElse(r % Hot)
    val key = x.key(k)

    // append the ticker's next batch
    val evs = delivered(k, x.nextBatch(k))
    val batch = frame(evs)
    inputBytes += rawBytes(evs)
    val newRows = evs.filterNot(e => x.rows(k).contains(e.id))
    call("store.append") {
      val before = if (tr.active) parquetFiles(spark, s"${x.base}/items/$key").size else 0
      x.store.appendNewOnly(key, batch)
      if (tr.active) {
        rowsOffered += evs.size
        filesWritten += parquetFiles(spark, s"${x.base}/items/$key").size - before
      }
    }(_ => true)
    newRows.foreach(e => x.rows(k)(e.id) = e)
    x.nextBatch(k) += 1
    x.undrained(k) += newRows.size

    // Store.query slices: the last two days of Zipf-chosen tickers
    for (_ <- 0 until Slices) {
      val q = pick()
      val (a, b) = (dayStartMicros(x.lastDay(q) - 1), dayStartMicros(x.lastDay(q) + 1) - 1)
      val want = x.rows(q).valuesIterator.filter(e => e.ts >= a && e.ts <= b).map(_.id).toSet
      call("store.query") {
        val t0 = System.nanoTime()
        val df = x.store.query(x.key(q), Some(ts(a)), Some(ts(b)))
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val got = df.collect().map(_.getAs[Long]("EVENT_ID"))
        if (tr.active) {
          qPlanMs += (t1 - t0) / 1e6
          qExecMs += (System.nanoTime() - t1) / 1e6
          val f = PlanFiles(df)
          queryFiles += f.files; queryRows += got.length; queries += 1
        }
        got
      }(got => got.length == want.size && got.toSet == want)
    }

    // catalog SQL: ranged count, newest 100, ranged GROUP BY
    def sql[T](text: String, ranged: Boolean)(read: Array[Row] => T)(check: T => Boolean): Unit =
      call("v2.sql") {
        val df = spark.sql(text)
        val t0 = System.nanoTime()
        val rows = df.collect()
        if (tr.active) {
          sqlExecMs += (System.nanoTime() - t0) / 1e6
          sqlPlanMs += planMs(df)
          val f = PlanFiles(df)
          sqlFiles += f.files; sqlBuckets += f.buckets; sqlCount += 1
          if (ranged) {
            rangedCounts += 1
            if (!df.queryExecution.optimizedPlan.toString.contains("RelationV2")) footerAnswered += 1
          }
        }
        read(rows)
      }(check)

    // over the last two days of Zipf-chosen tickers
    def lastTwo(q: Int): (Int, Int) = (x.lastDay(q) - 1, x.lastDay(q) + 1)
    val q1 = pick()
    val (d0, d1) = lastTwo(q1)
    val wantCount = x.rows(q1).valuesIterator
      .count(e => e.ts >= dayStartMicros(d0) && e.ts < dayStartMicros(d1)).toLong
    sql(s"SELECT count(*) FROM ${x.catalog}.${x.key(q1)} " +
      s"WHERE TS >= '${dayStr(d0)}' AND TS < '${dayStr(d1)}'", ranged = true)(
      _.head.getLong(0))(_ == wantCount)

    val q2 = pick()
    val newest = x.rows(q2).valuesIterator.toSeq.sortBy(-_.ts).take(100).map(_.id)
    sql(s"SELECT TS, EVENT_ID FROM ${x.catalog}.${x.key(q2)} ORDER BY TS DESC LIMIT 100",
      ranged = false)(_.map(_.getLong(1)).toSeq)(_ == newest)

    val q3 = pick()
    val (g0, g1) = lastTwo(q3)
    val wantGroups = x.rows(q3).valuesIterator
      .filter(e => e.ts >= dayStartMicros(g0) && e.ts < dayStartMicros(g1)).toSeq
      .groupBy(_.typ).map { case (ty, es) => ty -> (es.size.toLong, es.map(_.value).sum) }
    sql(s"SELECT EVENT_TYPE, count(*), sum(VALUE) FROM ${x.catalog}.${x.key(q3)} " +
      s"WHERE TS >= '${dayStr(g0)}' AND TS < '${dayStr(g1)}' GROUP BY EVENT_TYPE", ranged = false)(
      _.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap) { got =>
      got.keySet == wantGroups.keySet && got.forall { case (ty, (n, s)) =>
        val (wn, ws) = wantGroups(ty)
        n == wn && math.abs(s - ws) <= 1e-6 * math.max(1.0, math.abs(ws))
      }
    }

    // maintenance: compactIfNeeded after every append, allowing
    // `CompactSlack` files beyond one per stored day. A rewrite restarts
    // the ticker's stream consumer from a fresh checkpoint.
    call("store.compact") {
      val before = if (tr.active) x.store.describe(key).bytes else 0L
      val ran = x.store.compactIfNeeded(key, (x.lastDay(k) + 1 + CompactSlack).toLong)
      if (ran && tr.active) { compactions += 1; compactBytes += before }
      ran
    }(_ => true).foreach { ran =>
      if (ran) {
        x.ckptGen(k) += 1
        x.undrained(k) = x.rows(k).size
        x.drainedFiles(k) = Set.empty
      }
    }

    // incremental tail read of the ticker just appended
    drain(x, k)
  }

  /** Drains ticker `k`'s stream consumer: every row stored since its
    * last drain must arrive.
    */
  private def drain(x: Ticks, k: Int): Unit = {
    val key = x.key(k)
    val want = x.undrained(k)
    call("v2.stream") {
      val ckpt = s"${x.base}-ckpt/$key-${x.ckptGen(k)}"
      val q = spark.readStream.format("graft").option("item", key).load(x.base)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val n = q.recentProgress.map(_.numInputRows).sum
      if (tr.active) {
        val now = parquetFiles(spark, s"${x.base}/items/$key")
        streamRows += n; streamBacklog += (now -- x.drainedFiles(k)).size; drains += 1
        x.drainedFiles(k) = now
      }
      n
    }(_ == want)
    x.undrained(k) = 0
  }

  def finish(): Unit =
    rec.check("check.items") {
      (0 until Tickers).forall(k => t.store.describe(t.key(k)).rows == t.rows(k).size)
    }

  def metrics: Seq[(String, M)] = {
    def ms(kind: String) = rec.ms(kind)
    val storeBytes = parquetBytes(spark, s"$dir/store")
    val gen = generic(rec, rec.requests.count(_.ok).toDouble, "store calls")
    gen ++ Seq(
      "append_p50_ms" -> summary(ms("store.append"), "ms"),
      "append_tail_ms" -> tailOf(ms("store.append"), "ms"),
      "slice_p50_ms" -> summary(ms("store.query"), "ms"),
      "slice_tail_ms" -> tailOf(ms("store.query"), "ms"),
      "sql_p50_ms" -> summary(ms("v2.sql"), "ms"),
      "sql_tail_ms" -> tailOf(ms("v2.sql"), "ms"),
      "tail_read_p50_ms" -> summary(ms("v2.stream"), "ms"),
      "store_ops_per_s" -> gen.toMap.apply("work_per_s").copy(unit = "ops/s", extra = Seq("rounds" -> round)),
      "space_amp" -> M(if (inputBytes > 0) storeBytes.toDouble / inputBytes else 0.0, "ratio",
        Seq("store_bytes" -> storeBytes, "input_bytes" -> inputBytes)))
  }

  def layerCounts: Seq[(String, M)] = {
    val appendSpans = tr.spans.filter(_.name == "store.append")
    val rowsKept = appendSpans.map(_.exec("records_written")).sum
    val compactSpans = tr.spans.filter(_.name == "store.compact")
    Seq(
      "store.write.ms" -> summary(writeMs.toSeq, "ms"),
      "store.append.rows_offered" -> M(rowsOffered.toDouble, "rows"),
      "store.append.rows_kept" -> M(rowsKept.toDouble, "rows"),
      "store.append.keep_ratio" -> M(if (rowsOffered > 0) rowsKept.toDouble / rowsOffered else 0.0, "ratio"),
      "store.append.bytes_written" -> M(appendSpans.map(_.exec("output_bytes")).sum.toDouble, "bytes"),
      "store.append.files_written" -> M(filesWritten.toDouble, "files"),
      "store.query.plan_ms" -> summary(qPlanMs.toSeq, "ms"),
      "store.query.exec_ms" -> summary(qExecMs.toSeq, "ms"),
      "store.query.files_read" -> M(if (queries > 0) queryFiles.toDouble / queries else 0.0, "files"),
      "store.query.rows_per_file" -> M(if (queryFiles > 0) queryRows.toDouble / queryFiles else 0.0, "rows"),
      "store.compact.bytes_rewritten" -> M(compactSpans.map(_.exec("output_bytes")).sum.toDouble, "bytes",
        Seq("compactions" -> compactions, "bytes_before" -> compactBytes)),
      "store.item.files" -> M((0 until Tickers).map(k => t.store.describe(t.key(k)).files).sum.toDouble, "files"),
      "v2.sql.plan_ms" -> summary(sqlPlanMs.toSeq, "ms"),
      "v2.sql.exec_ms" -> summary(sqlExecMs.toSeq, "ms"),
      "v2.sql.footer_answered" -> M(if (rangedCounts > 0) footerAnswered.toDouble / rangedCounts else 0.0,
        "ratio", Seq("ranged_counts" -> rangedCounts)),
      "v2.sql.files_read" -> M(if (sqlCount > 0) sqlFiles.toDouble / sqlCount else 0.0, "files"),
      "v2.sql.buckets_scanned" -> M(if (sqlCount > 0) sqlBuckets.toDouble / sqlCount else 0.0, "buckets"),
      "v2.stream.drain_ms" -> summary(rec.ms("v2.stream"), "ms"),
      "v2.stream.rows" -> M(streamRows.toDouble, "rows"),
      "v2.stream.backlog_files" -> M(if (drains > 0) streamBacklog.toDouble / drains else 0.0, "files",
        Seq("drains" -> drains)))
  }
}
