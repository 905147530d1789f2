package graft.streaming

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.AtomicInteger

/** (doc_id, coarse LSH band key) for the streaming near-dup filter. */
case class DocSig(doc_id: Long, bkey: Long)

/** Event projected to epoch-µs + integer cents for the streaming
  * z-score (exact integer moments, like the batch ts_zscore). `value`
  * and `c` are Options: the batch window COUNTS NULL-value rows in
  * n_window (count(lit(1))) while sum/max/min skip them — a primitive
  * field would either NOT_NULL_ASSERT the batch or silently drop the
  * rows the batch emits. */
case class ZEvent(
    event_id: Long,
    user_id: Long,
    ts: java.sql.Timestamp,
    tss: Long,
    value: Option[Double],
    c: Option[Long]
)

/** Trailing-hour ring buffer carried per user: parallel arrays of
  * (epoch-µs, cents, cents-is-defined), oldest first. The mask carries
  * NULL-value rows: they occupy a window slot (n_window counts them,
  * like the batch count(lit(1))) without contributing to the moments.
  *
  * STATE-SCHEMA COMPATIBILITY: `defined` widened this state from 2 to
  * 3 fields — a z-score query restarted against a DURABLE checkpoint
  * of the 2-field vintage fails Spark's state schema check; start a
  * fresh checkpointLocation when upgrading.
  */
case class ZBuf(tss: Array[Long], cents: Array[Long], defined: Array[Boolean])

/** Typed event row for the custom-state operator. `value` is an Option
  * — SQL semantics for a nullable column (a primitive field would
  * NOT_NULL_ASSERT the whole batch on the first NULL; round-13
  * NULL-robustness campaign).
  */
case class EventRow(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Option[Double]
)

/** Per-user running aggregate carried in the state store. */
case class UserState(n: Long, sum: Double)

/** Per-user streaming-funnel state: candidate step-1 (view) and step-2
  * (view→click-within-W) event times still inside the pruning horizon
  * (epoch-µs, unordered), the NOT-yet-qualified clicks and purchases
  * buffered for late-arriving prerequisites (pendClicks/pendPurch —
  * see funnelOn's disorder contract), best funnel level reached,
  * cumulative funnel event count, and the max event time seen (the
  * pruning anchor).
  *
  * STATE-SCHEMA COMPATIBILITY: pendClicks/pendPurch widened this state
  * from 5 to 7 fields. A funnel query restarted against a DURABLE
  * checkpoint written by the 5-field vintage will fail Spark's state
  * schema check — start a fresh checkpointLocation when upgrading (the
  * funnel emits per-batch updates, not cumulative-from-history, so a
  * restart loses only in-horizon candidate state).
  */
case class FunnelSt(
    views: Array[Long],
    clicks2: Array[Long],
    pendClicks: Array[Long],
    pendPurch: Array[Long],
    steps: Long,
    n: Long,
    maxSeen: Long
)

/** Structured Streaming surface — the streaming analogue of the
  * reference's incremental `+=` ingest (oakstore/store.py:57-59,214-236)
  * generalized to watermarked windowed aggregation and stateful dedup.
  *
  * Each query drives the events table through a real streaming pipeline
  * (`readStream` → transform → `writeStream`) with `Trigger.AvailableNow`
  * and a memory sink, so a batch of parquet exercises the exact code a
  * 24/7 stream would run; correctness is checked by batch-equivalence
  * (no SQL oracle — the driver records rows-only).
  */
object Streams {

  /** Raw schema of events.parquet with `ts` in the corpus's physical
    * domain (long nanos on the TIMESTAMP(NANOS) vintage, a timestamp
    * on the TIMESTAMP(MICROS) vintage — graft.Tables).
    */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  private val counter = new AtomicInteger(0)

  /** Streaming read of events with `ts` converted to TimestampType.
    * The file stream source needs an explicit schema; a one-time driver
    * footer read picks the ts domain, and the conversion matches
    * Tables.events so streaming and batch see identical columns.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val tsType = graft.Tables.eventsTsType(s, dir)
    val src = s.readStream
      .schema(rawSchema(tsType))
      // file stream source requires a directory; select just the events
      // file out of the sf dir
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => src.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => src.withColumn("ts", col("ts").cast(TimestampType))
      case _ => src
    }
  }

  /** A CLONED session dedicated to one streaming drive. Stateful
    * operators create one state store per shuffle partition and commit
    * a checkpoint delta per store per micro-batch — at 32 partitions
    * that is 32 fixed-overhead commits per batch, dwarfing the actual
    * aggregation on bench-scale inputs, so the drive wants 8 state
    * partitions (state volume per query here is thousands of keys;
    * a production 24/7 deployment sizes shuffle.partitions to its
    * state key cardinality instead). The earlier shape pinned
    * `spark.sql.shuffle.partitions = 8` on the SHARED session for the
    * drive's duration and restored it afterwards — a session-wide side
    * effect that any batch query planned concurrently on another
    * thread silently inherited (and a None from getOption would have
    * left the pin behind forever). `newSession()` — same SparkContext
    * and builder confs, isolated runtime SQLConf, isolated temp
    * views — scopes the pin to exactly this drive: nothing to lock,
    * nothing to restore, nothing to leak. Every public op here builds
    * its source through this, so the whole stream graph (and the
    * memory-sink table it lands in) lives on the clone.
    */
  private[graft] def driveSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2
  }

  /** Temp directories to delete at JVM exit. One static hook drains
    * this queue — per-call `addShutdownHook` would accumulate a Thread
    * (plus its captured path) per invocation in a long-lived process,
    * and throws IllegalStateException if the JVM is already shutting
    * down when called.
    */
  private val sweepQueue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val sweepHookInstalled: Boolean = {
    try {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        var dir = sweepQueue.poll()
        while (dir != null) {
          try {
            val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
            try {
              import scala.jdk.CollectionConverters._
              walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .iterator().asScala
                .foreach(p => java.nio.file.Files.deleteIfExists(p))
            } finally walk.close()
          } catch { case _: Throwable => () }
          dir = sweepQueue.poll()
        }
      }, "graft-streams-temp-sweep"))
      true
    } catch { case _: IllegalStateException => false } // already shutting down
  }

  private[graft] def sweepAtExit(dir: String): Unit = {
    sweepQueue.add(dir)
    sweepHookInstalled: Unit
  }

  /** Run `out` to completion under AvailableNow into a memory sink and
    * return the materialized result. The sink table registers in the
    * session the stream graph is bound to (`out.sparkSession` — the
    * [[driveSession]] clone when built through the public ops), so the
    * lookup must go there, not to the caller's session.
    */
  def runToBatch(out: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out.sparkSession.table(name)
  }

  /** The tumbling aggregation itself, source-agnostic: 1-hour windows
    * per event_type under a 10-minute watermark. Shared by the
    * memory-sink registered query below and the file-sink spec drive
    * (StreamsSpec) — the 24/7 shape writes this through a parquet sink
    * in append mode, where a window emits once the watermark passes it.
    */
  private[graft] def tumblingAggOn(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))

  /** Tumbling 1-hour windows per event_type with a 10-minute watermark.
    * Complete mode so the tail windows (beyond the final watermark) are
    * present — that makes the result equal to the batch computation,
    * which the spec asserts.
    */
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    val agg = tumblingAggOn(eventsStream(driveSession(s), dir))
    runToBatch(agg, "complete")
      .select(
        col("window.start").as("w_start"),
        col("event_type"), col("n"), col("sum_value")
      )
      .orderBy("w_start", "event_type")
  }

  /** The session aggregation itself, source-agnostic: 30-minute-gap
    * session windows per user under a 10-minute watermark. Shared by
    * the memory-sink registered query and the file-sink spec drive —
    * in append mode a session emits exactly once, when the watermark
    * passes its end (last event + gap).
    */
  private[graft] def sessionAggOn(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))

  /** Session windows (30-minute gap) per user. */
  def session(s: SparkSession, dir: String): DataFrame = {
    val agg = sessionAggOn(eventsStream(driveSession(s), dir))
    runToBatch(agg, "complete")
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n"), col("sum_value")
      )
      .orderBy("user_id", "s_start")
  }

  /** Stateful streaming dedup: the source unioned with itself (every
    * event duplicated) then `dropDuplicatesWithinWatermark` on the key —
    * the streaming form of the reference's append-dedup (R6). Result
    * must equal the distinct batch row set.
    */
  def dedupState(s: SparkSession, dir: String): DataFrame = {
    val e = eventsStream(driveSession(s), dir)
    val doubled = e.unionByName(e).withWatermark("ts", "10 minutes")
    val deduped = doubled.dropDuplicatesWithinWatermark("event_id")
    runToBatch(deduped.select("event_id", "ts", "user_id", "event_type", "value"), "append")
      .orderBy("event_id")
  }

  /** Arbitrary stateful processing via flatMapGroupsWithState: a
    * per-user running (count, sum) carried in the state store across
    * micro-batches, emitting the updated totals each time a user's
    * group is touched. The last emission per user equals the batch
    * aggregate (asserted by the spec).
    */
  /** The per-user running-totals update itself, source-agnostic —
    * shared by the memory-sink registered query and the file-sink spec
    * drive. Emits the cumulative (count, sum) for every user touched in
    * a micro-batch; the LAST emission per user is the answer, so any
    * sink consumer folds with max(struct(n_events, sum_value)).
    */
  private[graft] def customStateOn(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val typed = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow], state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          var n = 0L
          var sum = 0.0
          // SQL running-sum semantics: count every row, sum the
          // observed values (a NULL contributes nothing)
          it.foreach { e => n += 1; sum += e.value.getOrElse(0.0) }
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          val next = UserState(prev.n + n, prev.sum + sum)
          state.update(next)
          Iterator.single((uid, next.n, next.sum))
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  def customState(s: SparkSession, dir: String): DataFrame = {
    val updated = customStateOn(eventsStream(driveSession(s), dir))
    runToBatch(updated, "append")
      .groupBy("user_id") // keep only the final emission per user
      .agg(max(struct(col("n_events"), col("sum_value"))).as("fin"))
      .select(col("user_id"), col("fin.n_events"), round(col("fin.sum_value"), 4).as("sum_value"))
      .orderBy("user_id")
  }

  /** Raw schema of documents.parquet. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  /** Streaming near-duplicate filter — the ingestion-time form of
    * MinHash dedup: each arriving document is reduced to its coarse LSH
    * band key by the SAME kernel the batch pipeline uses
    * ([[graft.functions.TextKernels.docBandKey]], computing only the
    * band-0 permutations), and a per-bucket claimant is carried in the
    * state store; docs landing in a claimed bucket are flagged with
    * `dup_of`. FIRST CLAIMANT WINS: once set, the claimant never
    * changes (min doc_id only WITHIN the claiming micro-batch, for
    * partition-order determinism) — emitted keep=true rows can never be
    * retracted in append mode, so a stable claimant is the only
    * consistent cross-batch semantic. State is one long per occupied
    * bucket — bounded by corpus diversity, not stream length.
    *
    * OUTPUT CONTRACT: rows are per-(doc, band) DUP EVIDENCE, not a doc
    * roster — a doc with NULL text or text too short to shingle emits
    * NO rows (no signature ⇒ no bucket ⇒ no dup evidence). A consumer
    * building a keep-list must LEFT-join this output and treat absence
    * as keep; filtering to keep=true rows alone would silently discard
    * every unshingleable doc.
    */
  def minhashDedup(s: SparkSession, dir: String): DataFrame = {
    val src = driveSession(s).readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    runToBatch(minhashDedupOn(src), "append").orderBy("doc_id")
  }

  /** The near-dup-filter transform on an arbitrary (doc_id, text)
    * streaming source — separated from [[minhashDedup]]'s source/sink
    * so the crash-recovery spec can drive it through its own staged
    * source, durable checkpoint and file sink.
    */
  private[graft] def minhashDedupOn(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    import graft.functions.TextKernels
    import graft.operators.LlmOps
    val (k, rpb) = (LlmOps.ShingleK, LlmOps.RowsPerBand)
    val sigs = docs
      .filter(col("text").isNotNull) // null text: no shingles, no bands
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        TextKernels.docBandKey(t, k, rpb).map(DocSig(id, _)).iterator
      }
    sigs
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bkey: Long, it: Iterator[DocSig],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val ids = it.map(_.doc_id).toArray
          val claimant = state.getOption.getOrElse(ids.min)
          state.update(claimant)
          ids.iterator.map { id =>
            (id, bkey, id == claimant, if (id == claimant) None else Some(claimant))
          }
      }
      .toDF("doc_id", "bkey", "keep", "dup_of")
  }

  /** Streaming trailing-hour z-score — the 24/7 form of the batch
    * `ts_zscore` anomaly detector. Per user, a ring buffer of
    * (epoch-µs, integer cents) for the trailing hour rides in the state
    * store; each arriving event is scored against the EXACT integer
    * moments (S, Q, n, max, min) of its window and the identical double
    * expression the batch query uses, so for in-order delivery the
    * streamed scores are bit-identical to the batch RANGE-frame window
    * (asserted by the spec). The equivalence CONTRACT, precisely:
    * cross-micro-batch delivery is time-ordered and equal-timestamp
    * peers do not split across micro-batches — append mode cannot
    * retract an emitted score, so a row arriving after its window peer
    * was scored can fix only its own score, never its peer's. Outside
    * the contract the machine stays SOUND (sorted insert + one-off
    * window scan for a late row; see the disorder branch) rather than
    * silently corrupting state. NULL-value rows are emitted and occupy
    * window slots exactly as the batch query emits and counts them;
    * NULL-time rows are an inherent watermarked-streaming exclusion
    * (the stateful operator's late filter drops them). Events inside
    * one micro-batch are sorted by (tss, event_id) before processing,
    * and runs of EQUAL timestamps are buffered before any of them is
    * scored — the batch RANGE frame includes peer rows at the current
    * tss, so the streamed window must too. State per user is bounded by the hour's
    * event rate and evicted entirely once the event-time watermark
    * passes an hour beyond the user's last event (by then every
    * buffered entry is expired anyway). Event-time — NOT processing-
    * time — timeout: with a processing-time timeout the micro-batch
    * engine's `shouldRunAnotherBatch` is unconditionally true, so an
    * AvailableNow run (and any drain-and-stop) spins on no-data
    * batches forever waiting for wall-clock timers; the event-time
    * timeout instead fires as the watermark advances and lets the
    * query terminate when the source is exhausted.
    */
  def zscore(s: SparkSession, dir: String): DataFrame =
    runToBatch(zscoreOn(eventsStream(driveSession(s), dir)), "append")
      .orderBy("event_id")

  /** Streaming windowed funnel — the continuous form of the batch
    * `funnel_steps` (same 4-hour conversion window): per user, a
    * flatMapGroupsWithState machine tracks the view and qualified-click
    * candidate times and the best level reached, emitting the running
    * grade on every touch; grades are MONOTONE, so append mode never
    * needs a retraction and the last emission per user is the answer.
    * State is TIME-BOUNDED, not stream-bounded: a candidate can only
    * complete a chain for events within W of it, so candidates older
    * than maxSeen − W − δ are pruned each batch (δ = 1 h). Disorder
    * contract — symmetric within the slack: late DEPENDENTS (a
    * click/purchase arriving up to δ after the view/click it
    * completes) still find the candidate in state, and late
    * PREREQUISITES are covered by re-evaluation — a click that finds
    * no qualifying view (and a purchase that finds no qualified click)
    * is BUFFERED in state rather than discarded, and a view/click
    * landing in any later micro-batch within the horizon promotes its
    * buffered dependents, cascading (one late view can complete
    * view→click→purchase in a single re-evaluation). Grades stay
    * monotone — promotion only ever raises `steps` — so append mode
    * still never needs a retraction. Within a batch, events sort by
    * (ts, step order, event_id) — views before clicks before purchases
    * at equal timestamps — so intra-batch disorder, including
    * same-microsecond prerequisite ties, is absorbed without touching
    * the buffers. Per-user state (candidates + buffered dependents) is
    * O(funnel events in the trailing W+δ), independent of stream
    * length.
    */
  def funnel(s: SparkSession, dir: String): DataFrame =
    runToBatch(funnelOn(eventsStream(driveSession(s), dir)), "append")
      .groupBy("user_id")
      // n is cumulative and steps monotone: max(struct) = final emission
      .agg(max(struct(col("n_events"), col("steps"))).as("fin"))
      .select(col("user_id"), col("fin.n_events"), col("fin.steps"))
      .orderBy("user_id")

  /** The funnel transform on an arbitrary events source (`ts` already
    * TimestampType) — separated from [[funnel]] so specs can drive it
    * through a staged multi-batch source and file sink.
    */
  private[graft] def funnelOn(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val W = graft.operators.TimeSeries.FunnelWindowUs // shared with funnel_steps
    val Slack = 3600000000L // tolerated cross-batch event-time disorder
    val typed = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      // NULL-time events are NOT dropped: this operator has no
      // watermark (NoTimeout state), so they reach the state function,
      // which mirrors the batch pin (NullSemanticsSpec "funnel_steps:
      // a NULL-time event counts and satisfies step 1") — they count
      // toward n_events and a NULL-time view still reaches step 1, but
      // no window step can anchor on a missing time
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventRow],
         state: org.apache.spark.sql.streaming.GroupState[FunnelSt]) =>
          def us(t: java.sql.Timestamp): Long =
            graft.sources.Store.timestampToMicros(t)
          val prev = state.getOption
            .getOrElse(FunnelSt(Array.empty, Array.empty, Array.empty,
              Array.empty, 0L, 0L, Long.MinValue))
          val views = scala.collection.mutable.ArrayBuffer.from(prev.views)
          val clicks = scala.collection.mutable.ArrayBuffer.from(prev.clicks2)
          val pendClicks = scala.collection.mutable.ArrayBuffer.from(prev.pendClicks)
          val pendPurch = scala.collection.mutable.ArrayBuffer.from(prev.pendPurch)
          var steps = prev.steps
          var n = prev.n
          var maxSeen = prev.maxSeen
          val (batch, untimed) = it.toArray.partition(_.ts != null)
          // NULL-time events: count, view reaches step 1, nothing else
          // (the batch pin) — applied before the timed pass so a
          // same-batch timed click can never ride a NULL-time view
          untimed.foreach { e =>
            n += 1
            if (e.event_type == "view" && steps < 1) steps = 1
          }
          // a buffered purchase completes once ANY qualified click
          // within W precedes it — checked whenever the qualified set
          // grows (fresh click or pending promotion)
          def recheckPurchases(): Unit =
            if (steps < 3 &&
                pendPurch.exists(p => clicks.exists(c => c <= p && p - c <= W)))
              steps = 3
          // step order breaks same-ts ties: a view sharing a microsecond
          // with its click must be applied first or the click is
          // silently unqualified (batch funnel_steps counts v <= t)
          def stepRank(t: String): Int = t match {
            case "view" => 0; case "click" => 1; case _ => 2
          }
          batch.sortBy(e => (us(e.ts), stepRank(e.event_type), e.event_id)).foreach { e =>
            val t = us(e.ts)
            n += 1
            if (t > maxSeen) maxSeen = t
            e.event_type match {
              case "view" =>
                views += t
                if (steps < 1) steps = 1
                // late-prerequisite re-evaluation: clicks buffered in
                // earlier batches waiting for exactly this view qualify
                // now, and their promotion may complete a buffered
                // purchase in turn (full cascade)
                var i = 0
                var promoted = false
                while (i < pendClicks.length) {
                  val c = pendClicks(i)
                  if (t <= c && c - t <= W) {
                    clicks += c; pendClicks.remove(i); promoted = true
                  } else i += 1
                }
                if (promoted) { if (steps < 2) steps = 2; recheckPurchases() }
              case "click" =>
                if (views.exists(v => v <= t && t - v <= W)) {
                  clicks += t
                  if (steps < 2) steps = 2
                  recheckPurchases()
                } else pendClicks += t // buffer: its view may still arrive
              case _ =>
                if (clicks.exists(c => c <= t && t - c <= W)) {
                  if (steps < 3) steps = 3
                } else pendPurch += t // buffer: its click may still qualify
            }
          }
          // a completed funnel is terminal (grades are monotone, 3 is
          // max): buffered dependents can no longer change anything
          if (steps >= 3) { pendClicks.clear(); pendPurch.clear() }
          // prune: nothing older than the horizon can still head or
          // complete a chain
          val horizon = if (maxSeen == Long.MinValue) Long.MinValue else maxSeen - W - Slack
          state.update(FunnelSt(
            views.filter(_ >= horizon).toArray,
            clicks.filter(_ >= horizon).toArray,
            pendClicks.filter(_ >= horizon).toArray,
            pendPurch.filter(_ >= horizon).toArray,
            steps, n, maxSeen))
          Iterator.single((uid, n, steps))
      }
      .toDF("user_id", "n_events", "steps")
  }

  /** The z-score transform on an arbitrary events source (`ts` already
    * TimestampType) — separated from [[zscore]]'s source/sink so the
    * crash-recovery spec can drive it through its own staged source,
    * durable checkpoint and file sink.
    */
  private[graft] def zscoreOn(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val windowUs = 3600000000L
    val typed = events
      // an event-time machine cannot place a NULL-time row, and the
      // stateful operator's late-data filter drops them anyway (NULL
      // event time fails the >= watermark predicate) — an INHERENT
      // watermarked-streaming divergence from batch, where NULL-ts rows
      // form their own null-peer frame. NULL VALUES are kept: the batch
      // window counts them in n_window while its sum/max/min skip them,
      // mirrored here by the buffer's defined mask.
      .filter(col("ts").isNotNull)
      .select(
        col("event_id"), col("user_id"), col("ts"),
        expr("unix_micros(ts)").as("tss"),
        col("value"),
        // the batch ts_zscore's grid boundary (Grid.gridLong): a
        // non-finite value has no cents image and maps to NULL — under
        // ANSI the bare cast would kill the STREAM on one NaN row
        graft.operators.Grid.gridLong(col("value"), 100).as("c")
      )
      // watermark AFTER the projection so the event-time column is
      // still present on the flatMapGroupsWithState input — the
      // analyzer rejects an event-time timeout whose watermark node
      // was pruned away with its column
      .withWatermark("ts", "10 minutes")
      .as[ZEvent]
    val scored = typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[ZEvent],
         state: org.apache.spark.sql.streaming.GroupState[ZBuf]) =>
          if (state.hasTimedOut) {
            // idle user: drop the buffer — the next event rebuilds it,
            // and every buffered entry would be expired by then anyway
            state.remove()
            Iterator.empty
          } else {
            val batch = it.toArray.sortBy(e => (e.tss, e.event_id))
            val prev = state.getOption.getOrElse(ZBuf(Array.empty, Array.empty, Array.empty))
            val buf = scala.collection.mutable.ArrayDeque.from(
              prev.tss.indices.map(i => (prev.tss(i), prev.cents(i), prev.defined(i))))
            // running moments maintained incrementally: O(w) once per
            // (user, batch) here, then O(1) amortized per event — not a
            // full O(w) rescan per event. Moments cover DEFINED entries
            // only (batch sum/max/min skip NULLs); n is the buffer
            // length (batch count(lit(1)) counts every row).
            var sn = 0L; var qn = 0L
            buf.foreach { case (_, c, d) => if (d) { sn += c; qn += c * c } }
            var mx = Long.MinValue; var mn = Long.MaxValue
            def rescanMinMax(): Unit = {
              mx = Long.MinValue; mn = Long.MaxValue
              buf.foreach { case (_, c, d) =>
                if (d) {
                  if (c > mx) mx = c
                  if (c < mn) mn = c
                }
              }
            }
            rescanMinMax()
            def add(tss: Long, co: Option[Long]): Unit = {
              buf.append((tss, co.getOrElse(0L), co.isDefined))
              co.foreach { c =>
                sn += c; qn += c * c
                if (c > mx) mx = c
                if (c < mn) mn = c
              }
            }
            def evictBefore(lo: Long): Unit = {
              var hitExtreme = false
              while (buf.nonEmpty && buf.head._1 < lo) {
                val (_, c, d) = buf.removeHead()
                if (d) {
                  sn -= c; qn -= c * c
                  if (c == mx || c == mn) hitExtreme = true
                }
              }
              if (hitExtreme) rescanMinMax()
            }
            // belt-and-braces: a non-finite raw (extreme magnitudes)
            // must pass through like the batch round() does — a bare
            // BigDecimal(raw) THROWS on NaN/Inf and kills the stream
            def rounded(raw: Double): Double =
              if (raw.isNaN || raw.isInfinite) raw
              else BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            def zOf(co: Option[Long], n: Long, s: Long, q: Long,
                lmx: Long, lmn: Long): Option[Double] =
              co.flatMap { c =>
                val sD = s.toDouble; val qD = q.toDouble; val nD = n.toDouble
                // num > 0 mirrors the batch guard: the double moment can
                // round to 0 despite lmx > lmn (qn past 2^53), and the
                // batch emits NULL there instead of dividing by zero
                val num = qD - sD * sD / nD
                if (n >= 2 && lmx > lmn && num > 0.0)
                  Some(rounded((c.toDouble - sD / nD) / math.sqrt(num / (nD - 1.0))))
                else None
              }
            // process runs of EQUAL timestamps together: the batch RANGE
            // frame includes all peer rows at the current tss, so every
            // peer must be in the buffer before any of them is scored
            val out = Vector.newBuilder[(Long, Long, Option[Double], Long, Option[Double])]
            var i = 0
            while (i < batch.length) {
              var j = i
              while (j < batch.length && batch(j).tss == batch(i).tss) j += 1
              val t = batch(i).tss
              if (buf.nonEmpty && t < buf.last._1) {
                // cross-micro-batch DISORDER: admitted by the 10-minute
                // watermark but outside the in-order batch-equivalence
                // contract. Insert at the sorted position — an
                // unconditional tail append would leave the deque
                // time-unsorted, strand entries past head-only eviction
                // and silently corrupt every subsequent score for this
                // user — and score the late row against the RETAINED
                // part of its window by a one-off O(w) scan (entries
                // already evicted by newer scores are gone:
                // best-effort for the late row itself; rows previously
                // emitted cannot be retracted in append mode either
                // way; in-order rows stay exact).
                // buffer EVERY peer of the run before scoring any of
                // them — the batch RANGE frame includes same-ts peers,
                // and a per-row insert-then-score would let earlier
                // peers miss later ones (mirrors the in-order branch's
                // buffer-peers-before-scoring discipline)
                (i until j).foreach { x =>
                  val e = batch(x)
                  val idx = buf.indexWhere(_._1 > e.tss)
                  val at = if (idx < 0) buf.length else idx
                  buf.insert(at, (e.tss, e.c.getOrElse(0L), e.c.isDefined))
                  e.c.foreach { c =>
                    sn += c; qn += c * c
                    if (c > mx) mx = c
                    if (c < mn) mn = c
                  }
                }
                (i until j).foreach { x =>
                  val e = batch(x)
                  var ln = 0L; var lsn = 0L; var lqn = 0L
                  var lmx = Long.MinValue; var lmn = Long.MaxValue
                  buf.foreach { case (bt, bc, bd) =>
                    if (bt >= e.tss - windowUs && bt <= e.tss) {
                      ln += 1
                      if (bd) {
                        lsn += bc; lqn += bc * bc
                        if (bc > lmx) lmx = bc
                        if (bc < lmn) lmn = bc
                      }
                    }
                  }
                  out += ((e.event_id, uid, e.value, ln, zOf(e.c, ln, lsn, lqn, lmx, lmn)))
                }
              } else {
                evictBefore(t - windowUs)
                (i until j).foreach(x => add(batch(x).tss, batch(x).c))
                val n = buf.length.toLong
                (i until j).foreach { x =>
                  val e = batch(x)
                  out += ((e.event_id, uid, e.value, n, zOf(e.c, n, sn, qn, mx, mn)))
                }
              }
              i = j
            }
            state.update(ZBuf(
              buf.map(_._1).toArray, buf.map(_._2).toArray, buf.map(_._3).toArray))
            // bound state for users who go silent: evict once the
            // watermark passes an hour beyond this user's newest event
            // (everything buffered is expired by then). Clamp above the
            // current watermark — another user's events may have pushed
            // it past this group's horizon already, and a timestamp at
            // or below the watermark is rejected by the state store.
            val horizonMs =
              if (buf.isEmpty) state.getCurrentWatermarkMs() + 1
              else buf.last._1 / 1000L + windowUs / 1000L
            state.setTimeoutTimestamp(math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
    scored.toDF("event_id", "user_id", "value", "n_window", "z")
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event time on both sides —
    * exactly what lets Spark expire join state instead of buffering
    * either stream forever (the property that keeps state bounded on a
    * 24/7 pipeline). Append mode; result equals the batch join (spec).
    */
  def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val sd = driveSession(s) // ONE clone: both join legs must share a session
    val purchases = eventsStream(sd, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = eventsStream(sd, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = purchases.join(
      clicks,
      col("user_id") === col("c_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
    )
    runToBatch(joined.select("p_id", "c_id", "user_id", "p_ts", "c_ts"), "append")
      .orderBy("p_id", "c_id")
  }

  /** Streaming OHLCV bars — the reference's raison d'être (daily OHLCV
    * financial bars, README.md:20-37) as a 24/7 stream: tumbling 1-hour
    * bars per event_type. open/close are `min_by`/`max_by` over the
    * composite (ts, event_id) struct — deterministic first/last under
    * any partition order, and declarative aggregates so the streaming
    * state is one partial aggregate per open window (no event buffering,
    * unlike a row_number rewrite, which streaming can't run anyway).
    * Complete mode so tail windows beyond the final watermark are
    * emitted; the spec asserts equality with the batch bars.
    */
  /** The OHLCV bar aggregation itself, source-agnostic — shared by the
    * memory-sink registered query and the file-sink crash spec
    * (StreamsSpec): in append mode through a parquet sink a bar emits
    * exactly once, when the watermark passes its window end.
    */
  private[graft] def ohlcvAggOn(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        round(max("value"), 6).as("high"),
        round(min("value"), 6).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        round(sum("value"), 4).as("volume"),
        count(lit(1)).as("n")
      )

  def ohlcv(s: SparkSession, dir: String): DataFrame = {
    val agg = ohlcvAggOn(eventsStream(driveSession(s), dir))
    runToBatch(agg, "complete")
      .select(
        col("window.start").as("w_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n")
      )
      .orderBy("w_start", "event_type")
  }

  /** Continuous per-hour top-k leaderboard (typed form, source-agnostic)
    * — the streaming shape of topk_pergroup: per 1-hour bucket the k
    * highest-value events, selected by the bounded-heap
    * [[graft.functions.TopKAggregator]], so every micro-batch folds its
    * rows into AT MOST k retained candidates per open hour before any
    * exchange — per-key state is O(k), never the hour's row count.
    * State holds one k-heap per hour seen (tiny rows); a 24/7 deploy
    * emits in update mode and expires closed hours downstream — the
    * AvailableNow drive here uses complete so the materialized result
    * equals the batch leaderboard exactly (spec).
    */
  private[graft] def topkOn(events: DataFrame, k: Int) = {
    // like every sibling *On helper, the session is the SOURCE's — a
    // separate session parameter invited a cross-session mismatch
    // (parent session passed while the stream lives on the drive clone)
    val sp = events.sparkSession
    import sp.implicits._
    import graft.functions.{Scored, TopKAggregator}
    events
      // top-k of observed (hour, value) pairs: a row without a time
      // has no hour, one without a value has no rank (round-13)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("qId"),
        col("value").as("score"),
        col("event_id").as("vecId"))
      .as[Scored]
      .groupByKey(_.qId)
      .agg(new TopKAggregator(k).toColumn.name("top"))
  }

  /** Streaming per-hour top-5: [[topkOn]] over the events stream,
    * drained AvailableNow and unpacked to ranked rows.
    */
  def topk(s: SparkSession, dir: String): DataFrame = {
    val agg = topkOn(eventsStream(driveSession(s), dir), 5).toDF("hour_epoch", "top")
    runToBatch(agg, "complete")
      .select(col("hour_epoch"), posexplode(col("top.items")).as(Seq("pos0", "c")))
      .select(
        timestamp_seconds(col("hour_epoch")).as("w_start"),
        (col("pos0") + 1).cast("long").as("rank"),
        col("c.vecId").as("event_id"),
        round(col("c.score"), 6).as("value")
      )
      .orderBy("w_start", "rank")
  }

  /** Streaming ingestion into a [[graft.sources.Store]] item — the 24/7
    * form of the reference's `store[k] += df` loop: the events stream
    * lands micro-batch by micro-batch through the idempotent
    * appendNewOnly sink (see [[graft.sources.Store.ingestStream]]),
    * then the result is read back with a full-range store query.
    * Returns the ingested rows; equals the batch table (spec, plus a
    * fresh-checkpoint replay asserting the no-duplicates-on-retry
    * property).
    */
  def storeIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Store
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-store").toString
    // store.query reads a small slice on the driver when it is called,
    // but a larger one is a distributed scan that reads the store's
    // files LAZILY, so the temp store cannot be deleted here — enqueue
    // it for the single static exit sweep (one hook total, not one
    // Thread per invocation)
    sweepAtExit(tmp)
    val drive = driveSession(s)
    val store = Store.open(
      drive, tmp,
      cols = Some(Seq(
        "EVENT_ID" -> LongType,
        "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType,
        "VALUE" -> DoubleType
      )),
      index = Some("TS"),
      bucket = Some("day")
    )
    // normalize handles the rest: lower-case names matched
    // case-insensitively and upper-folded, extra columns (props) dropped
    store.ingestStream("EVENTS", eventsStream(drive, dir), s"$tmp/.checkpoint")
      .awaitTermination()
    store.query("EVENTS", None, None).orderBy("EVENT_ID")
  }

  val all: Seq[Q] = Seq(
    Q("stream_tumbling", (s, d) => tumbling(s, d), None),
    Q("stream_ohlcv", (s, d) => ohlcv(s, d), None),
    Q("stream_topk", (s, d) => topk(s, d), None),
    Q("stream_store_ingest", (s, d) => storeIngest(s, d), None),
    Q("stream_session", (s, d) => session(s, d), None),
    Q("stream_dedup_state", (s, d) => dedupState(s, d), None),
    Q("stream_custom_state", (s, d) => customState(s, d), None),
    Q("stream_join", (s, d) => streamJoin(s, d), None),
    Q("stream_minhash_dedup", (s, d) => minhashDedup(s, d), None),
    Q("stream_zscore", (s, d) => zscore(s, d), None),
    Q("stream_funnel", (s, d) => funnel(s, d), None)
  )
}
