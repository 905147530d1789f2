package graft.operators

import graft.{Q, Tables}
import graft.functions.{OhlcAggregator, Tick}
import graft.functions.MathFunctions.intDiv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators — the reference's actual domain (a "highspeed
  * timeseries … database", README.md:7). Spark has no built-in ASOF
  * join; [[asOfJoin]] is the union + last-over-window rewrite (one
  * shuffle on the key, no row explosion — SURVEY.md §2.b `join_asof`).
  */
object TimeSeries {
  import Tables._

  /** Funnel conversion window (µs): each next step must land within
    * this of the step it follows. Shared by the batch `funnel_steps`,
    * the streaming [[graft.streaming.Streams.funnelOn]], and their
    * specs — one knob, no drift.
    */
  private[graft] val FunnelWindowUs = 14400000000L // 4 hours

  /** Perf-only memo for [[asOfJoin]]'s hot-key detection, keyed by
    * (canonicalized input plan hash, threshold). The memo holds the
    * SURVIVOR KEY LIST itself, not just a boolean: the hot branch turns
    * it into a LocalRelation broadcast side, so repeated actions on a
    * hot-keyed result (bench samples, retries, the two asOfJoin calls
    * in join_asof_near) never re-run the corpus-wide detection
    * aggregation — it used to ride the main plan and re-aggregate the
    * whole union per action. Survivor count is bounded by
    * corpus-rows / threshold (≤ ~250k at 1e12 rows), so entries are
    * small; cleared wholesale past 64 entries, and a list longer than
    * [[hotMemoMaxSurvivors]] is never cached at all (re-running
    * detection beats pinning hundreds of MB on the driver under a
    * pathologically low threshold). The key carries the key column's
    * DataType name alongside the 32-bit semanticHash: a hash collision
    * between plans with differently-typed keys must not feed mistyped
    * Rows into createDataFrame. Writers use get → compute →
    * putIfAbsent, never computeIfAbsent — the compute is a Spark job
    * and must not run under a bin lock.
    */
  private[operators] val hotMemoMaxSurvivors = 10000
  private val hotMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, String), Array[org.apache.spark.sql.Row]] {
      override def putIfAbsent(
          k: (Int, Long, String),
          v: Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
        if (size() > 64) clear()
        super.putIfAbsent(k, v)
      }
    }

  /** Generic left as-of join: for every left row, the latest right row
    * with `rightTs <= leftTs` sharing the key (or, with
    * `forward = true`, the EARLIEST right row with `rightTs >= leftTs`
    * — pandas merge_asof's direction='forward'). Implemented by
    * unioning both sides tagged with a side marker, then ONE
    * `last(struct, ignoreNulls)` over a window ordered by (ts, side) —
    * right rows sort before left rows at equal ts, so the bound is
    * inclusive; the forward direction just inverts the timestamp
    * ordering. No correlated subquery or row explosion.
    *
    * BOUNDARY TIES: among right rows sharing the match-deciding
    * timestamp, the GREATEST payload tuple wins — lexicographic over
    * (rightTs, rightPayload columns in declared order), in both
    * directions. This is a pinned choice, not an accident: SQL ASOF
    * engines pick an arbitrary tied row, and an unpinned pick is
    * invisible until a corpus carries ties (the round-16 fuzz × sf0.1
    * corpus did).
    *
    * ROW-ATOMIC MATCH: every payload column (and the tolerance check)
    * resolves from the SAME matched right row, carried as one struct —
    * DuckDB ASOF's "the latest right row", so a NULL payload value in
    * the matched row comes out NULL rather than borrowing an older
    * row's value past the staleness bound. KEY semantics are SQL
    * equality (the oracles' ASOF ... ON l.k = r.k): a NULL key on
    * either side never matches — NULL-key left rows keep their row
    * with NULL payloads, like any unmatched left row.
    *
    * HOT KEYS take a TWO-LEVEL carry (the ts_ewma / pack_shards block
    * pattern, r13 verdict #4): a single (key)-partitioned running
    * window serializes a hot key — one multi-TB user — into ONE task.
    * A bounded pre-pass (two-phase count per key; at most
    * corpus/threshold survivors reach the driver check) detects keys
    * above `hotKeyThreshold` rows. With none — the common,
    * high-cardinality-key case — the plan is exactly the classic
    * one-exchange window. With hot keys, rows of those keys block by a
    * time cell (`blockUs`, cold keys keep one degenerate block); each
    * (key, block)'s FINAL payload values (per column, the extreme-ts
    * non-null right value) reduce map-side into a bounded table; a
    * window over that table yields each block's carry-in (nearest
    * non-null final among EARLIER blocks — later blocks under
    * forward); the per-row window then partitions by (key, block),
    * bounded by a block's population, never a whole key. A hot key
    * spans as many tasks as it spans time cells. The pre-pass is a
    * deliberate bounded driver decision (one isEmpty job), the same
    * class as the footer-metadata and BPE model-state sites — the
    * alternative (block machinery unconditionally) measured 2.5× the
    * per-query baseline at bench scale because high-cardinality keys
    * degenerate the carry table to corpus size.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[(String, String)], // (rightCol -> outName)
      tolerance: Option[String] = None, // e.g. "30 minutes": bound match staleness
      forward: Boolean = false,
      blockUs: Long = 3600000000L, // 1-hour carry cells; tune to the corpus
      // rows per key before it blocks by time cell. 4M is the
      // conservative switch point: below it a single task sorts the
      // key comfortably on any executor (measured: 10M rows on one key
      // sort in ~6 s even on one local thread), above it one task's
      // n·log n + spill grows without bound while every other core
      // idles — the block path stays flat-parallel (exponents
      // 0.37–0.59 at 100x, tools/StressAsof receipts in PLANS.md).
      hotKeyThreshold: Long = 4194304L
  ): DataFrame = {
    val l = left.withColumn("__side", lit(1))
    // a right row without a time can never satisfy rightTs <= / >=
    // leftTs (ASOF comparisons over NULL are false) — and unfiltered it
    // would ride the running last() into every later left row. A right
    // row without a KEY never matches either: the contract is SQL
    // equality (the oracles' ASOF ... ON l.k = r.k), where NULL = NULL
    // is not true — the window's partitionBy alone would silently
    // group NULL keys together and match them.
    //
    // The matched row travels as ONE STRUCT (__m: its timestamp plus
    // every payload column): resolving payload columns independently
    // with per-column last(ignoreNulls) mixed values from DIFFERENT
    // right rows whenever the latest row carried a NULL payload — and
    // let a stale value bypass the tolerance bound, which checks only
    // the latest matched row's timestamp. One struct = every output
    // column and the staleness check come from the same row, exactly
    // DuckDB ASOF's "the latest right row" semantics.
    val r0 = right
      .filter(col(rightTs).isNotNull && col(key).isNotNull)
      .select(
        col(key),
        col(rightTs).as("__ts"),
        struct(
          (col(rightTs).as("__mts") +:
            rightPayload.map { case (c, out) => col(c).as(s"__p_$out") }): _*).as("__m"))
    val lCols = left.columns
    val l1 = l.withColumn("__ts", col(leftTs))
    val r1 = r0.withColumn("__side", lit(0))
    // align schemas for unionByName(allowMissingColumns): left rows get
    // a NULL __m, which ignoreNulls skips — a left row never "matches"
    // another left row
    val unioned = l1.unionByName(r1, allowMissingColumns = true)
    // backward: ascending ts — the last right row seen is the latest
    //   with rightTs <= leftTs.
    // forward: descending ts — rows already processed have HIGHER ts,
    //   so the last right row seen is the earliest with
    //   rightTs >= leftTs. Side stays ascending either way (right
    //   before left at equal ts ⇒ inclusive bound).
    val tsOrd = if (forward) col("__ts").desc else col("__ts").asc
    // hot-key pre-pass: two-phase count per key; only keys above the
    // threshold survive the filter, so the collected list is bounded by
    // corpus-rows / threshold. Deterministic per corpus — the branch
    // cannot flap between runs. The SURVIVOR LIST is MEMOIZED per
    // canonicalized input plan (cheap driver-side hash): the decision
    // is perf-only — both branches are value-identical — so a stale
    // hit after data changed under the same paths can never corrupt a
    // result, only pick the less optimal plan until the JVM (or the
    // memo) is recycled. Repeated executions of a query shape
    // (dashboards, bench samples, retries) pay the detection job once,
    // and the hot branch's broadcast side is a LocalRelation of the
    // collected keys — zero jobs per action, where broadcasting the
    // detection DataFrame itself re-aggregated the whole union every
    // time the result was acted on.
    val hotKeys = unioned
      .groupBy(col(key).as("__hk"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotKeyThreshold)
      .select("__hk")
    // get → compute OUTSIDE the map → putIfAbsent: computeIfAbsent
    // would run the detection JOB inside a CHM bin lock, stalling any
    // concurrent asOfJoin planning that hashes to the same bin (CHM
    // mapping functions must be short; a Spark job is not). A lost
    // race just runs the cheap detection twice — same verdict both
    // times (deterministic per corpus).
    val memoKey = (
      unioned.queryExecution.analyzed.canonicalized.semanticHash(),
      hotKeyThreshold,
      unioned.schema(key).dataType.catalogString)
    val survivors: Array[org.apache.spark.sql.Row] = TimeSeries.hotMemo.get(memoKey) match {
      case null =>
        val v = hotKeys.collect()
        if (v.length <= TimeSeries.hotMemoMaxSurvivors) TimeSeries.hotMemo.putIfAbsent(memoKey, v)
        v
      case cached => cached
    }
    val hasHot: Boolean = survivors.nonEmpty
    // prepared rows + the per-row window + a carry-column lookup:
    //   no hot keys — the classic single window keyed by (key); no
    //     carry columns exist (lookup returns None);
    //   hot keys — rows of hot keys block by time cell (cold keys keep
    //     the degenerate block 0 = their whole-key window), the block
    //     carry tables are built, and the lookup surfaces __c_* columns
    //     for the coalesce fallback.
    // Boundary-tie pin (found by the round-16 fuzz × sf0.1 corpus):
    // DISTINCT right rows at the SAME timestamp are ordered by NEITHER
    // engine — DuckDB's ASOF picks an arbitrary one and this window's
    // (ts, side) sort left their relative order to partition layout,
    // so 16 rounds of hash agreement on tied corpora were
    // implementation luck (the sf0.01 fuzz corpus has 6-way click ties
    // that happened to agree; the sf0.1 one has 28-way ties that
    // didn't). The pinned contract, both directions: among right rows
    // sharing the boundary timestamp, the GREATEST payload tuple
    // (rightTs first, then the declared payload columns in order)
    // wins. Engine side: __m itself is that tuple, so it rides the
    // window sort as the final key (free) and the hot path's max_by /
    // min_by key becomes (signed ts, __m) (free); oracle side: the
    // right leg pre-collapses to max(payload) per (key, ts), which is
    // the identical winner and leaves untied data untouched.
    val mTie = col("__m").asc_nulls_first
    val (prepared, w, carry): (DataFrame, org.apache.spark.sql.expressions.WindowSpec, Option[org.apache.spark.sql.Column]) =
      if (!hasHot) {
        val w0 = Window
          .partitionBy(key)
          .orderBy(tsOrd, col("__side"), mTie)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (unioned, w0, None)
      } else {
        // the collected survivor keys as a LocalRelation broadcast side
        val hotDf = unioned.sparkSession.createDataFrame(
          java.util.Arrays.asList(survivors: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "__hk", unioned.schema(key).dataType))))
        val u = unioned
          .join(broadcast(hotDf), col(key) <=> col("__hk"), "left")
          .withColumn(
            "__blk",
            when(col("__hk").isNotNull, intDiv(unix_micros(col("__ts")), lit(blockUs)))
              .otherwise(lit(0L)))
          .drop("__hk")
        // level 1 — block finals from right rows only: the matched-row
        // struct at the extreme ts. The max_by key is (signed ts, __m),
        // NOT bare __ts: distinct right rows tied on __ts would leave
        // max_by/min_by's pick unpinned — the appended __m resolves the
        // tie to the greatest payload tuple, the same winner the
        // single-window sort's mTie key picks (the sign flip turns the
        // forward min-over-ts into a max so ONE aggregate expresses
        // both directions with the tie always maximizing __m).
        // Two-phase hash agg, map-side partials; output is
        // |cold keys| + (hot keys × active cells).
        val tsSigned =
          if (forward) lit(-1L) * unix_micros(col("__ts"))
          else unix_micros(col("__ts"))
        val finals = u
          .filter(col("__side") === 0)
          .groupBy(col(key).as("__k"), col("__blk").as("__b"))
          .agg(max_by(col("__m"), struct(tsSigned.as("__o"), col("__m"))).as("__f"))
        // level 2 — carry-in per (key, block) over the block SPINE
        // (blocks seen on either side: a left-only block still needs
        // the carry from older right rows). NULL keys (left-side only —
        // right NULL keys are filtered at ingestion) carry nothing.
        val spine = u
          .filter(col("__blk").isNotNull)
          .select(col(key).as("__k"), col("__blk").as("__b"))
          .distinct()
        val wCarry = Window
          .partitionBy("__k")
          .orderBy(if (forward) col("__b").desc else col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val carries = spine
          .as("sp")
          .join(
            finals.as("fi"),
            col("sp.__k") <=> col("fi.__k") && col("sp.__b") === col("fi.__b"),
            "left")
          .select(
            col("sp.__k").as("__k"), col("sp.__b").as("__b"),
            col("fi.__f").as("__f"))
          .select(
            col("__k"), col("__b"),
            last(col("__f"), ignoreNulls = true).over(wCarry).as("__c"))
        val withCarry = u
          .as("u")
          .join(
            carries.as("ca"),
            col(s"u.$key") <=> col("ca.__k") && col("u.__blk") === col("ca.__b"),
            "left")
          .drop(col("ca.__k"))
          .drop(col("ca.__b"))
        val wB = Window
          .partitionBy(col(key), col("__blk"))
          .orderBy(tsOrd, col("__side"), mTie)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        (withCarry, wB, Some(col("__c")))
      }
    // ONE running last over the matched-row struct: every payload
    // column and the tolerance bound resolve from the same right row
    val localLast = last(col("__m"), ignoreNulls = true).over(w)
    val withM = prepared.withColumn(
      "__matched", carry.fold(localLast)(c => coalesce(localLast, c)))
    // tolerance: a match further than `tolerance` from leftTs is no
    // match at all — nulling the WHOLE struct bounds every payload
    // column by the same matched row's timestamp
    val bounded = tolerance.fold(withM) { tol =>
      val inRange =
        if (forward) col("__matched.__mts") <= col(leftTs) + expr(s"INTERVAL $tol")
        else col("__matched.__mts") >= col(leftTs) - expr(s"INTERVAL $tol")
      withM.withColumn("__matched", when(inRange, col("__matched")))
    }
    bounded
      .filter(col("__side") === 1)
      // a LEFT row without a time keeps its row (left join) but matches
      // nothing — under the forward ordering (desc, Spark nulls last)
      // it would otherwise see every right row as "after" it
      .select((lCols.map(col) ++ rightPayload.map { case (_, out) =>
        when(col(leftTs).isNotNull, col(s"__matched.__p_$out")).as(out) }).toIndexedSeq: _*)
  }

  /** Session gap: a new session starts after 30 idle minutes. */
  private val SessionGapUs = 1800000000L

  /** Events with their gap-based session index: lag + running sum of
    * session starts, two window passes sharing ONE hash shuffle on
    * user_id. Epoch-µs integer arithmetic so any SQL engine agrees
    * exactly. The single source of the session definition — consumed by
    * both `sessionize` and `join_interval`.
    */
  private def sessionIndexed(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn(
        "is_start",
        when(
          col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > SessionGapUs,
          1L
        ).otherwise(0L)
      )
      .withColumn("session_idx", sum(col("is_start")).over(run))
  }

  val all: Seq[Q] = Seq(
    // Gap-based sessionization (batch) — see [[sessionIndexed]].
    Q(
      "sessionize",
      (s, d) =>
        sessionIndexed(s, d)
          .select("event_id", "user_id", "ts", "session_idx")
          .orderBy("event_id"),
      Some(
        """WITH t AS (SELECT event_id, user_id, ts,
          |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id))
          |SELECT event_id, user_id, ts,
          |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          |FROM t ORDER BY event_id""".stripMargin
      )
    ),
    // Windowed funnel analysis (ClickHouse windowFunnel / Amplitude
    // conversion-window semantics): per user, the longest completed
    // prefix of view → click → purchase where EACH next step lands
    // within 4 hours of the step it follows (steps may interleave with
    // other activity). Declarative linear plan — no per-user state
    // machine, no self-join: two chained trailing RANGE frames over
    // epoch-µs mark "a view within W precedes this click" then "a
    // qualified click within W precedes this purchase" (both frames
    // share one partition/sort ⇒ ONE user-keyed shuffle), and a
    // two-phase hash agg grades each user. The oracle is the
    // independent 3-way-exists formulation — same semantics, different
    // algorithm — so the window chaining is cross-checked, not
    // replicated. Scan-side filter prunes non-funnel types at parquet.
    Q(
      "funnel_steps",
      (s, d) => {
        val W = FunnelWindowUs
        val w = Window.partitionBy("user_id").orderBy("tss").rangeBetween(-W, 0)
        events(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), unix_micros(col("ts")).as("tss"), col("event_type").as("et"))
          // NULL-time events count toward n_events and satisfy step 1
          // (the oracle's l1 has no time predicate) but can neither
          // qualify nor enable a WITHIN-W step: in the oracle every
          // interval comparison over a NULL ts is false, while a Spark
          // RANGE frame over a NULL ordering key sees its null PEERS —
          // the tss guards keep the two formulations identical
          .withColumn("has_v",
            max(when(col("et") === "view" && col("tss").isNotNull, 1)).over(w))
          .withColumn("lvl2",
            when(col("et") === "click" && col("tss").isNotNull && col("has_v") === 1, 1))
          .withColumn("has_c2", max(col("lvl2")).over(w))
          .withColumn("lvl3",
            when(col("et") === "purchase" && col("tss").isNotNull && col("has_c2") === 1, 1))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            max(when(col("et") === "view", 1).otherwise(0)).as("s1"),
            max(coalesce(col("lvl2"), lit(0))).as("s2"),
            max(coalesce(col("lvl3"), lit(0))).as("s3")
          )
          .select(
            col("user_id"),
            col("n_events"),
            when(col("s3") === 1, lit(3L))
              .when(col("s2") === 1, lit(2L))
              .when(col("s1") === 1, lit(1L))
              .otherwise(lit(0L)).as("steps")
          )
          .orderBy("user_id")
      },
      Some(
        """WITH f AS (SELECT user_id, ts, event_type AS et FROM events
          |           WHERE event_type IN ('view', 'click', 'purchase')),
          |u AS (SELECT user_id, count(*) AS n_events FROM f GROUP BY user_id),
          |l2 AS (SELECT DISTINCT c.user_id FROM f v
          |       JOIN f c ON c.user_id = v.user_id AND v.et = 'view' AND c.et = 'click'
          |              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR),
          |l3 AS (SELECT DISTINCT p.user_id FROM f v
          |       JOIN f c ON c.user_id = v.user_id AND v.et = 'view' AND c.et = 'click'
          |              AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
          |       JOIN f p ON p.user_id = c.user_id AND p.et = 'purchase'
          |              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR),
          |l1 AS (SELECT DISTINCT user_id FROM f WHERE et = 'view')
          |SELECT u.user_id, CAST(u.n_events AS BIGINT) AS n_events,
          |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
          |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
          |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
          |            ELSE 0 END AS BIGINT) AS steps
          |FROM u ORDER BY user_id""".stripMargin
      )
    ),
    // Robust outlier detection via Median Absolute Deviation — the
    // standard k·MAD cleaning rule (flag |x − median| > 10·MAD), which
    // unlike z-scores is not itself dragged by the outliers. All inputs
    // live on the exact integer-cents grid, so both medians interpolate
    // on half-integer grids and every comparison is on identical
    // doubles. Exact per-group percentiles on a ~5-value key would
    // concentrate each group into one buffering task (whole-partition
    // window or percentile agg — round-7 verdict watch item); instead
    // both medians are selected from a BIGINT HISTOGRAM: one two-phase
    // groupBy(type, value).count() collapses the corpus map-side to
    // the grid-bounded distinct-value table, cumulative ranks over
    // that metadata-sized table locate the two middle elements, and
    // quantile_cont interpolation is replayed exactly on the
    // half-integer grid (the MAD pass doubles deviations to stay
    // integral). Three corpus-sized two-phase aggs total (value
    // histogram, deviation histogram, flag count) — every one map-side
    // partial, no whole-group buffering anywhere at any cardinality.
    Q(
      "ts_outlier_mad",
      (s, d) => {
        // exact interpolated median (quantile_cont 0.5) of an integral
        // column, selected from its histogram: ranks pLow=(n-1) div 2
        // and pHigh=n div 2 are located in the cumulative count, then
        // averaged — distributed for any group size
        def histMedian(df: DataFrame, v: String, out: String): DataFrame = {
          // NULL values leave the histogram (quantile_cont ignores
          // them); the caller's row counts still see the rows
          val hist = df.filter(col(v).isNotNull)
            .groupBy(col("event_type"), col(v))
            .agg(count(lit(1)).as("cnt"))
          // group total as a WHOLE-PARTITION window sum over the same
          // partitioning the cumulative rank already forces (the
          // agg_stats shape): the older separate `n` aggregate +
          // broadcast join re-derived the corpus-sized hist pipeline a
          // second time — one histogram pass instead of two, same
          // groups (n came from hist itself, so presence is identical)
          val wCum = Window.partitionBy("event_type").orderBy(v)
            .rowsBetween(Window.unboundedPreceding, 0)
          val wAll = Window.partitionBy("event_type")
          val inRank = (r: org.apache.spark.sql.Column) =>
            r.between(col("cum") - col("cnt"), col("cum") - 1)
          hist
            .withColumn("n", sum(col("cnt")).over(wAll))
            .withColumn("cum", sum(col("cnt")).over(wCum))
            .groupBy("event_type")
            .agg(
              max(when(inRank(floor((col("n") - 1) / 2)), col(v))).as("vlo"),
              max(when(inRank(floor(col("n") / 2)), col(v))).as("vhi")
            )
            .select(col("event_type"), ((col("vlo") + col("vhi")) / 2.0).as(out))
        }
        // NULL event_type rows are dropped UP FRONT: the oracle's
        // `b JOIN m USING (event_type)` never matches a NULL key
        // (NULL != NULL in join predicates on both engines), so the
        // NULL-type group is absent from its output — an explicit
        // filter states that semantics instead of relying on it
        // falling out of an inner join's NULL-key behavior
        val base = events(s, d)
          .filter(col("event_type").isNotNull)
          .select(col("event_type"), Grid.gridLong(col("value"), 100).as("c"))
        // med is GROUP-sized (one row per event_type) but referenced
        // through `dev` by BOTH the MAD histogram and the final
        // aggregate — uncached, Catalyst copies its corpus-sized
        // pipeline into each reference (the round-17 plan counted 9
        // parquet scans for this query). Caching the tiny frame
        // computes it once; the cache holds ~|event_type| rows and is
        // rebuilt from parquet on every invocation (intra-query reuse,
        // not cross-run state).
        val med = histMedian(base, "c", "med").cache()
        graft.operators.CacheTracker.track("ts_outlier_mad", med)
        // deviations on the half-cent grid: med is integer or exact .5,
        // so 2·|c − med| is integral and the MAD histogram stays BIGINT.
        // LEFT joins throughout: a group whose values are all NULL has no
        // histogram rows (med/m2 absent), but the oracle keeps the group
        // with NULL med/mad and n_outliers=0 — inner joins would drop it.
        // d2 needs no explicit NULL-med guard: c and med are both NULL
        // for such a group, so d2 propagates NULL and the outlier CASE
        // (NULL > …) is false on both engines.
        val dev = base
          .join(broadcast(med), Seq("event_type"), "left")
          .withColumn("d2", abs(col("c") * 2 - (col("med") * 2).cast("long")))
        val mad2 = histMedian(dev.select(col("event_type"), col("d2")), "d2", "m2")
        dev
          .join(broadcast(mad2), Seq("event_type"), "left")
          .groupBy("event_type")
          .agg(
            (max(col("med")) / 100.0).as("med_val"),
            (max(col("m2")) / 2.0 / 100.0).as("mad_val"),
            count(lit(1)).as("n"),
            sum(when(col("d2") > col("m2") * 10, 1L).otherwise(0L)).as("n_outliers")
          )
          .orderBy("event_type")
      },
      Some(
        s"""WITH b AS (SELECT event_type, ${Grid.gridSql("value", "100")} AS c
          |           FROM events),
          |m AS (SELECT event_type, quantile_cont(c, 0.5) AS med FROM b GROUP BY 1),
          |d AS (SELECT b.event_type, b.c, m.med, abs(b.c - m.med) AS dev
          |      FROM b JOIN m USING (event_type)),
          |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
          |SELECT d.event_type,
          |  max(d.med) / 100.0 AS med_val,
          |  max(md.mad) / 100.0 AS mad_val,
          |  count(*) AS n,
          |  CAST(sum(CASE WHEN d.dev > 10 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_outliers
          |FROM d JOIN md USING (event_type)
          |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
      )
    ),
    // Rolling time-window aggregate: per user, the sum/count of events in
    // the trailing hour — a RANGE frame over epoch-µs (Spark rangeBetween
    // needs a numeric ordering column; DuckDB's RANGE INTERVAL frame over
    // the timestamp is value-identical since (user_id, ts) is unique).
    // One hash shuffle on user_id; inputs are 2dp-gridded so round(…, 2)
    // is exact cross-engine.
    Q(
      "win_rolling_time",
      (s, d) => {
        val w = Window
          .partitionBy("user_id")
          .orderBy(col("tss"))
          .rangeBetween(-3600000000L, 0L)
        events(s, d)
          .withColumn("tss", unix_micros(col("ts")))
          .withColumn("roll_sum", round(sum(col("value")).over(w), 2))
          .withColumn("roll_n", count(lit(1)).over(w))
          .select("event_id", "user_id", "ts", "roll_sum", "roll_n")
          .orderBy("event_id")
      },
      Some(
        """SELECT event_id, user_id, ts,
          |  round(sum(value) OVER w, 2) AS roll_sum,
          |  count(*) OVER w AS roll_n
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin
      )
    ),
    // Interval-overlap join: concurrent sessions across users. Naively
    // O(n²) (every interval against every interval); the scale path is
    // GRID BUCKETING — each interval explodes to the 1-hour cells it
    // covers, candidates come from an EQUI-join on the cell id (any
    // overlap point lies in a cell both intervals cover, so the
    // candidate set is complete), and the exact overlap predicate +
    // distinct run only on cell-collocated pairs. Explode factor is
    // bounded by interval duration / cell width; no cross product at
    // any scale.
    Q(
      "join_interval",
      (s, d) => {
            val cellUs = lit(3600000000L) // 1-hour grid
        // exact integer cell ids (double division + cast would rest on an
        // ULP-headroom argument that a finer grid or nanos domain breaks);
        // persist: both sides of the self-join read the exploded cells —
        // without it the whole sessionization pipeline runs twice
        val cells = sessionIndexed(s, d)
          .groupBy(col("user_id"), col("session_idx").as("sidx"))
          .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
          .withColumn("c0", intDiv(unix_micros(col("s")), cellUs))
          .withColumn("c1", intDiv(unix_micros(col("e")), cellUs))
          .withColumn("cell", explode(sequence(col("c0"), col("c1"))))
          .persist()
        graft.operators.CacheTracker.track("ts_concurrency", cells)
        val a = cells.select(
          col("cell"), col("user_id").as("user_a"), col("sidx").as("sidx_a"),
          col("s").as("s_a"), col("e").as("e_a"))
        val b = cells.select(
          col("cell"), col("user_id").as("user_b"), col("sidx").as("sidx_b"),
          col("s").as("s_b"), col("e").as("e_b"))
        a.join(b, Seq("cell"))
          .filter(
            col("user_a") < col("user_b") &&
              col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
          .select(
            col("user_a"), col("sidx_a"), col("user_b"), col("sidx_b"),
            greatest(col("s_a"), col("s_b")).as("o_start"),
            least(col("e_a"), col("e_b")).as("o_end"))
          .distinct()
          .orderBy("user_a", "sidx_a", "user_b", "sidx_b")
      },
      Some(
        """WITH t AS (SELECT event_id, user_id, ts,
          |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)),
          |se AS (SELECT user_id, ts,
          |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sidx
          |  FROM t),
          |sess AS (SELECT user_id, sidx, min(ts) AS s, max(ts) AS e
          |         FROM se GROUP BY user_id, sidx)
          |SELECT a.user_id AS user_a, a.sidx AS sidx_a,
          |       b.user_id AS user_b, b.sidx AS sidx_b,
          |       greatest(a.s, b.s) AS o_start, least(a.e, b.e) AS o_end
          |FROM sess a JOIN sess b
          |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
          |ORDER BY user_a, sidx_a, user_b, sidx_b""".stripMargin
      )
    ),
    // Session concurrency profile — how many sessions are live at each
    // instant. This is the LINEAR-OUTPUT companion to join_interval:
    // enumerating overlap PAIRS is inherently quadratic in concurrency
    // (any engine pays the output), but most consumers only need the
    // concurrency curve / its peaks, and that is a sweep line — O(n)
    // output no matter how dense the overlap. Each session emits
    // (+1 at start, -1 just past its inclusive end), change points
    // collapse in a two-phase agg, and the running sum uses the same
    // two-level distributed prefix-sum shape as pack_shards: per-hour-
    // cell totals (metadata-sized ordered window), broadcast base
    // offsets, cell-local running sums — no whole-timeline window
    // partition at any scale.
    Q(
      "ts_concurrency",
      (s, d) => {
            val cellUs = 3600000000L // 1-hour prefix-sum cells
        val sess = sessionIndexed(s, d)
          .groupBy(col("user_id"), col("session_idx"))
          .agg(
            min(unix_micros(col("ts"))).as("su"),
            max(unix_micros(col("ts"))).as("eu")
          )
          // a session with no timestamped event (each NULL-ts event
          // sessionizes alone: its gap is NULL ⇒ new session) has no
          // concurrency interval — excluded on both sides
          .filter(col("su").isNotNull)
        val deltas = sess
          .select(
            explode(
              array(
                struct(col("su").as("tsu"), lit(1L).as("d")),
                struct((col("eu") + 1L).as("tsu"), lit(-1L).as("d"))
              )
            ).as("ev")
          )
          .select(col("ev.tsu").as("tsu"), col("ev.d").as("d"))
        val byTs = deltas
          .groupBy("tsu")
          .agg(sum(col("d")).as("delta"))
          .withColumn("cell", intDiv(col("tsu"), lit(cellUs)))
        // NOT persisted although byTs feeds both the per-cell bases and
        // the final join: a round-17 A/B measured persist() at 1.88 s
        // vs 1.55 s un-persisted (calm window, min-of-5) — the
        // materialization barrier serializes stages that otherwise
        // overlap, and the boundary table is cheap to recompute
        // relative to caching it. Revisit only if the sessionize
        // pipeline above ever grows another corpus pass.
        // exclusive prefix of per-cell totals: the ordered window runs
        // over ~one row per active hour, not over change points
        val wCell = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
        val cellBase = byTs
          .groupBy("cell")
          .agg(sum(col("delta")).as("ct"))
          .withColumn("base", coalesce(sum(col("ct")).over(wCell), lit(0L)))
          .select("cell", "base")
        val wIn = Window.partitionBy("cell").orderBy("tsu")
          .rowsBetween(Window.unboundedPreceding, 0)
        byTs
          .join(broadcast(cellBase), "cell")
          .withColumn("conc", col("base") + sum(col("delta")).over(wIn))
          .select("tsu", "delta", "conc")
          .orderBy("tsu")
      },
      Some(
        """WITH t AS (SELECT event_id, user_id, ts,
          |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)),
          |se AS (SELECT user_id, ts,
          |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sidx
          |  FROM t),
          |sess AS (SELECT user_id, sidx,
          |         min(epoch_us(ts)) AS su, max(epoch_us(ts)) AS eu
          |         FROM se GROUP BY user_id, sidx
          |         HAVING min(epoch_us(ts)) IS NOT NULL),
          |ev AS (SELECT su AS tsu, 1 AS d FROM sess
          |       UNION ALL SELECT eu + 1 AS tsu, -1 AS d FROM sess),
          |g AS (SELECT tsu, CAST(sum(d) AS BIGINT) AS delta FROM ev GROUP BY tsu)
          |SELECT tsu, delta,
          |  CAST(sum(delta) OVER (ORDER BY tsu
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
          |FROM g ORDER BY tsu""".stripMargin
      )
    ),
    // Gap-filled resampling (forward fill) — the upsampling half of
    // resample coverage: bucket observations to a 1-hour grid (max per
    // slot), expand each series to its full dense grid, and carry the
    // last observation forward across empty slots. One aggregation, a
    // per-series grid explode (bounded by range/step), a left equi-join
    // and one window pass — all key-partitioned on the series.
    Q(
      "resample_ffill",
      (s, d) => {
            val cellUs = lit(3600000000L)
        val b = events(s, d)
          .groupBy(col("event_type"), intDiv(unix_micros(col("ts")), cellUs).as("slot"))
          // + 0.0 = the pinned ±0.0 normalization (see resample_ohlcv)
          .agg((round(max(col("value")), 2) + lit(0.0)).as("v"))
          .persist() // read by both the grid derivation and the join
        graft.operators.CacheTracker.track("resample_ffill", b)
        val g = b.groupBy("event_type")
          .agg(min("slot").as("lo"), max("slot").as("hi"))
          .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("slot"))
        val w = Window.partitionBy("event_type").orderBy("slot")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.join(b, Seq("event_type", "slot"), "left")
          .withColumn("v_fill", last(col("v"), ignoreNulls = true).over(w))
          .select("event_type", "slot", "v_fill")
          .orderBy("event_type", "slot")
      },
      Some(
        """WITH b AS (SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
          |             round(max(value), 2) + 0.0 AS v
          |           FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, min(slot) AS lo, max(slot) AS hi FROM b GROUP BY 1),
          |g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS slot FROM r),
          |j AS (SELECT g.event_type, g.slot, b.v FROM g LEFT JOIN b USING (event_type, slot))
          |SELECT event_type, CAST(slot AS BIGINT) AS slot,
          |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY slot
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
          |FROM j ORDER BY event_type, slot""".stripMargin
      )
    ),
    // Linear-interpolation upsampling — pandas' other resample fill
    // (`resample().interpolate()`): empty grid slots take the straight
    // line between the bracketing observations, v0 + (v1−v0)·(t−t0)/
    // (t1−t0). Same plan shape as resample_ffill (one agg, grid
    // explode, left join) plus TWO window passes — backward-looking
    // last-known and forward-looking next-known, both key-partitioned
    // on the series. The grid spans each series' [min, max] known slot,
    // so every gap is bracketed and no extrapolation arises. Both
    // engines evaluate the identical double expression on identical
    // inputs (v0/v1 are exact round(max,2) anchors), so the rounded
    // result is oracle-exact.
    Q(
      "resample_interp",
      (s, d) => {
            val cellUs = lit(3600000000L)
        val b = events(s, d)
          .groupBy(col("event_type"), intDiv(unix_micros(col("ts")), cellUs).as("slot"))
          // + 0.0 = the pinned ±0.0 normalization (see resample_ohlcv)
          .agg((round(max(col("value")), 2) + lit(0.0)).as("v"))
          .persist() // read by both the grid derivation and the join
        graft.operators.CacheTracker.track("resample_interp", b)
        val g = b.groupBy("event_type")
          .agg(min("slot").as("lo"), max("slot").as("hi"))
          .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("slot"))
        val back = Window.partitionBy("event_type").orderBy("slot")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // forward-looking next-known anchor, O(n): "first non-null at or
        // after the current slot" rewritten as a RUNNING last() over the
        // DESC ordering. The literal frame — (currentRow,
        // unboundedFollowing) — plans as Spark's
        // UnboundedFollowingWindowFunctionFrame, which re-scans to the
        // partition end for every row: O(n²) in the series' grid length.
        // Harmless on a month of hourly slots; a single far-out
        // timestamp (VerifyFuzz's 1969/2038 edges — how this was found)
        // stretches the grid to ~600 k slots per series and the
        // quadratic frame turns a sub-second query into hours. The
        // running-DESC form is the same value at every row and stays
        // incremental, costing one extra sort instead.
        val fwdAsRunningDesc = Window.partitionBy("event_type")
          .orderBy(col("slot").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        g.join(b, Seq("event_type", "slot"), "left")
          .withColumn("v0", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("s0", last(when(col("v").isNotNull, col("slot")), ignoreNulls = true).over(back))
          .withColumn("v1", last(col("v"), ignoreNulls = true).over(fwdAsRunningDesc))
          .withColumn("s1", last(when(col("v").isNotNull, col("slot")), ignoreNulls = true).over(fwdAsRunningDesc))
          .withColumn(
            "v_lin",
            when(col("v").isNotNull, col("v")).otherwise(
              round(
                col("v0") + (col("v1") - col("v0"))
                  * (col("slot") - col("s0")).cast("double")
                  / (col("s1") - col("s0")).cast("double"),
                6
              )
            )
          )
          .select("event_type", "slot", "v_lin")
          .orderBy("event_type", "slot")
      },
      Some(
        """WITH b AS (SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
          |             round(max(value), 2) + 0.0 AS v
          |           FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, min(slot) AS lo, max(slot) AS hi FROM b GROUP BY 1),
          |g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS slot FROM r),
          |j AS (SELECT g.event_type, g.slot, b.v FROM g LEFT JOIN b USING (event_type, slot)),
          |w AS (SELECT event_type, slot, v,
          |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY slot
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
          |  last_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
          |    OVER (PARTITION BY event_type ORDER BY slot
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0,
          |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY slot
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
          |  first_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
          |    OVER (PARTITION BY event_type ORDER BY slot
          |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s1
          |  FROM j)
          |SELECT event_type, CAST(slot AS BIGINT) AS slot,
          |  CASE WHEN v IS NOT NULL THEN v
          |       ELSE round(v0 + (v1 - v0) * CAST(slot - s0 AS DOUBLE)
          |                  / CAST(s1 - s0 AS DOUBLE), 6) + 0.0 END AS v_lin
          |FROM w ORDER BY event_type, slot""".stripMargin
      )
    ),
    // Rolling correlation between every pair of event-type series on
    // the hourly grid — the classic quant co-movement screen. Same
    // exact-integer-moments discipline as ts_zscore: per-slot anchors
    // are integer cents, ALL window sums (n, Σx, Σy, Σx², Σy², Σxy) are
    // exact BIGINT, variance gates are integer max>min per series, and
    // the one double expression runs on integers < 2^53 (value ≤ ~561 ⇒
    // cents ≤ 5.7e4, n·Σxy ≤ ~2e12), so every product/difference is
    // EXACT in double and both engines emit identical bits before the
    // final division. Windows are key-partitioned by the type pair.
    Q(
      "ts_rolling_corr",
      (s, d) => {
            val cellUs = lit(3600000000L)
        val b = events(s, d)
          .groupBy(col("event_type"), intDiv(unix_micros(col("ts")), cellUs).as("slot"))
          .agg(Grid.gridLong(max(col("value")), 100).as("c"))
        val pairs = b.as("x")
          .join(
            b.as("y"),
            col("x.slot") === col("y.slot") && col("x.event_type") < col("y.event_type")
          )
          .select(
            col("x.event_type").as("type_x"), col("y.event_type").as("type_y"),
            col("x.slot").as("slot"), col("x.c").as("cx"), col("y.c").as("cy")
          )
        val w = Window.partitionBy("type_x", "type_y").orderBy("slot").rowsBetween(-23, 0)
        val e = pairs
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum(col("cx")).over(w))
          .withColumn("sy", sum(col("cy")).over(w))
          .withColumn("sxx", sum(col("cx") * col("cx")).over(w))
          .withColumn("syy", sum(col("cy") * col("cy")).over(w))
          .withColumn("sxy", sum(col("cx") * col("cy")).over(w))
          .withColumn("xmx", max(col("cx")).over(w))
          .withColumn("xmn", min(col("cx")).over(w))
          .withColumn("ymx", max(col("cy")).over(w))
          .withColumn("ymn", min(col("cy")).over(w))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
        val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
        val sxyD = col("sxy").cast("double")
        // same degenerate-double class as ts_zscore: the exact max>min
        // gates prove nonzero variance, but n·sxx − sx² in DOUBLES can
        // round to 0 (or below) once the moments pass 2^53 — the
        // division would then raise DIVIDE_BY_ZERO under ANSI (or the
        // sqrt of a rounded-negative go NaN). Variances the doubles
        // cannot resolve yield NULL corr on both engines.
        val varX = nD * sxxD - sxD * sxD
        val varY = nD * syyD - syD * syD
        e.select(
          col("type_x"), col("type_y"), col("slot"), col("n").as("n_window"),
          when(
            col("n") >= 2 && col("xmx") > col("xmn") && col("ymx") > col("ymn")
              && varX > 0.0 && varY > 0.0,
            round((nD * sxyD - sxD * syD) / (sqrt(varX) * sqrt(varY)), 6)
          ).as("corr")
        ).orderBy("type_x", "type_y", "slot")
      },
      // + 0.0: the pinned ±0.0 normalization — DuckDB's round keeps
      // -0.0 (round(-1e-9, 6) = -0.0), Spark's returns +0.0
      Some(
        s"""WITH b AS (SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
          |             ${Grid.gridSql("max(value)", "100")} AS c
          |           FROM events GROUP BY 1, 2),
          |p AS (SELECT x.event_type AS type_x, y.event_type AS type_y,
          |             x.slot AS slot, x.c AS cx, y.c AS cy
          |      FROM b x JOIN b y ON x.slot = y.slot AND x.event_type < y.event_type),
          |w AS (SELECT type_x, type_y, slot,
          |  count(*) OVER win AS n,
          |  sum(cx) OVER win AS sx, sum(cy) OVER win AS sy,
          |  sum(cx * cx) OVER win AS sxx, sum(cy * cy) OVER win AS syy,
          |  sum(cx * cy) OVER win AS sxy,
          |  max(cx) OVER win AS xmx, min(cx) OVER win AS xmn,
          |  max(cy) OVER win AS ymx, min(cy) OVER win AS ymn
          |  FROM p
          |  WINDOW win AS (PARTITION BY type_x, type_y ORDER BY slot
          |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
          |SELECT type_x, type_y, CAST(slot AS BIGINT) AS slot,
          |  CAST(n AS BIGINT) AS n_window,
          |  CASE WHEN n >= 2 AND xmx > xmn AND ymx > ymn
          |       AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
          |       AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
          |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
          |  END AS corr
          |FROM w ORDER BY type_x, type_y, slot""".stripMargin
      )
    ),
    // Exponentially weighted moving average — a sequential per-series
    // recurrence (y = α·x + (1−α)·y_prev). Unrolled, the final value is
    // the closed-form weighted SUFFIX sum  y_n = β^(n−1)·x_1 +
    // Σ_{i≥2} α·β^(n−i)·x_i  — a plain aggregate once every row knows
    // d = #elements after it in its series. The pre-round-13 shape
    // piped each series through ONE task (repartition on a 5-value key
    // + sequential fold: O(1) state but serial wall-time — the r12
    // verdict's weak #2); d is instead ranked TWO-LEVEL, the
    // pack_shards pattern: rows block by a deterministic time cell,
    // a metadata-sized groupBy(series, block).count() yields each
    // block's carry (#elements in LATER blocks, via a window over the
    // tiny carry table), broadcast back; a row_number window partitioned
    // by (series, block) — bounded by a block's population, never a
    // whole series — supplies the local suffix rank. β^d underflows to
    // an exact 0 for deep history, which is the mathematics of EWMA
    // forgetting, not an approximation. A multi-TB series now spans
    // as many tasks as it spans time blocks.
    //
    // Compare is ROUNDED (6dp), not raw-hash: the oracle's list_reduce
    // replays the recurrence's serial IEEE op order, which NO parallel
    // recombination can reproduce bit-for-bit (β·(αx+βy) ≠ αβx + β²y
    // in floats); the two forms are identical in exact arithmetic and
    // agree to ~1e-12 relative, so 6dp is decided identically.
    Q(
      "ts_ewma",
      (s, d) => {
        // both weights as literals: (1 - 0.2) in doubles is NOT the
        // literal 0.8, and the oracle's lambda uses the literal
        val alpha = 0.2
        val beta = 0.8
        val blockUs = 3600000000L // 1-hour cells; tune to the corpus
        // NULL keys/values/timestamps are excluded on both sides (EWMA
        // is defined over observed, time-ordered values; a NULL ts row
        // would otherwise be silently dropped by the block equi-join
        // while the oracle kept it NULLS-LAST — divergent, not a choice)
        val base = events(s, d)
          .filter(col("event_type").isNotNull && col("value").isNotNull &&
            col("ts").isNotNull)
          .select(col("event_type"), unix_micros(col("ts")).as("tus"),
            col("event_id"), col("value"))
          .withColumn("blk", graft.functions.MathFunctions.intDiv(col("tus"), lit(blockUs)))
        // per-(series, block) populations: metadata-sized (map-side
        // combined), carries ranked over it per series
        val wAfter = Window.partitionBy("event_type")
          .orderBy(col("blk").desc).rowsBetween(Window.unboundedPreceding, -1)
        val carries = base.groupBy("event_type", "blk")
          .agg(count(lit(1)).as("m"))
          .withColumn("after", coalesce(sum(col("m")).over(wAfter), lit(0L)))
          .withColumn("ntot",
            sum(col("m")).over(Window.partitionBy("event_type")))
          .select("event_type", "blk", "after", "ntot")
        // local suffix rank within a block (+ the block's carry) = d;
        // the window partitions by (series, block) — block-bounded
        val wLoc = Window.partitionBy("event_type", "blk")
          .orderBy(col("tus").desc, col("event_id").desc)
        base
          .join(broadcast(carries), Seq("event_type", "blk"))
          .withColumn("d",
            row_number().over(wLoc).cast("long") - 1L + col("after"))
          .withColumn("w",
            when(col("d") === col("ntot") - 1L, pow(lit(beta), col("d")))
              .otherwise(lit(alpha) * pow(lit(beta), col("d"))))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum(col("w") * col("value")), 6).as("ewma"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n,
          |  round(list_reduce(list(value ORDER BY ts NULLS FIRST, event_id),
          |                    (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma
          |FROM events
          |WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
          |GROUP BY event_type ORDER BY event_type""".stripMargin
      )
    ),
    // As-of join: for each purchase, the latest click at-or-before it by
    // the same user. Oracle = DuckDB ASOF LEFT JOIN.
    Q(
      "join_asof",
      (s, d) => {
        val e = events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id")
        val clicks = e.filter(col("event_type") === "click")
        asOfJoin(
          purchases, clicks,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("event_id" -> "click_id", "ts" -> "click_ts")
        ).orderBy("event_id")
      },
      Some(
        // the click leg pre-collapses to max(event_id) per (user, ts):
        // DuckDB's ASOF picks an ARBITRARY row among boundary-ts ties —
        // the engine pins the greatest payload tuple (= max event_id
        // here), and the GROUP BY makes the oracle's winner identical
        // while leaving untied data untouched (round-16 fuzz × sf0.1)
        """SELECT p.event_id, p.ts, p.user_id,
          |       c.event_id AS click_id, c.ts AS click_ts
          |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL) p
          |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id FROM events
          |                WHERE event_type = 'click' AND ts IS NOT NULL
          |                GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts >= c.ts
          |UNION ALL
          |SELECT event_id, ts, user_id, NULL, NULL FROM events
          |WHERE event_type = 'purchase' AND ts IS NULL
          |ORDER BY event_id""".stripMargin
        // the explicit NULL-time split pins the engine's contract — a
        // time-less row joins NOTHING (pandas merge_asof refuses NaT
        // keys outright) — where DuckDB's ASOF sort quietly matches
        // NULL to NULL, a comparison no SQL predicate would pass
      )
    ),
    // Forward as-of join — each purchase matched to the user's NEXT
    // click at-or-after it (pandas merge_asof direction='forward').
    // Same single-shuffle window rewrite with the timestamp ordering
    // inverted.
    Q(
      "join_asof_fwd",
      (s, d) => {
        val e = events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id")
        val clicks = e.filter(col("event_type") === "click")
        asOfJoin(
          purchases, clicks,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("event_id" -> "click_id", "ts" -> "click_ts"),
          forward = true
        ).orderBy("event_id")
      },
      Some(
        // boundary-tie pin: same max-per-(user, ts) collapse as
        // join_asof — see that oracle's comment
        """SELECT p.event_id, p.ts, p.user_id,
          |       c.event_id AS click_id, c.ts AS click_ts
          |FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL) p
          |ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id FROM events
          |                WHERE event_type = 'click' AND ts IS NOT NULL
          |                GROUP BY user_id, ts) c
          |  ON p.user_id = c.user_id AND p.ts <= c.ts
          |UNION ALL
          |SELECT event_id, ts, user_id, NULL, NULL FROM events
          |WHERE event_type = 'purchase' AND ts IS NULL
          |ORDER BY event_id""".stripMargin
      )
    ),
    // As-of join, direction='nearest' — completes the pandas merge_asof
    // direction set (backward = join_asof, forward = join_asof_fwd,
    // tolerance = join_asof_tol): each purchase takes whichever
    // neighboring click minimizes |Δt|, ties preferring the backward
    // match (pandas' rule). Composed from the two existing single-pass
    // as-of kernels plus an equi-join on the UNIQUE left key — three
    // bounded shuffles, no range scan. The oracle composes DuckDB's two
    // ASOF joins with the same choose rule — independent mechanics.
    Q(
      "join_asof_near",
      (s, d) => {
        val e = events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id")
        val clicks = e.filter(col("event_type") === "click")
        val back = asOfJoin(
          purchases, clicks, "user_id", "ts", "ts",
          Seq("event_id" -> "b_id", "ts" -> "b_ts"))
        val fwd = asOfJoin(
          purchases, clicks, "user_id", "ts", "ts",
          Seq("event_id" -> "f_id", "ts" -> "f_ts"), forward = true)
        val takeBack = col("b_ts").isNotNull && (col("f_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("b_ts"))) <=
            (unix_micros(col("f_ts")) - unix_micros(col("ts"))))
        back
          .join(fwd.select("event_id", "f_id", "f_ts"), "event_id")
          .select(
            col("event_id"), col("ts"), col("user_id"),
            when(takeBack, col("b_id")).otherwise(col("f_id")).as("click_id"),
            when(takeBack, col("b_ts")).otherwise(col("f_ts")).as("click_ts")
          )
          .orderBy("event_id")
      },
      Some(
        // boundary-tie pin in BOTH directions: max-per-(user, ts)
        // collapse, see join_asof's oracle comment
        """WITH p AS (SELECT event_id, ts, user_id FROM events
          |           WHERE event_type = 'purchase' AND ts IS NOT NULL),
          |c AS (SELECT user_id, ts, max(event_id) AS event_id FROM events
          |      WHERE event_type = 'click' AND ts IS NOT NULL
          |      GROUP BY user_id, ts),
          |b AS (SELECT p.event_id, c.event_id AS b_id, c.ts AS b_ts
          |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
          |f AS (SELECT p.event_id, c.event_id AS f_id, c.ts AS f_ts
          |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
          |SELECT p.event_id, p.ts, p.user_id,
          |  CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
          |            OR epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts))
          |       THEN b.b_id ELSE f.f_id END AS click_id,
          |  CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
          |            OR epoch_us(p.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(p.ts))
          |       THEN b.b_ts ELSE f.f_ts END AS click_ts
          |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
          |UNION ALL
          |SELECT event_id, ts, user_id, NULL, NULL FROM events
          |WHERE event_type = 'purchase' AND ts IS NULL
          |ORDER BY event_id""".stripMargin
      )
    ),
    // Interval/theta join: click→purchase attribution within 30 minutes.
    // Equi-join on the key with the range as a residual predicate — at
    // scale the join shuffles only on user_id, never a cross product.
    Q(
      "join_range",
      (s, d) => {
        val e = events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        clicks
          .join(
            purchases,
            col("user_id") === col("p_user") &&
              col("p_ts") > col("c_ts") &&
              col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
          )
          .select("click_id", "purchase_id", "user_id")
          .orderBy("click_id", "purchase_id")
      },
      Some(
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id AND p.ts > c.ts
          | AND p.ts <= c.ts + INTERVAL 30 MINUTE
          |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          |ORDER BY click_id, purchase_id""".stripMargin
      )
    ),
    // Resample ticks → daily OHLCV bars per event_type — the reference's
    // raison d'être (README.md:20-37) on Spark: two deterministic ranking
    // windows pick open/close, plain aggregates do high/low/volume.
    Q(
      "resample_ohlcv",
      (s, d) => {
        val e = events(s, d).withColumn("day", date_trunc("day", col("ts")))
        val wAsc = Window.partitionBy("day", "event_type").orderBy(col("ts"), col("event_id"))
        val wDesc = Window.partitionBy("day", "event_type").orderBy(col("ts").desc, col("event_id").desc)
        e.withColumn("rn_a", row_number().over(wAsc))
          .withColumn("rn_d", row_number().over(wDesc))
          .groupBy("day", "event_type")
          // + 0.0 on every double output: PINNED ±0.0 normalization.
          // Spark's round() collapses -0.0 to +0.0 but the min_by/
          // max_by-style passthroughs (open/close) preserve it, while
          // DuckDB preserves it everywhere — a bar whose trades are all
          // -0.0 rendered sign-mixed across engines (VerifyFuzz). IEEE
          // x + 0.0 is the identity for every other value incl. NaN
          // and NULL, so the pin is free on clean data; the oracle SQL
          // carries the same + 0.0.
          .agg(
            (max(when(col("rn_a") === 1, col("value"))) + lit(0.0)).as("open"),
            (round(max("value"), 6) + lit(0.0)).as("high"),
            (round(min("value"), 6) + lit(0.0)).as("low"),
            (max(when(col("rn_d") === 1, col("value"))) + lit(0.0)).as("close"),
            (round(sum("value"), 4) + lit(0.0)).as("volume"),
            count(lit(1)).as("n")
          )
          .orderBy("day", "event_type")
      },
      Some(
        // the day key rides through an explicit CASE: DuckDB 1.0.0
        // misfolds `date_trunc(ts) IS NULL` over parquet scans (null
        // count lost in statistics propagation), which silently
        // corrupts the windowed open/close of the NULL-day group —
        // `ts IS NULL` on the raw column evaluates correctly
        """WITH e2 AS (
          |  SELECT CASE WHEN ts IS NULL THEN NULL
          |              ELSE date_trunc('day', ts) END AS day,
          |         event_type, value, ts, event_id FROM events),
          |b AS (
          |  SELECT day, event_type, value,
          |    row_number() OVER (PARTITION BY day, event_type
          |                       ORDER BY ts NULLS FIRST, event_id) AS rn_a,
          |    row_number() OVER (PARTITION BY day, event_type
          |                       ORDER BY ts DESC, event_id DESC) AS rn_d
          |  FROM e2)
          |SELECT day, event_type,
          |       max(CASE WHEN rn_a = 1 THEN value END) + 0.0 AS open,
          |       round(max(value), 6) + 0.0 AS high,
          |       round(min(value), 6) + 0.0 AS low,
          |       max(CASE WHEN rn_d = 1 THEN value END) + 0.0 AS close,
          |       round(sum(value), 4) + 0.0 AS volume,
          |       count(*) AS n
          |FROM b GROUP BY day, event_type ORDER BY day, event_type""".stripMargin
      )
    ),
    // Same resample semantics through a one-pass typed Aggregator
    // (graft.functions.OhlcAggregator): open/close tracked by ordering
    // key inside the aggregation buffer → ONE shuffle with map-side
    // partial aggregation, instead of two ranking windows + a hash agg.
    // The scalable form for high-cardinality (day, key) resampling;
    // shares the window variant's oracle since the results are equal.
    Q(
      "resample_ohlcv_agg",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val ds = events(s, d)
          .select(
            date_trunc("day", col("ts")).as("day"),
            col("event_type"),
            // NULL event times all land in the NULL-day group, where
            // the sentinel makes ordering fall to event_id — the same
            // comparison SQL makes over a constant-NULL ts partition.
            // MICROS, not ×1000 nanos: TimestampType's native precision
            // is micros, so the multiply added no ordering information
            // while overflowing LONG (ANSI ARITHMETIC_OVERFLOW) for any
            // timestamp past 2262 — the window variant handles the same
            // row fine
            coalesce(expr("unix_micros(ts)"), lit(Tick.NullTs)).as("tsMicros"),
            col("event_id"),
            col("value")
          )
          .as[(java.sql.Timestamp, String, Long, Long, Option[Double])]
        ds.groupByKey(t => (t._1, t._2))
          .mapValues(t => Tick(t._3, t._4, t._5))
          .agg(OhlcAggregator.toColumn.name("ohlc"))
          .toDF("key", "ohlc")
          .select(
            col("key._1").as("day"), col("key._2").as("event_type"),
            // + 0.0 = the pinned ±0.0 normalization (see resample_ohlcv)
            (col("ohlc.open") + lit(0.0)).as("open"),
            (round(col("ohlc.high"), 6) + lit(0.0)).as("high"),
            (round(col("ohlc.low"), 6) + lit(0.0)).as("low"),
            (col("ohlc.close") + lit(0.0)).as("close"),
            (round(col("ohlc.volume"), 4) + lit(0.0)).as("volume"),
            col("ohlc.n").as("n")
          )
          .orderBy("day", "event_type")
      },
      Some(
        // the day key rides through an explicit CASE: DuckDB 1.0.0
        // misfolds `date_trunc(ts) IS NULL` over parquet scans (null
        // count lost in statistics propagation), which silently
        // corrupts the windowed open/close of the NULL-day group —
        // `ts IS NULL` on the raw column evaluates correctly
        """WITH e2 AS (
          |  SELECT CASE WHEN ts IS NULL THEN NULL
          |              ELSE date_trunc('day', ts) END AS day,
          |         event_type, value, ts, event_id FROM events),
          |b AS (
          |  SELECT day, event_type, value,
          |    row_number() OVER (PARTITION BY day, event_type
          |                       ORDER BY ts NULLS FIRST, event_id) AS rn_a,
          |    row_number() OVER (PARTITION BY day, event_type
          |                       ORDER BY ts DESC, event_id DESC) AS rn_d
          |  FROM e2)
          |SELECT day, event_type,
          |       max(CASE WHEN rn_a = 1 THEN value END) + 0.0 AS open,
          |       round(max(value), 6) + 0.0 AS high,
          |       round(min(value), 6) + 0.0 AS low,
          |       max(CASE WHEN rn_d = 1 THEN value END) + 0.0 AS close,
          |       round(sum(value), 4) + 0.0 AS volume,
          |       count(*) AS n
          |FROM b GROUP BY day, event_type ORDER BY day, event_type""".stripMargin
      )
    ),
    // Per-key first difference + relative return — the pandas
    // diff()/pct_change() pair (reference domain: tick series). One lag
    // window = one hash shuffle on the key. Exactness: values are
    // 2dp-gridded, so both engines difference in integer cents
    // (diff = Δcents/100.0 is one IEEE op), and the return is the exact
    // BIGINT rational round-half-up((c/p)·1e6) via integral division —
    // no float round-half boundary (values are strictly positive, so
    // the scaled numerator stays non-negative).
    Q(
      "ts_diff",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("c", Grid.gridLong(col("value"), 100))
          .withColumn("p", lag(col("c"), 1).over(w))
          .select(
            col("event_id"), col("user_id"), col("ts"), col("value"),
            ((col("c") - col("p")).cast("double") / 100.0).as("diff"),
            // CASE guard (lazily evaluated) — a 0.00 previous value
            // would make the ANSI integral division throw
            when(
              col("p") =!= 0L,
              (intDiv(col("c") * lit(2000000L) + col("p"), col("p") * lit(2L)) -
                lit(1000000L)).cast("double") / 1000000.0
            ).as("ret")
          )
          .orderBy("event_id")
      },
      Some(
        s"""WITH t AS (SELECT event_id, user_id, ts, value,
          |  ${Grid.gridSql("value", "100")} AS c,
          |  lag(${Grid.gridSql("value", "100")}) OVER
          |    (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS p
          |  FROM events)
          |SELECT event_id, user_id, ts, value,
          |  (c - p) / 100.0 AS diff,
          |  CASE WHEN p <> 0 THEN
          |    ((c*2000000 + p) // (2*p) - 1000000) / 1000000.0
          |  END AS ret
          |FROM t ORDER BY event_id""".stripMargin
      )
    ),
    // Trailing-window anomaly score: z-score of each event against the
    // trailing hour of its key. Exactness trick: the rolling moments
    // are EXACT integer sums over 2dp cents (S=Σc, Q=Σc², n), and both
    // engines then evaluate the identical double expression
    // (c−S/n)/sqrt((Q−S²/n)/(n−1)) from those integers — same IEEE ops
    // in the same order, bit-identical result, so no float round-half
    // hazard. One RANGE-frame window = one hash shuffle on the key.
    // Variance is gated on the exact integer max>min over the window
    // (equivalent to variance > 0), never a float ≈0 test — and never
    // an n·Q−S² LONG product that could overflow under ANSI on a
    // dense window.
    Q(
      "ts_zscore",
      (s, d) => {
        val w = Window
          .partitionBy("user_id")
          .orderBy(col("tss"))
          .rangeBetween(-3600000000L, 0L)
        val e = events(s, d)
          .withColumn("tss", unix_micros(col("ts")))
          .withColumn("c", Grid.gridLong(col("value"), 100))
          .withColumn("sn", sum(col("c")).over(w))
          .withColumn("qn", sum(col("c") * col("c")).over(w))
          .withColumn("n", count(lit(1)).over(w))
          // variance>0 gate as max>min: exact, and never overflows —
          // n·Q−S² in LONG would throw under ANSI on a dense window
          // while the oracle's HUGEINT succeeds
          .withColumn("cmx", max(col("c")).over(w))
          .withColumn("cmn", min(col("c")).over(w))
        val cD = col("c").cast("double")
        val sD = col("sn").cast("double")
        val qD = col("qn").cast("double")
        val nD = col("n").cast("double")
        // cmx > cmn proves the EXACT variance is nonzero, but the DOUBLE
        // moment qD − sD²/nD can still round to 0 (or below) once qn
        // passes 2^53 — e.g. two cents values 1e8 and 1e8+1 — and the
        // division would then raise DIVIDE_BY_ZERO under ANSI (or emit
        // ±Inf without it). A variance the doubles cannot resolve gets
        // a NULL z on both engines (when() branches evaluate lazily, so
        // the guarded division never executes on degenerate rows).
        val varNum = qD - sD * sD / nD
        e.select(
          col("event_id"), col("user_id"), col("ts"), col("value"),
          col("n").as("n_window"),
          when(
            col("n") >= 2 && col("cmx") > col("cmn") && varNum > 0.0,
            round((cD - sD / nD) / sqrt(varNum / (nD - 1.0)), 6)
          ).as("z")
        ).orderBy("event_id")
      },
      Some(
        s"""WITH t AS (SELECT event_id, user_id, ts, value,
          |    ${Grid.gridSql("value", "100")} AS c FROM events),
          |m AS (SELECT event_id, user_id, ts, value, c,
          |    sum(c)   OVER w AS sn,
          |    sum(c*c) OVER w AS qn,
          |    count(*) OVER w AS n,
          |    max(c)   OVER w AS cmx,
          |    min(c)   OVER w AS cmn
          |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
          |SELECT event_id, user_id, ts, value,
          |  CAST(n AS BIGINT) AS n_window,
          |  CASE WHEN n >= 2 AND cmx > cmn
          |       AND (CAST(qn AS DOUBLE) - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(n AS DOUBLE)) > 0 THEN
          |    round((CAST(c AS DOUBLE) - CAST(sn AS DOUBLE)/CAST(n AS DOUBLE))
          |      / sqrt((CAST(qn AS DOUBLE) - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(n AS DOUBLE))
          |             / (CAST(n AS DOUBLE) - 1.0)), 6)
          |  END AS z
          |FROM m ORDER BY event_id""".stripMargin
      )
    ),
    // As-of join with a staleness bound: same purchases←clicks as-of
    // match, but a click older than 30 minutes is no longer a valid
    // match (the standard market-data "max staleness" contract). Same
    // single-shuffle window rewrite — the matched right timestamp rides
    // along in the window pass and the bound is a residual null-out.
    Q(
      "join_asof_tol",
      (s, d) => {
        val e = events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id")
        val clicks = e.filter(col("event_type") === "click")
        asOfJoin(
          purchases, clicks,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("event_id" -> "click_id", "ts" -> "click_ts"),
          tolerance = Some("30 minutes")
        ).orderBy("event_id")
      },
      Some(
        // boundary-tie pin: same max-per-(user, ts) collapse as
        // join_asof — see that oracle's comment
        """WITH j AS (
          |  SELECT p.event_id, p.ts, p.user_id,
          |         c.event_id AS cid, c.ts AS cts
          |  FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL) p
          |  ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id FROM events
          |                  WHERE event_type = 'click' AND ts IS NOT NULL
          |                  GROUP BY user_id, ts) c
          |    ON p.user_id = c.user_id AND p.ts >= c.ts)
          |SELECT event_id, ts, user_id,
          |  CASE WHEN cts >= ts - INTERVAL 30 MINUTE THEN cid END AS click_id,
          |  CASE WHEN cts >= ts - INTERVAL 30 MINUTE THEN cts END AS click_ts
          |FROM j
          |UNION ALL
          |SELECT event_id, ts, user_id, NULL, NULL FROM events
          |WHERE event_type = 'purchase' AND ts IS NULL
          |ORDER BY event_id""".stripMargin
      )
    )
  )
}
