package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry: times the headline query set against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Timing rules: one untimed warm-up query absorbs JVM/codegen start-up;
  * each query is fully materialized through a `noop` sink (a bare
  * `.count()` lets Catalyst prune the very work being measured).
  */
object Bench {

  /** Stable headline set — representative of every engine area (scan,
    * filter, agg, join incl. as-of/range, window, sort, dedup exact +
    * LSH + exact-ngram + embedding, similarity, text, JSON, streaming).
    * Names must stay in SparkEntry.queries; BASELINE.md records the
    * reference numbers for exactly this set.
    */
  val headline: Seq[String] = Seq(
    "scan_range", "filter_pred", "append_dedup", "distinct_rows",
    "agg_hash", "agg_distinct", "agg_rollup", "agg_stats", "agg_collect",
    "agg_pivot", "agg_unpivot", "fn_explode",
    "join_inner", "join_broadcast", "join_semi", "join_asof", "join_range", "join_outer",
    "win_rank", "win_analytic", "win_cume", "win_dist", "topk_pergroup", "sort_limit",
    "fn_cond", "dedup_exact",
    "resample_ohlcv", "resample_ohlcv_agg", "fn_math", "fn_json", "fn_array",
    "text_stats", "text_tokens", "text_quality", "text_fingerprint",
    "dedup_minhash", "dedup_ngram", "dedup_simhash", "dedup_embedding",
    "sim_cosine_topk", "sim_ann_ivf", "stream_tumbling"
  )

  /** Round-5/6 operators promoted into the per-round regression gate.
    * Reported in a separate `"extended"` JSON section: BASELINE.md
    * predates these ops, so they gate round-over-round (BENCH_rN vs
    * BENCH_rN-1), never against the baseline total — which is why they
    * must NOT fold into `headline`/`"queries"`/`"value"`.
    */
  val extended: Seq[String] = Seq(
    "dedup_containment", "dedup_incremental", "sim_knn_batch", "sim_ann_batch",
    "text_chunk", "text_quality_lm", "resample_ffill", "resample_interp",
    "ts_zscore", "ts_diff", "ts_ewma", "ts_rolling_corr",
    "win_rolling_time", "sessionize",
    "bpe_pair_counts", "corpus_sources", "dedup_semantic", "corpus_mix", "text_classifier", "text_winnow", "agg_corr", "funnel_steps", "multimodal_framesample", "dedup_substring", "fn_map", "ts_outlier_mad", "embed_kmeans", "join_asof_near", "text_bpe_encode",
    "text_normalize", "sample_quality_weighted", "embed_stats",
    "ts_concurrency", "embed_pca", "embed_pq_encode", "sim_ann_ivfpq",
    "corpus_mix_temperature"
  )

  /** Fixed per-query anchors for the `extended` set at sf0.1 (r14
    * verdict task #1): before this table the extended entries gated
    * round-over-round only, so a 1.2×/round creep was invisible across
    * rounds. Anchors are the round-15 certified-calm min-of-3 run
    * (calm=true, spread_flagged=[], resampled={}; recorded in
    * BASELINE.md "Round-15 extended anchors") — the same discipline as
    * the headline BASELINE numbers. Any extended entry whose min
    * exceeds 2× its anchor is flagged in the artifact
    * (`extended_anchor_flagged`) exactly as the headline set is judged
    * against BASELINE.md. Applies only when benching sf0.1 (the
    * anchors' scale); other SF dirs skip the gate.
    */
  val extendedAnchorSf01: Map[String, Double] = Map(
    "dedup_containment" -> 1.454, "dedup_incremental" -> 1.539,
    "sim_knn_batch" -> 0.521, "sim_ann_batch" -> 0.673,
    "text_chunk" -> 0.373, "text_quality_lm" -> 0.780,
    "resample_ffill" -> 0.560, "resample_interp" -> 0.823,
    "ts_zscore" -> 0.743, "ts_diff" -> 0.495, "ts_ewma" -> 0.644,
    "ts_rolling_corr" -> 0.694, "win_rolling_time" -> 0.586,
    "sessionize" -> 0.559, "bpe_pair_counts" -> 0.316,
    "corpus_sources" -> 0.400, "dedup_semantic" -> 0.733,
    "corpus_mix" -> 0.345, "text_classifier" -> 0.714,
    "text_winnow" -> 1.797, "agg_corr" -> 0.350,
    "funnel_steps" -> 0.588, "multimodal_framesample" -> 0.304,
    "dedup_substring" -> 1.596, "fn_map" -> 0.328,
    "ts_outlier_mad" -> 1.443, "embed_kmeans" -> 1.212,
    "join_asof_near" -> 0.632, "text_bpe_encode" -> 1.498,
    "text_normalize" -> 0.564, "sample_quality_weighted" -> 0.987,
    "embed_stats" -> 0.314, "ts_concurrency" -> 1.199,
    "embed_pca" -> 1.998, "embed_pq_encode" -> 0.791,
    "sim_ann_ivfpq" -> 1.254, "corpus_mix_temperature" -> 0.365,
    "footer_count_range" -> 0.041, "topn_index" -> 0.055)

  /** BASELINE.md's round-1 per-query table, in code so the artifact can
    * self-adjudicate elevated HEADLINE entries (r16 verdict task #2):
    * any headline min >= 1.5x its baseline gets the same AQE-final
    * plan-skeleton evidence as a warm-spread flag, instead of costing a
    * manual adjudication round-trip. sf0.1 only (the baseline's scale).
    */
  val headlineBaselineSf01: Map[String, Double] = Map(
    "agg_collect" -> 0.46, "agg_distinct" -> 0.77, "agg_hash" -> 0.47,
    "agg_pivot" -> 0.45, "agg_rollup" -> 0.61, "agg_stats" -> 2.11,
    "agg_unpivot" -> 1.48, "append_dedup" -> 0.74, "dedup_embedding" -> 0.77,
    "dedup_exact" -> 0.26, "dedup_minhash" -> 2.46, "dedup_ngram" -> 1.98,
    "dedup_simhash" -> 0.78, "distinct_rows" -> 0.35, "filter_pred" -> 0.58,
    "fn_array" -> 0.25, "fn_cond" -> 0.83, "fn_explode" -> 0.48,
    "fn_json" -> 0.84, "fn_math" -> 2.63, "join_asof" -> 0.48,
    "join_broadcast" -> 0.73, "join_inner" -> 0.57, "join_outer" -> 0.44,
    "join_range" -> 0.41, "join_semi" -> 0.32, "resample_ohlcv" -> 0.52,
    "resample_ohlcv_agg" -> 0.46, "scan_range" -> 0.54, "sim_ann_ivf" -> 0.41,
    "sim_cosine_topk" -> 0.18, "sort_limit" -> 0.26, "store_ingest" -> 1.29,
    "store_slice" -> 0.33, "stream_tumbling" -> 1.40, "text_fingerprint" -> 0.62,
    "text_quality" -> 0.59, "text_stats" -> 0.30, "text_tokens" -> 0.42,
    "topk_pergroup" -> 0.59, "win_analytic" -> 0.56, "win_cume" -> 0.51,
    "win_dist" -> 0.81, "win_rank" -> 0.61)

  /** Absolute reference probe (r16 verdict task #3). The guest `calm`
    * bit judges LOADAVG, which cannot see host-level degradation: the
    * round-16 window ran 25–30% slower for BOTH code states while
    * hypervisor steal read ~2%, and two rounds of perf signal needed
    * after-the-fact A/Bs to attribute. This probe is a fixed-cost
    * workload — identical instructions and identical data every round —
    * so its wall time is a pure measurement of the window: outside the
    * banked envelope (BASELINE.md "Probe envelope") means the window is
    * degraded no matter what loadavg says, and the artifact carries a
    * probe-scaled view of the anchor ratios alongside the raw one.
    *
    * Two components, taken min-of-3 at bench start AND end:
    *  - cpu: 150M SplitMix64 mixes, single thread — pure ALU/JIT speed.
    *  - scan: one Spark aggregate over the canonical sf0.1 lineitem
    *    file (10.8 MB, fixed since round 1) — parquet decode + codegen
    *    + page-cache/memory bandwidth, the bench's actual substrate.
    * DO NOT change either workload or the envelope loses meaning.
    */
  def probeCpuMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 150000000) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (acc == 42L) System.err.println("[bench] probe sentinel") // defeat DCE
    ms
  }

  val probeScanFile = "/root/testdata/sf0.1/lineitem.parquet"

  def probeScanMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.read.parquet(probeScanFile)
      .selectExpr("sum(l_extendedprice * (1.0 - l_discount))",
        "sum(l_quantity)", "count(*)")
      .collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** Banked nominal floors (ms) + degradation thresholds; measured and
    * recorded in BASELINE.md "Probe envelope" (round 17, calm window).
    * Degraded = either component's min exceeds its threshold multiple.
    */
  val probeCpuNominalMs = 155.0
  val probeScanNominalMs = 285.0
  val probeCpuDegradedAt = 1.25
  val probeScanDegradedAt = 1.45

  /** min-of-3 probe pair; scan first sample untimed once per JVM via
    * the caller's warm-up. Returns (cpuMs, scanMs); scan = -1 when the
    * canonical file is absent (non-standard box — no envelope verdict).
    */
  def probePair(spark: SparkSession): (Double, Double) = {
    val cpu = (1 to 3).map(_ => probeCpuMs()).min
    val scan =
      if (!new java.io.File(probeScanFile).isFile) -1.0
      else (1 to 3).map { _ => spark.catalog.clearCache(); probeScanMs(spark) }.min
    (cpu, scan)
  }

  /** 1/5/15-minute load averages, (-1,-1,-1) if unreadable. Stamped
    * into the artifact so a load-contaminated run is machine-visible
    * (r12 and r13 both shipped official BENCH artifacts skewed by
    * ambient load that only prose in BASELINE.md corrected).
    */
  def loadavg(): (Double, Double, Double) =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0) }

  /** Warm spread of a sample list: max/min over the post-warm-up
    * samples (drop sample 1 — it pays one-time janino codegen), and
    * when re-sampling has extended the list, over the most recent
    * window only (the retries exist to measure PAST the ambient
    * spike; folding the contaminated early samples back in would make
    * the retry pointless). Window = last max(2, n-1) of the warm tail.
    */
  def warmSpread(ss: Seq[Double], baseSamples: Int): Double = {
    if (ss.size < 2) return 1.0
    val warm = if (ss.size >= 3) ss.drop(1) else ss
    val win = warm.takeRight(math.max(2, baseSamples - 1))
    win.max / win.min
  }

  def main(args: Array[String]): Unit = {
    // settle loop: ambient load from an immediately-preceding job (the
    // driver runs verify right before bench; sbt's own JIT counts too)
    // decays with the 1-minute loadavg constant — waiting it out
    // PREVENTS contamination instead of only flagging it. Genuinely
    // external load does not decay: the loop gives up after 90 s and
    // the calm bit reports the truth.
    val loadRaw = loadavg()
    var loadStart = loadRaw
    var settleMs = 0L
    val settleBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_MS", "90000").toLong
    while (loadStart._1 >= 1.0 && settleMs < settleBudget) {
      Thread.sleep(5000); settleMs += 5000; loadStart = loadavg()
    }
    if (settleMs > 0)
      System.err.println(
        f"[bench] settled ${settleMs / 1000}%d s: load ${loadRaw._1}%.2f -> ${loadStart._1}%.2f")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet ts vintage handling (nanos or micros) — graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // untimed warm-up: JVM + codegen + parquet footer caches
    try materialize("agg_hash") catch { case _: Throwable => () }

    // absolute window probe, start-of-run reading (one untimed scan
    // first: the probe query's own codegen is JVM state, not window
    // state). Taken BEFORE any timed query so a mid-run degradation
    // shows as start/end disagreement.
    try { if (new java.io.File(probeScanFile).isFile) probeScanMs(spark) }
    catch { case _: Throwable => () }
    val (probeCpuStart, probeScanStart) =
      try probePair(spark) catch { case _: Throwable => (-1.0, -1.0) }
    System.err.println(
      f"[bench] probe start: cpu=$probeCpuStart%.0fms scan=$probeScanStart%.0fms " +
        f"(nominal $probeCpuNominalMs%.0f/$probeScanNominalMs%.0f)")
    // SPARK_GRAFT_BENCH_REQUIRE_CALM: refuse to spend a ~10-min run on
    // a window the start probe already reads as degraded — exit 3
    // immediately so an unattended retry loop can wait for calm instead
    // of producing an artifact that only exists to be discarded. The
    // driver never sets this; official runs always measure and stamp.
    if (sys.env.contains("SPARK_GRAFT_BENCH_REQUIRE_CALM") &&
        (probeCpuStart > probeCpuNominalMs * probeCpuDegradedAt ||
          (probeScanStart > 0 &&
            probeScanStart > probeScanNominalMs * probeScanDegradedAt))) {
      System.err.println("[bench] REQUIRE_CALM: start probe degraded, refusing the window")
      spark.stop()
      sys.exit(3)
    }

    // best-of-3 per query: one timing sample on a shared box is noisy
    // (background load, first-touch codegen); min-of-3 records the
    // steady-state cost. Caches cleared + a short settle (GC and CPU
    // quiesce) between samples so each timing is self-contained, and the
    // per-query sample spread is printed so a contaminated run is
    // self-diagnosing (spread = max/min; >2 means ambient load skewed
    // the samples and the min is the trustworthy number).
    val nSamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    require(nSamples >= 1, s"SPARK_GRAFT_BENCH_SAMPLES must be >= 1, got $nSamples")
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset — ANY
    // registered query, not just the headline set (the driver never
    // sets it, so the recorded headline set is unchanged). Unknown names
    // fail fast (a typo must not yield a silently partial run) and the
    // requested order is preserved.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty) // a blank var means unset, not "run nothing"
    only.foreach { sel =>
      val unknown = sel.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }

    // A sample that THREW must never publish: its near-zero elapsed
    // time would win the min and report an impossible speedup. Failed
    // samples are dropped; a query with NO successful sample records
    // the 999 s penalty sentinel (loud in any baseline ratio) instead
    // of a silent fake.
    val FailedQuery = 999.0
    // spread-triggered re-sampling: when a query's warm spread exceeds
    // 2x (ambient load hit one of its samples), take up to maxResamples
    // extra samples after a LONGER settle so the spike can pass, and
    // judge calmness on the most recent window (see warmSpread). The
    // min over ALL successful samples stays the reported time — load
    // only ever inflates a sample, never deflates it.
    val maxResamples = sys.env.getOrElse("SPARK_GRAFT_BENCH_RESAMPLES", "2").toInt
    val resampled = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def oneSample(name: String, settleMs: Long): Option[Double] = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(settleMs) // settle: let GC/compilation/background IO drain
      val t0 = System.nanoTime()
      val ok =
        try { materialize(name); true }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    def timeSet(names: Seq[String]): Seq[(String, Seq[Double])] = names.map { name =>
      var samples: Seq[Double] = (1 to nSamples).flatMap(_ => oneSample(name, 200))
      var retries = 0
      while (samples.nonEmpty && warmSpread(samples, nSamples) > 2.0 && retries < maxResamples) {
        retries += 1
        System.err.println(
          f"[bench] $name%-22s warm spread ${warmSpread(samples, nSamples)}%.2fx > 2 — re-sampling ($retries/$maxResamples)")
        samples = samples ++ oneSample(name, 1000)
      }
      if (retries > 0) resampled(name) = retries
      if (samples.isEmpty) {
        System.err.println(f"[bench] $name%-22s ALL SAMPLES FAILED — recording $FailedQuery%.0f")
        name -> Seq(FailedQuery)
      } else {
        System.err.println(
          f"[bench] $name%-22s min=${samples.min}%.3fs max=${samples.max}%.3fs " +
            f"spread=${samples.max / samples.min}%.2fx warm=${warmSpread(samples, nSamples)}%.2fx samples=" +
            samples.map(v => f"$v%.3f").mkString("[", ",", "]"))
        name -> samples
      }
    }

    val allSamples = timeSet(only.getOrElse(headline.filter(SparkEntry.queries.contains)))
    // the extended set rides the same run but lands in its own JSON
    // section; a BENCH_ONLY subset run skips it like it skips the store
    val extSamples =
      if (only.isDefined) Seq.empty else timeSet(extended.filter(SparkEntry.queries.contains))
    val results = allSamples.map { case (n, ss) => n -> ss.min }
    val extResults = extSamples.map { case (n, ss) => n -> ss.min }
    val contaminated = (allSamples ++ extSamples).filter { case (_, ss) => ss.max / ss.min > 2.0 }
    if (contaminated.nonEmpty)
      System.err.println(
        s"[bench] WARNING: high sample spread (ambient load?) on: " +
          contaminated.map(_._1).mkString(", "))
    // storage-layer timings: the reference's core value prop is keyed
    // ingest + pushdown range slicing (README.md:7,44) — track both.
    // min-of-N like the query set (ingest into a FRESH store per
    // sample — writes are create-once): a single-shot timing taken
    // after the full query gauntlet inherits its GC/page-cache state
    // and has measured 2x swings on an otherwise idle box.
    val (storeResults, scanPathResults) = if (only.isDefined)
      (Seq.empty[(String, Double)], Seq.empty[(String, Double)])
    else {
      import graft.sources.Store
      val events = graft.Tables.events(spark, sfDir)
      val samples = (1 to math.max(2, nSamples)).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val tmpDir = java.nio.file.Files.createTempDirectory("graft-bench-store")
        try {
          val store = Store.open(spark, tmpDir.toString,
            cols = Some(Seq(
              "EVENT_ID" -> org.apache.spark.sql.types.LongType,
              "USER_ID" -> org.apache.spark.sql.types.LongType,
              "EVENT_TYPE" -> org.apache.spark.sql.types.StringType,
              "VALUE" -> org.apache.spark.sql.types.DoubleType)),
            index = Some("TS"), bucket = Some("day"))
          // a sample whose op THREW reports no time (see timeSet): a
          // failed write's near-zero elapsed must not win the min
          val t0 = System.nanoTime()
          val wOk = try { store.write("events", events); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] store_ingest sample failed: ${e.getMessage}"); false }
          val tw = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val qOk = wOk && (try {
            store.query("events",
              Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
              Some(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))).count()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] store_slice sample failed: ${e.getMessage}"); false })
          val tq = (System.nanoTime() - t1) / 1e9
          // round-12 scan paths, promoted into the per-round gate
          // (r12 verdict #6): a day-aligned ranged count must plan as a
          // footer-answered LocalRelation (FooterRangeAggregates) and a
          // newest-k as a bucket-suffix TopN read — both timings are
          // dominated by the planning-path metadata work they exist to
          // measure, so a regression in either path shows in BENCH_rN.
          // load() itself sits inside the guard: a broken store dir
          // (wOk=false) throwing here must degrade these two ops to
          // FailedQuery, not abort the whole bench run
          val table: Option[org.apache.spark.sql.DataFrame] =
            if (!wOk) None
            else try Some(spark.read.format("graft")
              .option("item", "events").load(tmpDir.toString))
            catch { case e: Throwable =>
              System.err.println(s"[bench] graft table load failed: ${e.getMessage}"); None }
          val t2 = System.nanoTime()
          val fOk = table.isDefined && (try {
            table.get.createOrReplaceTempView("bench_events")
            spark.sql(
              "SELECT count(*) AS c, min(TS) AS lo, max(TS) AS hi FROM bench_events " +
                "WHERE TS >= '2024-01-10' AND TS < '2024-01-20'").collect()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] footer_count_range sample failed: ${e.getMessage}"); false })
          val tf = (System.nanoTime() - t2) / 1e9
          val t3 = System.nanoTime()
          val nOk = table.isDefined && (try {
            table.get.orderBy(org.apache.spark.sql.functions.col("TS").desc)
              .limit(100).write.mode("overwrite").format("noop").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] topn_index sample failed: ${e.getMessage}"); false })
          val tn = (System.nanoTime() - t3) / 1e9
          (if (wOk) Some(tw) else None, if (qOk) Some(tq) else None,
            if (fOk) Some(tf) else None, if (nOk) Some(tn) else None)
        } finally {
          // each sample ingests a full copy of events — leaking
          // max(2,N) stores per run fills /tmp across bench iterations
          try {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(tmpDir).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case _: Throwable => () }
        }
      }
      val ingests = samples.flatMap(_._1)
      val slices = samples.flatMap(_._2)
      val footers = samples.flatMap(_._3)
      val topns = samples.flatMap(_._4)
      System.err.println(
        f"[bench] store_ingest min=${ingests.minOption.getOrElse(FailedQuery)}%.3fs " +
          f"samples=${ingests.map(s => f"$s%.3f").mkString("[", ",", "]")}; " +
          f"store_slice min=${slices.minOption.getOrElse(FailedQuery)}%.3fs " +
          f"samples=${slices.map(s => f"$s%.3f").mkString("[", ",", "]")}; " +
          f"footer_count_range min=${footers.minOption.getOrElse(FailedQuery)}%.3fs " +
          f"samples=${footers.map(s => f"$s%.3f").mkString("[", ",", "]")}; " +
          f"topn_index min=${topns.minOption.getOrElse(FailedQuery)}%.3fs " +
          f"samples=${topns.map(s => f"$s%.3f").mkString("[", ",", "]")}")
      // store_ingest/store_slice fold into the BASELINE-comparable
      // total (BASELINE.md records them); the round-12 scan paths are
      // post-baseline and land in the EXTENDED section below so the
      // baseline ratio stays undiluted (same rule as `extended`)
      (Seq("store_ingest" -> ingests.minOption.getOrElse(FailedQuery),
        "store_slice" -> slices.minOption.getOrElse(FailedQuery)),
        Seq("footer_count_range" -> footers.minOption.getOrElse(FailedQuery),
          "topn_index" -> topns.minOption.getOrElse(FailedQuery)))
    }

    val qs = (results ++ storeResults)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val spreads = (allSamples ++ extSamples)
      .map { case (k, ss) => "\"" + k + "\":" + f"${ss.max / ss.min}%.2f" }
      .mkString("{", ",", "}")
    // spread over the POST-WARMUP samples only (drop sample 1): the
    // first sample of nearly every query pays one-time janino codegen,
    // so the all-samples spread sits >1.5 on ~70% of queries even on an
    // idle box and cannot distinguish a calm window from a contaminated
    // one. Warm spread is the ambient-noise indicator: two steady-state
    // runs of the same plan differ only by what the box is doing.
    // After spread-triggered re-sampling it is the RECENT window (see
    // warmSpread) — the post-spike reading, which is the one that
    // adjudicates calmness.
    val warmSpreads = (allSamples ++ extSamples)
      .map { case (k, ss) => "\"" + k + "\":" + f"${warmSpread(ss, nSamples)}%.2f" }
      .mkString("{", ",", "}")
    val ext = (extResults ++ scanPathResults)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // extended-anchor gate (r14 verdict task #1): at the anchors' scale
    // every extended entry is judged against its fixed calm baseline,
    // same 2× bar as the headline set. Ratios ride the artifact so the
    // judge can tally drift without re-deriving it.
    // exact dir-name match, not substring: "sf0.1".contains would also
    // fire on sf0.15 / sf0.1-old and judge a different scale against
    // these anchors
    val anchorApplies =
      new java.io.File(sfDir.stripSuffix("/")).getName == "sf0.1"
    val anchorRatios: Seq[(String, Double)] =
      if (!anchorApplies) Seq.empty
      else (extResults ++ scanPathResults).flatMap { case (k, v) =>
        extendedAnchorSf01.get(k).map(a => k -> v / a)
      }
    val anchorFlagged = anchorRatios.filter(_._2 > 2.0).map(_._1)
    if (anchorApplies) {
      val worst = anchorRatios.sortBy(-_._2).take(3)
        .map { case (k, r) => f"$k=$r%.2fx" }.mkString(", ")
      System.err.println(
        s"[bench] extended-anchor gate: ${anchorRatios.size} anchored, " +
          s"${anchorFlagged.size} over 2x; worst: $worst")
      if (anchorFlagged.nonEmpty)
        System.err.println(
          s"[bench] WARNING: extended entries above 2x their sf0.1 anchor: " +
            anchorFlagged.mkString(", "))
    }
    val anchorJsonShort =
      if (!anchorApplies) ""
      else s""","extended_anchor_flagged_n":${anchorFlagged.size}"""
    val anchorJson =
      if (!anchorApplies) ""
      else {
        val ratios = anchorRatios
          .map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
          .mkString("{", ",", "}")
        val flagged = anchorFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","extended_anchor_ratio":$ratios,"extended_anchor_flagged":$flagged"""
      }
    // "value"/"queries" stay the BASELINE.md-comparable headline+store
    // set; the extended ops report separately so the baseline ratio is
    // never diluted by ops the baseline predates
    val total = f"${(results ++ storeResults).map(_._2).sum}%.3f"
    val extTotal = f"${(extResults ++ scanPathResults).map(_._2).sum}%.3f"
    // self-adjudication (r13 verdict task #1): the artifact itself says
    // whether its numbers were taken in a calm window. Criteria:
    //   (a) post-settle ambient load under 1.5 on the 1-minute average
    //       (the settle loop already waited out decaying self-load; what
    //       remains is genuinely external), and
    //   (b) after spread-triggered re-sampling, at most 5% of queries
    //       still show a warm spread > 2x (an idle box leaves a couple
    //       of sub-second constant-dominated queries jittery; a loaded
    //       box leaves dozens).
    // calm=false means: trust the mins with caution and prefer a rerun.
    val loadEnd = loadavg()
    val flagged = (allSamples ++ extSamples)
      .filter { case (_, ss) => warmSpread(ss, nSamples) > 2.0 }
      .map(_._1)
    // elevated-HEADLINE trigger (r16 verdict task #2): any headline
    // entry whose min reads >= 1.5x its BASELINE.md number is evidence-
    // worthy even when its samples were tight — a genuinely regressed
    // plan is perfectly stable, so the warm-spread trigger alone never
    // fires on it. sf0.1 only (the baseline's scale).
    val headlineElevated: Seq[String] =
      if (!anchorApplies) Seq.empty
      else results.flatMap { case (k, v) =>
        headlineBaselineSf01.get(k).filter(b => v >= 1.5 * b).map(_ => k)
      }
    if (headlineElevated.nonEmpty)
      System.err.println(
        s"[bench] headline entries >= 1.5x baseline (skeleton evidence attached): " +
          headlineElevated.mkString(", "))
    // flag adjudication (r15 verdict task #6): a flag that SURVIVES
    // re-sampling arrives pre-evidenced instead of costing a manual
    // re-run round-trip — two AQE-FINAL plan skeletons
    // are captured for it (toRdd drains AdaptiveSparkPlanExec to
    // isFinalPlan=true; a noop-sink write would print the pre-adaptive
    // plan, the mistake the containment adjudication corrected).
    // Since r17 the trigger set also includes every extended-ANCHOR
    // flag and every headline entry >= 1.5x baseline (r16 task #2) —
    // the r16 artifact shipped two anchor flags with plan_skeleton:{},
    // costing exactly the manual round-trip this exists to kill.
    // Identical skeleton hashes = the plan is stable and the spread is
    // JIT/ambient residue; differing hashes = a genuinely bimodal plan
    // (AQE flipped a strategy between samples) — that fails the calm
    // certification, because the reported min is then not a property
    // of ONE plan.
    // SPARK_GRAFT_BENCH_ADJUDICATE=q1,q2 forces skeleton evidence for
    // named queries even when unflagged (attribution runs; also the
    // smoke path for this machinery, since a calm box never flags)
    val forceAdjudicate = sys.env.get("SPARK_GRAFT_BENCH_ADJUDICATE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val skeletonEvidence: Seq[(String, Seq[String], String)] =
      (flagged ++ anchorFlagged ++ headlineElevated ++ forceAdjudicate)
        .distinct.filter(SparkEntry.queries.contains).map { name =>
      def one(): Option[(String, String)] =
        try {
          // sample the SAME population as the timed runs: every timed
          // sample starts cold (oneSample clears the cache), so the
          // skeleton evidence must too. Without this, a query whose
          // builder persists an intermediate (dedup_simhash's sigs,
          // dedup_semantic's tagged cells) runs skeleton #1 cold and
          // skeleton #2 against a WARM InMemoryRelation with real
          // stats — AQE then legitimately picks a different join
          // strategy (r17-c8 dedup_simhash "bimodal-plan", reproduced
          // this round on dedup_semantic: cold BroadcastHashJoin vs
          // warm SortMergeJoin) and the flag reports plan instability
          // that the timed samples never experienced.
          spark.catalog.clearCache()
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.toRdd.foreachPartition(it => it.foreach(_ => ()))
          val skel = df.queryExecution.executedPlan.toString.linesIterator
            .map(_.trim)
            .filter(l => l.contains("Join") || l.contains("Exchange") ||
              l.contains("AQEShuffleRead") || l.contains("isFinalPlan"))
            // strip run-varying ids so equal plans hash equal
            .map(_.replaceAll("#\\d+", "#").replaceAll("id=\\d+", "id=")
              .replaceAll("plan_id=\\d+", "plan_id="))
            // canonicalize partitioning key ORDER: the distinct-aggregate
            // rewrite (and anything else that iterates expression sets)
            // orders grouping keys by exprId, which varies per DataFrame
            // build — two compilations of the SAME query can emit
            // hashpartitioning(a, b, gid) vs hashpartitioning(b, a, gid).
            // Key order inside one hash partitioning is semantically
            // irrelevant (same co-location), so sort the args before
            // hashing; a REAL flip (strategy change, extra Exchange,
            // different key SET) still hashes differently.
            .map(l => "(hash|range)partitioning\\(([^)]*)\\)".r
              .replaceAllIn(l, m => java.util.regex.Matcher.quoteReplacement(
                m.group(1) + "partitioning(" +
                  m.group(2).split(",\\s*").sorted.mkString(",") + ")")))
            // canonicalize the build side of a KEY-SYMMETRIC broadcast
            // self-join (left keys == right keys after id-stripping,
            // e.g. dedup_simhash's chunk-bucket join: both sides are
            // the same cached sigs + Generate). AQE re-optimizes at
            // stage boundaries while the shared InMemoryRelation's
            // stats are still materializing, so BuildLeft/BuildRight
            // is a timing race between identical inputs — and for a
            // flip to occur at all, AQE must have sized EACH side
            // under the broadcast threshold in some run, so building
            // either side cannot explain a 2x timing flag. Asymmetric
            // joins (different key lists) keep their build side: a
            // build flip there is a real strategy instability.
            .map(l =>
              "BroadcastHashJoin \\[([^\\]]*)\\], \\[([^\\]]*)\\], (\\w+), Build(Left|Right)".r
                .replaceAllIn(l, m =>
                  if (m.group(1) == m.group(2))
                    java.util.regex.Matcher.quoteReplacement(
                      s"BroadcastHashJoin [${m.group(1)}], [${m.group(2)}], ${m.group(3)}, BuildEither")
                  else m.matched))
            .map(_.take(160))
            .mkString("\n")
          Some((java.security.MessageDigest.getInstance("MD5")
            .digest(skel.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString,
            skel))
        } catch { case _: Throwable => None }
      val pairs = Seq(one(), one()).flatten
      val hashes = pairs.map(_._1)
      // arrangement-only difference: the canonicalized line MULTISETS
      // are equal but tree order differs — the key-symmetric
      // build-side swap above reorders the join's children without
      // changing any strategy/exchange line. A REAL flip always
      // changes the multiset (a strategy change swaps the join line;
      // an extra shuffle adds an Exchange line; an ASYMMETRIC build
      // swap keeps its BuildLeft/BuildRight text, which differs).
      val verdict =
        if (hashes.size < 2) "unadjudicated"
        else if (hashes.distinct.size == 1) "jit-or-ambient"
        else if (pairs.map(_._2.linesIterator.toSeq.sorted).distinct.size == 1)
          "symmetric-build-swap"
        else "bimodal-plan"
      System.err.println(
        s"[bench] flag adjudication: $name skeleton hashes=${hashes.mkString(",")} -> $verdict")
      // a bimodal verdict fails calm certification — print the two
      // skeletons so the artifact reader sees WHAT flipped without a
      // reproduction round-trip
      if (verdict == "bimodal-plan") pairs.foreach { case (h, skel) =>
        System.err.println(s"[bench] $name skeleton $h:\n" +
          skel.linesIterator.map("    " + _).mkString("\n"))
      }
      (name, hashes, verdict)
    }
    val bimodal = skeletonEvidence.filter(_._3 == "bimodal-plan").map(_._1)
    // end-of-run probe: start/end disagreement localizes a mid-run
    // window shift; the MIN of the two is the window's best observed
    // quality and is what the envelope judges (a probe can only be
    // inflated by degradation, never deflated).
    val (probeCpuEnd, probeScanEnd) =
      try probePair(spark) catch { case _: Throwable => (-1.0, -1.0) }
    val probeCpuMin =
      Seq(probeCpuStart, probeCpuEnd).filter(_ > 0) match {
        case Nil => -1.0; case xs => xs.min }
    val probeScanMin =
      Seq(probeScanStart, probeScanEnd).filter(_ > 0) match {
        case Nil => -1.0; case xs => xs.min }
    // scale >= 1: how much slower this window is than the banked
    // nominal, taken as the worse of the two components. Anchor ratios
    // divided by it give the "self-normalized" view the raw ratios sit
    // alongside — interpretation aid, never the gating number.
    val probeScale = math.max(1.0, math.max(
      if (probeCpuMin > 0) probeCpuMin / probeCpuNominalMs else 1.0,
      if (probeScanMin > 0) probeScanMin / probeScanNominalMs else 1.0))
    val windowDegraded =
      (probeCpuMin > 0 && probeCpuMin > probeCpuDegradedAt * probeCpuNominalMs) ||
        (probeScanMin > 0 && probeScanMin > probeScanDegradedAt * probeScanNominalMs)
    System.err.println(
      f"[bench] probe end: cpu=$probeCpuEnd%.0fms scan=$probeScanEnd%.0fms; " +
        f"window scale=$probeScale%.2fx degraded=$windowDegraded")
    val nTimed = (allSamples ++ extSamples).size
    val calm = loadStart._1 >= 0 && loadStart._1 < 1.5 &&
      (nTimed == 0 || flagged.size.toDouble / nTimed <= 0.05) &&
      bimodal.isEmpty
    if (flagged.nonEmpty)
      System.err.println(
        s"[bench] WARNING: warm spread still > 2x after re-sampling on: ${flagged.mkString(", ")}")
    System.err.println(
      f"[bench] calm=$calm load_start=${loadStart._1}%.2f/${loadStart._2}%.2f/${loadStart._3}%.2f " +
        f"load_end=${loadEnd._1}%.2f/${loadEnd._2}%.2f/${loadEnd._3}%.2f " +
        s"flagged=${flagged.size}/$nTimed resampled=${resampled.size}")
    def loadJson(l: (Double, Double, Double)) = f"[${l._1}%.2f,${l._2}%.2f,${l._3}%.2f]"
    val resampledJson = resampled
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the small always-survives summary line carries only the verdict
    // bits; the full flagged/resampled detail rides the big line
    val skeletonJson = skeletonEvidence.map { case (n, hashes, verdict) =>
      "\"" + n + "\":{\"hashes\":" +
        hashes.map("\"" + _ + "\"").mkString("[", ",", "]") +
        ",\"verdict\":\"" + verdict + "\"}"
    }.mkString("{", ",", "}")
    val probeJson =
      f""""probe":{"cpu_start_ms":$probeCpuStart%.0f,"scan_start_ms":$probeScanStart%.0f,"cpu_end_ms":$probeCpuEnd%.0f,"scan_end_ms":$probeScanEnd%.0f,"cpu_nominal_ms":$probeCpuNominalMs%.0f,"scan_nominal_ms":$probeScanNominalMs%.0f,"scale":$probeScale%.2f,"degraded":$windowDegraded}"""
    val calmJsonShort = s""""calm":$calm,$probeJson,"loadavg_raw":${loadJson(loadRaw)},"loadavg_start":${loadJson(loadStart)},"loadavg_end":${loadJson(loadEnd)},"settle_sec":${settleMs / 1000},"spread_flagged_n":${flagged.size},"plan_bimodal_n":${bimodal.size}"""
    // probe-normalized anchor view (alongside raw, never replacing it):
    // ratio / probeScale ≈ what the entry would read in a nominal
    // window, under the whole-run-degrades-uniformly assumption the
    // round-16 A/B receipt validated (both code states +25-30%).
    val scaledAnchorJson =
      if (!anchorApplies || probeScale <= 1.0) ""
      else {
        val ratios = anchorRatios
          .map { case (k, r) => "\"" + k + "\":" + f"${r / probeScale}%.2f" }
          .mkString("{", ",", "}")
        s""","extended_anchor_ratio_probe_scaled":$ratios"""
      }
    val headlineElevatedJson =
      s""","headline_elevated":${headlineElevated.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val calmJson = s"""$calmJsonShort,"resampled":$resampledJson,"spread_flagged":$flaggedJson,"plan_skeleton":$skeletonJson$scaledAnchorJson$headlineElevatedJson"""
    // Short summary line FIRST: the full detail line can run to several
    // KB and has overflowed the driver's tail capture (BENCH_r07/r08
    // recorded "parsed": null), so the headline total goes out on its
    // own small line that always survives truncation; the detail line
    // with per-query timings follows for humans and deep tooling.
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","extended_total":$extTotal,$calmJsonShort$anchorJsonShort,"sf":"$sfDir"}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"extended":$ext,"extended_total":$extTotal,"spread":$spreads,"spread_warm":$warmSpreads,$calmJson$anchorJson,"sf":"$sfDir"}"""
    // compact per-query line, printed LAST (r17 verdict task #1): the
    // driver keeps only the final ~2000 chars of stdout, the detail
    // line overflows that window (BENCH_r07–r17 all recorded
    // parsed:null), and the short summary that did survive carries no
    // "queries" map, so the driver has had no per-query signal for ten
    // rounds. This line is the same queries/extended maps at 2-decimal
    // precision with none of the spread/skeleton/anchor detail
    // (~1.8 KB: fits the tail window ahead of sbt's [success] line).
    def compactMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${compactMap(results ++ storeResults)},"extended":${compactMap(extResults ++ scanPathResults)},"extended_total":$extTotal,"sf":"$sfDir"}"""
    // summary first (always-survives total), detail line for humans and
    // deep tooling, compact LAST so the tail capture's final parseable
    // line carries the per-query map
    println(summary)
    println(line)
    println(compact)
    // self-contained artifact: the stdout capture has repeatedly
    // truncated the detail line (BENCH_r07–r09 recorded parsed:null),
    // so the full result also lands as a file next to the repo root —
    // one JSON object, written atomically via temp+move so a reader
    // never sees a half-written file.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json"))
      val tmp = java.nio.file.Files.createTempFile(
        out.toAbsolutePath.getParent, ".bench_summary", ".tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      System.err.println(s"[bench] wrote ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_summary.json write failed: ${e.getMessage}")
    }
    // also emit on the raw fd: under `sbt runMain` the in-process
    // System.out is wrapped by sbt's logger, which prefixes "[info] " —
    // unparseable as bare JSON; /dev/stdout bypasses the wrapper.
    // append=true is load-bearing: without it, a shell redirect to a
    // regular file would O_TRUNC the log that stdout already wrote
    try {
      val fd = new java.io.FileOutputStream("/dev/stdout", true)
      fd.write((summary + "\n" + line + "\n" + compact + "\n").getBytes("UTF-8")); fd.flush()
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
