package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-corpus oracle gate (r14 verdict task #2): derives a
  * value-distribution-fuzzed copy of an sf dir — extreme key skew,
  * unicode / empty / whitespace / huge strings, pre-epoch and
  * 2038-rollover timestamps, far-out dates, denormal doubles, zero
  * vectors, zero-variance groups, malformed JSON — then executes the
  * full Verify dump against it so every oracle-checked query is
  * value-compared with DuckDB on data the sf corpus never shows it.
  *
  *   sbt "runMain graft.VerifyFuzz <seed> /root/testdata/sf0.01 /tmp/vf"
  *   python3 tools/oracle_check.py /tmp/vf/corpus /tmp/vf/out
  *
  * Every mutation site is gated by md5(seed/table/mutation/PRIMARY KEY)
  * against a basis-point rate — deterministic given the seed (committed
  * in VERIFYFUZZ_r{N}.log), order-independent (no trust in file row
  * order), and disjoint mutations compose by gate precedence (first
  * matching mutation of a column wins via `when` chaining).
  *
  * Deliberate bounds, so the gate is sharp rather than flaky:
  *  - timestamp extremes are the SEMANTIC edges (negative epoch micros,
  *    the 32-bit 2038 rollover), not ±290-year bulk: the resample grid
  *    queries materialize min→max hourly slots per group, so pandas-
  *    range extremes would turn a correctness gate into a 25 M-row
  *    bulk test; dates (no grid queries) do get near-pandas-range
  *    extremes (1677/2262 — datetime64[ns]-safe for the comparator).
  *  - float fuzz uses denormals and zeros, not NaN/Inf/±MaxValue:
  *    sums of MaxValue mixtures are non-associative at the ulp and
  *    would flake the bit-exact compare without indicating an engine
  *    bug; denormals exercise subnormal handling while being absorbed
  *    exactly by normal-magnitude aggregates. (Quantitatively: any
  *    injected |x| ≳ 1e150 in a variance/corr-consumed column puts the
  *    huge-delta m2 term within ~8 orders of every small term, so the
  *    accumulation-order noise lands in the 15th significant digit —
  *    which decimal-place rounding cannot mask on a 1e148-scale
  *    stddev. The corpus's grid-valued columns are a necessary
  *    condition for full-precision cross-engine variance compare.)
  *  - primary keys are never duplicated or nulled: identities are the
  *    deterministic seed of every gate AND the unique ORDER BY
  *    tiebreaker the oracle determinism contract rests on. Duplicated
  *    PKs make derived columns (lag, row_number arithmetic) tie on
  *    every sort key while differing in value — nondeterministic row
  *    order on BOTH engines, i.e. a broken comparator, not a finding.
  *    Near-duplicate VALUE rows under one key occur naturally in the
  *    corpus and are covered (they found the agg_unpivot tie-order
  *    pin, BASELINE.md r15).
  */
object VerifyFuzz {

  /** Sharp edge values, named so the log reads as a checklist. */
  val UnicodeSoup: String =
    "héllo wörld 你好世界 🚀🔥 " +
      "مرحبا שלום é́ " +
      "\u00A0nbsp\u2028ls\u2029ps \u0000adjacent"
  val WhitespaceOnly: String = "  \t\n\r  "
  val HugeText: String = {
    val phrase = "the quick brown fox jumps over the lazy dog 0123456789 "
    val sb = new StringBuilder(phrase.length * 600)
    (0 until 600).foreach(_ => sb.append(phrase))
    sb.toString // ~33.6k chars
  }
  val PreEpochTs = "1969-07-20 20:17:40"     // negative epoch micros
  val RolloverTs = "2038-01-19 03:14:08"     // 32-bit epoch-seconds edge
  val MinDate = "1677-09-23 00:00:00"        // datetime64[ns]-safe floor
  val MaxDate = "2262-04-10 00:00:00"        // datetime64[ns]-safe ceil
  val DenormalDouble = java.lang.Double.MIN_VALUE // 4.9e-324
  val SubnormalDouble = 1.0e-310
  val HotUser = 7L

  def main(args: Array[String]): Unit = {
    val (seed, sfDir, workDir, naninf) = args match {
      case Array(s, d, w)           => (s, d, w, false)
      case Array(s, d, w, "naninf") => (s, d, w, true)
      case other => sys.error(s"usage: VerifyFuzz <seed> <sfDir> <workDir> [naninf], got ${other.toSeq}")
    }
    val spark = DerivedCorpus.session()
    import spark.implicits._
    val corpus = s"$workDir/corpus"
    val out = s"$workDir/out"

    /** Deterministic basis-point gate: true for ~`bp`/10000 of keys. */
    def gate(t: String, mutation: String, keyCols: Seq[String], bp: Int) = {
      val key = concat_ws("/", keyCols.map(c => col(c).cast("string")): _*)
      conv(substring(md5(
        concat(lit(s"$seed/$t/$mutation/"), key)), 1, 8), 16, 10)
        .cast("long") % 10000 < bp
    }

    def report(t: String, df: DataFrame, what: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
      val counts = what.map { case (n, c) =>
        s"$n=${df.filter(c).count()}"
      }.mkString(" ")
      println(s"[verifyfuzz] $t: $counts")
    }

    // ------------------------------------------------------------------
    // events (key event_id): hot-user skew, timestamp edges, denormal
    // values, zero-variance value for one type, malformed/unicode JSON
    // ------------------------------------------------------------------
    val events0 = Tables.events(spark, sfDir)
    val eKey = Seq("event_id")
    val events = events0
      // ~50% of rows collapse onto one user: the skew every groupBy /
      // window / sessionize / salted-join path must survive
      .withColumn("user_id",
        when(gate("events", "skew", eKey, 5000), lit(HotUser))
          .otherwise(col("user_id")))
      .withColumn("ts",
        when(gate("events", "ts_pre_epoch", eKey, 25),
          lit(PreEpochTs).cast("timestamp"))
          .when(gate("events", "ts_rollover", eKey, 25),
            lit(RolloverTs).cast("timestamp"))
          .otherwise(col("ts")))
      .withColumn("value",
        // zero-variance group FIRST (same precedence rule as lineitem's
        // zero_var_R below): EVERY 'purchase' event gets the same value
        // → stddev 0, undefined corr, degenerate z-scores. Behind the
        // denormal gates it would leak ~1.25% of purchases to other
        // mutations and the group would be small-variance, silently
        // skipping the degenerate paths this clause exists to cover.
        when(col("event_type") === "purchase", lit(42.0))
          .when(gate("events", "denormal", eKey, 50), lit(DenormalDouble))
          .when(gate("events", "subnormal", eKey, 50), lit(SubnormalDouble))
          .when(gate("events", "negzero", eKey, 25), lit(-0.0))
          .otherwise(col("value")))
      .withColumn("props",
        when(gate("events", "json_malformed", eKey, 50), lit("{not json!"))
          .when(gate("events", "json_unicode", eKey, 50),
            lit("""{"k":"你好 🚀","n":-0.0}"""))
          .when(gate("events", "json_empty", eKey, 25), lit(""))
          .otherwise(col("props")))
    // naninf lane (r15 verdict task #5): NaN/±Inf in value columns.
    // Kept OUT of the exact lane for a sound reason (sums over Inf
    // mixtures are non-associative and would flake bit-exact compare);
    // here the relaxed contract applies — no crash, footer refusal
    // exact, NaN sort placement cross-engine. The zero-variance
    // purchase group is exempted so its degenerate-moment coverage
    // survives the lane.
    val eventsL =
      if (!naninf) events
      else events.withColumn("value",
        when(col("event_type") =!= "purchase" && gate("events", "nan", eKey, 30),
          lit(Double.NaN))
          .when(col("event_type") =!= "purchase" && gate("events", "posinf", eKey, 20),
            lit(Double.PositiveInfinity))
          .when(col("event_type") =!= "purchase" && gate("events", "neginf", eKey, 10),
            lit(Double.NegativeInfinity))
          .otherwise(col("value")))
    DerivedCorpus.writeFlat(eventsL, corpus, "events")
    report("events", spark.read.parquet(s"$corpus/events.parquet"), Seq(
      "hot_user" -> (col("user_id") === HotUser),
      "pre_epoch" -> (col("ts") < lit("1970-01-01").cast("timestamp")),
      "rollover" -> (col("ts") > lit("2038-01-01").cast("timestamp")),
      "denormal" -> (col("value") > 0.0 && col("value") < 1.0e-300),
      "nan" -> isnan(col("value")),
      "inf" -> (abs(col("value")) === Double.PositiveInfinity),
      "bad_json" -> (col("props") === "{not json!")))

    // ------------------------------------------------------------------
    // documents (key doc_id): empty / whitespace / unicode / huge text,
    // unknown language; n_chars re-derived so the materialized length
    // stays consistent with the mutated text
    // ------------------------------------------------------------------
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val dKey = Seq("doc_id")
    val docs = docs0
      .withColumn("text",
        when(gate("documents", "text_empty", dKey, 100), lit(""))
          .when(gate("documents", "text_ws", dKey, 100), lit(WhitespaceOnly))
          .when(gate("documents", "text_unicode", dKey, 100), lit(UnicodeSoup))
          .when(gate("documents", "text_huge", dKey, 50), lit(HugeText))
          .otherwise(col("text")))
      .withColumn("lang",
        when(gate("documents", "lang_unknown", dKey, 100), lit("zz"))
          .otherwise(col("lang")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    DerivedCorpus.writeFlat(docs, corpus, "documents")
    report("documents", spark.read.parquet(s"$corpus/documents.parquet"), Seq(
      "empty" -> (col("text") === ""),
      "whitespace" -> (col("text") === WhitespaceOnly),
      "unicode" -> (col("text") === UnicodeSoup),
      "huge" -> (length(col("text")) > 30000),
      "lang_zz" -> (col("lang") === "zz")))

    // ------------------------------------------------------------------
    // embeddings (key vec_id): zero vectors (cosine 0/0 edge), denormal
    // components, negative-zero components
    // ------------------------------------------------------------------
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vKey = Seq("vec_id")
    val emb = emb0
      .withColumn("embedding",
        when(gate("embeddings", "zero_vec", vKey, 50),
          transform(col("embedding"), _ => lit(0.0f)))
          .when(gate("embeddings", "denormal_vec", vKey, 50),
            transform(col("embedding"), _ => lit(java.lang.Float.MIN_VALUE)))
          .when(gate("embeddings", "negzero_vec", vKey, 25),
            transform(col("embedding"), x => x * lit(-0.0f)))
          .otherwise(col("embedding")))
    val embL =
      if (!naninf) emb
      else emb.withColumn("embedding",
        when(gate("embeddings", "nan_vec", vKey, 30),
          transform(col("embedding"), _ => lit(Float.NaN)))
          .when(gate("embeddings", "inf_component", vKey, 20),
            transform(col("embedding"), (x, i) =>
              when(i === 0, lit(Float.PositiveInfinity)).otherwise(x)))
          .otherwise(col("embedding")))
    DerivedCorpus.writeFlat(embL, corpus, "embeddings")
    report("embeddings", spark.read.parquet(s"$corpus/embeddings.parquet"), Seq(
      "zero_vec" -> (aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + abs(x)) === 0.0),
      "nan_vec" -> isnan(element_at(col("embedding"), 2)),
      "inf_vec" -> (element_at(col("embedding"), 1) === Float.PositiveInfinity)))

    // ------------------------------------------------------------------
    // lineitem (key l_orderkey, l_linenumber): zero-variance group
    // ('R' quantities all equal), denormal prices/taxes, date extremes
    // ------------------------------------------------------------------
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val lKey = Seq("l_orderkey", "l_linenumber")
    val li = li0
      .withColumn("l_quantity",
        when(col("l_returnflag") === "R", lit(25.0))
          .otherwise(col("l_quantity")))
      .withColumn("l_tax",
        when(gate("lineitem", "tax_denormal", lKey, 50), lit(DenormalDouble))
          .otherwise(col("l_tax")))
      .withColumn("l_extendedprice",
        when(gate("lineitem", "price_subnormal", lKey, 30), lit(SubnormalDouble))
          .otherwise(col("l_extendedprice")))
      .withColumn("l_shipdate",
        when(gate("lineitem", "ship_min", lKey, 20),
          lit(MinDate).cast("timestamp"))
          .when(gate("lineitem", "ship_max", lKey, 20),
            lit(MaxDate).cast("timestamp"))
          .otherwise(col("l_shipdate")))
    val liL =
      if (!naninf) li
      else li
        .withColumn("l_extendedprice",
          when(gate("lineitem", "price_nan", lKey, 20), lit(Double.NaN))
            .when(gate("lineitem", "price_posinf", lKey, 10),
              lit(Double.PositiveInfinity))
            .otherwise(col("l_extendedprice")))
        .withColumn("l_tax",
          when(gate("lineitem", "tax_nan", lKey, 20), lit(Double.NaN))
            .otherwise(col("l_tax")))
    DerivedCorpus.writeFlat(liL, corpus, "lineitem")
    report("lineitem", spark.read.parquet(s"$corpus/lineitem.parquet"), Seq(
      "zero_var_R" -> (col("l_returnflag") === "R" && col("l_quantity") === 25.0),
      "ship_min" -> (col("l_shipdate") < lit("1900-01-01").cast("timestamp")),
      "ship_max" -> (col("l_shipdate") > lit("2200-01-01").cast("timestamp"))))

    // ------------------------------------------------------------------
    // orders (key o_orderkey): denormal totals, date extremes
    // ------------------------------------------------------------------
    val ord0 = spark.read.parquet(s"$sfDir/orders.parquet")
    val oKey = Seq("o_orderkey")
    val ord = ord0
      .withColumn("o_totalprice",
        when(gate("orders", "total_denormal", oKey, 30), lit(DenormalDouble))
          .when(gate("orders", "total_negzero", oKey, 20), lit(-0.0))
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderdate",
        when(gate("orders", "date_min", oKey, 20), lit(MinDate).cast("timestamp"))
          .when(gate("orders", "date_max", oKey, 20), lit(MaxDate).cast("timestamp"))
          .otherwise(col("o_orderdate")))
    val ordL =
      if (!naninf) ord
      else ord.withColumn("o_totalprice",
        when(gate("orders", "total_nan", oKey, 20), lit(Double.NaN))
          .when(gate("orders", "total_neginf", oKey, 10),
            lit(Double.NegativeInfinity))
          .otherwise(col("o_totalprice")))
    DerivedCorpus.writeFlat(ordL, corpus, "orders")
    report("orders", spark.read.parquet(s"$corpus/orders.parquet"), Seq(
      "date_min" -> (col("o_orderdate") < lit("1900-01-01").cast("timestamp")),
      "date_max" -> (col("o_orderdate") > lit("2200-01-01").cast("timestamp"))))

    // dimension tables pass through unmutated: they are join targets
    // whose keys must keep referential integrity with the fact sides
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      DerivedCorpus.writeFlat(spark.read.parquet(s"$sfDir/$t.parquet"), corpus, t)
    }

    if (naninf) {
      // (b) the NaN-proof footer discipline, exercised on REAL NaN
      // data: a landed events file whose VALUE chunk saw NaN must
      // refuse footer min/max (the runtime writer omits stats there —
      // NanProofVintageSpec's premise), a NaN-free file must answer,
      // and row counts stay exact on both. Self-asserting: a violation
      // aborts the lane.
      val conf = spark.sparkContext.hadoopConfiguration
      val dir = new org.apache.hadoop.fs.Path(s"$corpus/events.parquet")
      val fs = dir.getFileSystem(conf)
      val files = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      var refused = 0
      var answered = 0
      files.foreach { f =>
        val part = spark.read.parquet(f.toString)
        val hasNaN = part.filter(isnan(col("value"))).limit(1).count() > 0
        val agg = graft.sources.Store.fileFooterAgg(
          conf, f.toString, Seq("VALUE"), Set("VALUE"))
        val rows = part.count()
        require(agg.rows == rows,
          s"footer row count drifted on $f: ${agg.rows} vs $rows")
        if (hasNaN) {
          require(!agg.minMaxOkCols.contains("VALUE"),
            s"NaN-bearing file $f must refuse footer min/max for VALUE")
          refused += 1
        } else if (agg.minMaxOkCols.contains("VALUE")) answered += 1
      }
      println(s"[verifyfuzz] naninf footer receipt: ${files.length} files, " +
        s"$refused NaN-refused, $answered clean-answered")
      require(refused > 0, "lane vacuous: no events file carried NaN")
    }

    println(s"[verifyfuzz] seed=$seed lane=${if (naninf) "naninf" else "exact"} " +
      s"corpus at $corpus; dumping queries to $out")
    Verify.main(Array(corpus, out))
  }
}
