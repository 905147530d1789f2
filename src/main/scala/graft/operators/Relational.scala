package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scan / filter / join / aggregate / window / sort / set-op surface —
  * the reference's storage semantics (oakstore/store.py R4/R6/R7)
  * generalized to the TPC-H-ish corpus, plain DataFrame combinators so
  * Catalyst owns pushdown, pruning, join strategy and AQE (SURVEY.md §4).
  *
  * Determinism contract with the DuckDB oracle: every query ends in an
  * ORDER BY over a unique key, float aggregates are rounded, int-width
  * mismatches (Spark int vs DuckDB BIGINT fns) are cast to long.
  */
object Relational {
  import Tables._

  private val t0 = "2024-01-10 00:00:00"
  private val t1 = "2024-01-20 00:00:00"
  // the SAME instants in ISO-Z form for the raw-domain helpers — derived,
  // not retyped, so the Spark impls and the oracle SQL cannot desync
  private val t0Iso = t0.replace(' ', 'T') + "Z"
  private val t1Iso = t1.replace(' ', 'T') + "Z"

  val all: Seq[Q] = Seq(
    // R7: inclusive time-range scan; predicates reach the parquet reader
    // (store.py:238-267 — pushdown comes free from Catalyst).
    Q(
      "scan_range",
      (s, d) =>
        Tables.eventsInRange(s, d, t0Iso, t1Iso)
          .orderBy("event_id"),
      Some(
        s"""SELECT event_id, ts, user_id, event_type, value, props FROM events
           |WHERE ts >= TIMESTAMP '$t0' AND ts <= TIMESTAMP '$t1'
           |ORDER BY event_id""".stripMargin
      )
    ),
    // R4: schema projection — keep declared columns, drop the rest,
    // uppercase names (store.py:154-160).
    Q(
      "scan_project",
      (s, d) =>
        events(s, d)
          .select(
            col("event_id").as("EVENT_ID"),
            col("user_id").as("USER_ID"),
            col("value").as("VAL")
          )
          .orderBy("EVENT_ID"),
      Some(
        """SELECT event_id AS EVENT_ID, user_id AS USER_ID, value AS VAL
          |FROM events ORDER BY EVENT_ID""".stripMargin
      )
    ),
    // R7 residual filter: conjunctive numeric + string + time predicates.
    Q(
      "filter_pred",
      (s, d) =>
        lineitem(s, d)
          .filter(
            col("l_quantity") >= 10 && col("l_quantity") <= 24 &&
              col("l_returnflag") === "R" &&
              col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
          )
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber"),
      Some(
        """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
          |FROM lineitem
          |WHERE l_quantity >= 10 AND l_quantity <= 24 AND l_returnflag = 'R'
          |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |ORDER BY l_orderkey, l_linenumber""".stripMargin
      )
    ),
    // R6: append + full-row duplicate elimination over overlapping batches
    // (store.py:230; exact-dedup semantics, set-level).
    Q(
      "append_dedup",
      (s, d) => {
        // filter in the raw ts domain so both branch scans prune
        val old = Tables.eventsWhere(s, d)((ts, l) => ts < l(t1Iso))
        val neu = Tables.eventsWhere(s, d)((ts, l) => ts >= l(t0Iso))
        old.unionByName(neu).dropDuplicates().orderBy("event_id")
      },
      Some(
        // value + 0.0: the pinned ±0.0 normalization. Spark's
        // dropDuplicates normalizes -0.0 in its grouping keys
        // (SPARK-24834) so the deduped row comes back with +0.0;
        // DuckDB's DISTINCT preserves the sign. IEEE x + 0.0 is the
        // identity for every other value, NULL included.
        s"""SELECT DISTINCT event_id, ts, user_id, event_type,
           |  value + 0.0 AS value, props FROM (
           |  SELECT * FROM events WHERE ts < TIMESTAMP '$t1'
           |  UNION ALL
           |  SELECT * FROM events WHERE ts >= TIMESTAMP '$t0'
           |) ORDER BY event_id""".stripMargin
      )
    ),
    // Exact distinct (north-star dedup baseline).
    Q(
      "distinct_rows",
      (s, d) =>
        events(s, d).select("user_id", "event_type").distinct()
          .orderBy("user_id", "event_type"),
      Some(
        "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"
      )
    ),
    // Equi join; AQE picks broadcast vs SMJ by size.
    Q(
      "join_inner",
      (s, d) =>
        orders(s, d)
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(
            col("o_orderkey"), col("o_custkey"), col("c_name"),
            col("c_mktsegment"), round(col("o_totalprice"), 2).as("total")
          )
          .orderBy("o_orderkey"),
      Some(
        // + 0.0: Spark's round() collapses -0.0 to +0.0 (BigDecimal
        // path), DuckDB's preserves it — the pinned normalization
        """SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
          |       round(o_totalprice, 2) + 0.0 AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_orderkey""".stripMargin
      )
    ),
    // Star join with explicitly broadcast dims: at 100 TB the fact side
    // never shuffles for dim joins.
    Q(
      "join_broadcast",
      (s, d) =>
        lineitem(s, d)
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name").isin("ASIA", "EUROPE"))
          .groupBy("n_name")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
            count(lit(1)).as("n")
          )
          .orderBy("n_name"),
      Some(
        """SELECT n_name,
          |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
          |       count(*) AS n
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name IN ('ASIA', 'EUROPE')
          |GROUP BY n_name ORDER BY n_name""".stripMargin
      )
    ),
    // Semi join = EXISTS.
    Q(
      "join_semi",
      (s, d) =>
        customer(s, d)
          .join(
            orders(s, d).filter(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"),
            "left_semi"
          )
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin
      )
    ),
    // Anti join = NOT EXISTS — the scalable form of R6 append-dedup.
    Q(
      "join_anti",
      (s, d) =>
        customer(s, d)
          .join(
            orders(s, d).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"),
            "left_anti"
          )
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin
      )
    ),
    // Hash aggregate with partial (map-side) combine — TPC-H Q1 shape.
    Q(
      "agg_hash",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base"),
            // 4dp: summands are on the 1e-4 grid (2dp × 2dp), so the true
            // sum is grid-aligned at 4dp; fp error (~1e-5) ≪ half-step.
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc"),
            round(avg("l_quantity"), 6).as("avg_qty"),
            round(avg("l_discount"), 6).as("avg_disc"),
            count(lit(1)).as("n")
          )
          .orderBy("l_returnflag", "l_linestatus"),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       round(sum(l_quantity), 2) AS sum_qty,
          |       round(sum(l_extendedprice), 2) AS sum_base,
          |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
          |       round(avg(l_quantity), 6) AS avg_qty,
          |       round(avg(l_discount), 6) AS avg_disc,
          |       count(*) AS n
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin
      )
    ),
    // Exact distinct counts per group (expand + two-phase agg in Spark).
    Q(
      "agg_distinct",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("parts"),
            countDistinct(col("l_suppkey")).as("supps"),
            count(lit(1)).as("n")
          )
          .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
          |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps,
          |       count(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      )
    ),
    // HLL sketch distinct — no exact oracle by construction (rows-only).
    Q(
      "agg_approx_distinct",
      (s, d) =>
        events(s, d)
          .groupBy("event_type")
          .agg(approx_count_distinct(col("user_id")).as("approx_users"))
          .orderBy("event_type"),
      None
    ),
    // rollup/cube/grouping-sets oracles carry HAVING count(*) > 0 — a
    // no-op on every observed group, pinning Spark's empty-input
    // semantics (no grand-total row over zero rows) where DuckDB/
    // Postgres emit a count-0 () row. Groups exist only for data.
    Q(
      "agg_rollup",
      (s, d) =>
        lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some(
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS n
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |HAVING count(*) > 0
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
      )
    ),
    Q(
      "agg_cube",
      (s, d) =>
        lineitem(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some(
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS n
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |HAVING count(*) > 0
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
      )
    ),
    // Explicit GROUPING SETS (the general form rollup/cube desugar to):
    // per-flag totals, per-status totals, and the grand total in ONE
    // pass — Spark expands the sets map-side, so it stays a single
    // two-phase hash aggregation, not three scans.
    Q(
      "agg_grouping_sets",
      (s, d) =>
        lineitem(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus")
          )
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some(
        """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |HAVING count(*) > 0
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
      )
    ),
    // Ranking window functions.
    Q(
      "win_rank",
      (s, d) => {
        val byPrice = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc)
        val stable = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d)
          .select(
            col("o_custkey"), col("o_orderkey"),
            rank().over(byPrice).cast("long").as("rnk"),
            dense_rank().over(byPrice).cast("long").as("drnk"),
            row_number().over(stable).cast("long").as("rn")
          )
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(
        """SELECT o_custkey, o_orderkey,
          |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
          |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS drnk,
          |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
      )
    ),
    // Analytic window: lag + bounded moving average (7-row frame).
    Q(
      "win_analytic",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, d)
          .select(
            col("event_id"), col("user_id"),
            round(lag("value", 1).over(w), 6).as("prev_value"),
            round(avg("value").over(w.rowsBetween(-6, 0)), 6).as("mavg7")
          )
          .orderBy("event_id")
      },
      Some(
        // + 0.0 on both doubles: the pinned ±0.0 normalization
        // (Spark round() collapses -0.0, DuckDB's preserves it)
        """SELECT event_id, user_id,
          |  round(lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id), 6) + 0.0 AS prev_value,
          |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) + 0.0 AS mavg7
          |FROM events ORDER BY event_id""".stripMargin
      )
    ),
    // Cumulative frame: running sum, unbounded preceding.
    Q(
      "win_cume",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(
            col("event_id"), col("user_id"),
            round(sum("value").over(w), 4).as("running_sum"),
            count(lit(1)).over(w).as("running_n")
          )
          .orderBy("event_id")
      },
      Some(
        """SELECT event_id, user_id,
          |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
          |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
          |FROM events ORDER BY event_id""".stripMargin
      )
    ),
    // ORDER BY + LIMIT → TakeOrderedAndProject (no global sort at scale).
    Q(
      "sort_limit",
      (s, d) =>
        lineitem(s, d)
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price")
          )
          .limit(100),
      Some(
        """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
          |FROM lineitem
          |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
          |LIMIT 100""".stripMargin
      )
    ),
    // Top-k per group via ranking window (single shuffle on the group key).
    Q(
      "topk_pergroup",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d)
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("total"),
            row_number().over(w).cast("long").as("rn")
          )
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some(
        // + 0.0: the pinned ±0.0 normalization — Spark's round()
        // collapses -0.0 to +0.0, DuckDB's preserves it (same pin as
        // join_inner; a -0.0 total surfacing in a top-3 was caught by
        // the r16 fuzz seed)
        """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) + 0.0 AS total, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    CAST(row_number() OVER (PARTITION BY o_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          |  FROM orders)
          |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
      )
    ),
    Q(
      "set_union",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .union(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .distinct()
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |UNION
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |ORDER BY o_custkey""".stripMargin
      )
    ),
    Q(
      "set_intersect",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |INTERSECT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |ORDER BY o_custkey""".stripMargin
      )
    ),
    Q(
      "set_except",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some(
        """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          |EXCEPT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |ORDER BY o_custkey""".stripMargin
      )
    ),
    // Generator / UDTF class: positional explode of an array column.
    Q(
      "fn_explode",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
          .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
          .orderBy("doc_id", "pos"),
      Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          |SELECT doc_id, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
          |       unnest(toks) AS tok
          |FROM t ORDER BY doc_id, pos""".stripMargin
      )
    ),
    // Pivot: wide-format aggregation (one column per pivoted value).
    Q(
      "agg_pivot",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum("l_quantity"), 2))
          .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS F,
          |       round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS O
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      )
    ),
    // Unpivot/melt: wide → long. The sort must stay AFTER the expand:
    // (l_orderkey, l_linenumber) is NOT unique in the corpus, and the
    // required (key, metric) order interleaves metrics ACROSS the
    // duplicate rows — no pre-expand row sort can reproduce it (a
    // sort-before-expand rewrite was measured ~25% cheaper and rejected
    // on exactly this, r15 adjudication in BASELINE.md). `val` joins the
    // ORDER BY as the final tiebreaker because those duplicate keys also
    // yield duplicate (key, metric) pairs with DIFFERENT values, whose
    // relative order neither engine otherwise pins — the hash match was
    // implementation luck without it.
    Q(
      "agg_unpivot",
      (s, d) =>
        lineitem(s, d)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "metric",
            "val"
          )
          .orderBy(
            asc_nulls_first("l_orderkey"), asc_nulls_first("l_linenumber"),
            asc_nulls_first("metric"), asc_nulls_first("val")
          ),
      Some(
        """SELECT l_orderkey, l_linenumber, metric, val FROM (
          |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
          |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
          |         metric NULLS FIRST, val NULLS FIRST""".stripMargin
      )
    ),
    // Full outer join with one-sided nulls (customers without 'F' orders).
    Q(
      "join_outer",
      (s, d) =>
        customer(s, d)
          .join(
            orders(s, d).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"),
            "full_outer"
          )
          .select(
            col("c_custkey"), col("c_name"), col("o_orderkey"),
            coalesce(col("o_orderstatus"), lit("NONE")).as("status")
          )
          .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey")),
      Some(
        """SELECT c_custkey, c_name, o_orderkey,
          |       coalesce(o_orderstatus, 'NONE') AS status
          |FROM customer FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
          |  ON c_custkey = o_custkey
          |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin
      )
    ),
    // argmin/argmax aggregates (min_by/max_by ↔ DuckDB arg_min/arg_max).
    // Ties on the raw price would make the winner nondeterministic, so
    // the ordering key is the exact integer (price·100, on-grid) widened
    // to include the orderkey — unique, hence deterministic in both
    // engines.
    Q(
      "agg_argminmax",
      (s, d) => {
        // explicit round before the cast: price·100 in doubles can land
        // at x.9999…, and Spark's double→long cast truncates while
        // DuckDB's rounds — rounding first makes both exact. The 1e10
        // multiplier keeps the key unique up to orderkey < 1e10 and
        // price·100 < 9e8 (long max 9.2e18). Grid.gridLong maps a
        // non-finite price to a NULL key — min_by/max_by skip NULL
        // keys in both engines, so a NaN-priced row never anchors the
        // argmin/argmax (and never kills the query under ANSI).
        val key =
          Grid.gridLong(col("l_extendedprice"), 100) * lit(10000000000L) + col("l_orderkey")
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            max_by(col("l_orderkey"), key).as("top_order"),
            min_by(col("l_orderkey"), key).as("bottom_order"),
            round(max(col("l_extendedprice")), 2).as("max_price")
          )
          .orderBy("l_returnflag")
      },
      Some(
        s"""SELECT l_returnflag,
          |  arg_max(l_orderkey, ${Grid.gridSql("l_extendedprice", "100")}*10000000000 + l_orderkey) AS top_order,
          |  arg_min(l_orderkey, ${Grid.gridSql("l_extendedprice", "100")}*10000000000 + l_orderkey) AS bottom_order,
          |  round(max(l_extendedprice), 2) AS max_price
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      )
    ),
    // String formatting surface (format_string ↔ printf, padding, case).
    Q(
      "fn_format",
      (s, d) =>
        customer(s, d)
          .select(
            col("c_custkey"),
            // SQL printf convention: any NULL argument makes the WHOLE
            // result NULL (DuckDB printf does this natively; Spark's
            // java.util.Formatter would render the string 'null' — a
            // latent cross-engine divergence the moment a customer
            // attribute is NULL)
            when(col("c_custkey").isNotNull && col("c_mktsegment").isNotNull,
              format_string("C-%07d/%s", col("c_custkey"), upper(col("c_mktsegment"))))
              .as("ident"),
            lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
            concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined")
          )
          .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey,
          |  printf('C-%07d/%s', c_custkey, upper(c_mktsegment)) AS ident,
          |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
          |  concat_ws('|', c_mktsegment, c_name) AS joined
          |FROM customer ORDER BY c_custkey""".stripMargin
      )
    ),
    // Cryptographic hash functions — content addressing / checksumming
    // (md5 + sha256), the primitives the dedup and fingerprint operators
    // build on. All codegen'd; DuckDB computes identical digests.
    Q(
      "fn_hash",
      (s, d) =>
        customer(s, d)
          .select(
            col("c_custkey"),
            md5(col("c_name")).as("h_md5"),
            sha2(col("c_name"), 256).as("h_sha256")
          )
          .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, md5(c_name) AS h_md5, sha256(c_name) AS h_sha256
          |FROM customer ORDER BY c_custkey""".stripMargin
      )
    ),
    // Salted join for hot keys: Skew.saltedJoin splits each left key
    // across `salt` reducers and replicates the (small) right side per
    // sub-key — the explicit remedy for the pathological hot-key joins
    // AQE's runtime skew handling can miss. Semantics-preserving by
    // construction, which the oracle (a plain join) checks exactly.
    Q(
      "join_skew_salted",
      (s, d) => {
        val fact = events(s, d).select("event_id", "user_id", "value")
        val dim = events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("tot_value"))
        Skew.saltedJoin(fact, dim, Seq("user_id"), salt = 8)
          .select("event_id", "user_id", "n_events", "tot_value")
          .orderBy("event_id")
      },
      Some(
        """SELECT e.event_id, e.user_id, d.n_events, d.tot_value
          |FROM events e JOIN (
          |  SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS tot_value
          |  FROM events GROUP BY user_id) d USING (user_id)
          |ORDER BY event_id""".stripMargin
      )
    ),
    // Distribution window functions.
    Q(
      "win_dist",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        orders(s, d)
          .select(
            col("o_orderkey"), col("o_custkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            ntile(4).over(w).cast("long").as("quartile")
          )
          .orderBy("o_orderkey")
      },
      Some(
        """SELECT o_orderkey, o_custkey,
          |  round(percent_rank() OVER w, 6) AS pr,
          |  round(cume_dist() OVER w, 6) AS cd,
          |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice NULLS FIRST, o_orderkey)
          |ORDER BY o_orderkey""".stripMargin
      )
    ),
    // Statistical aggregates (sample stddev/variance, correlation, exact
    // interpolated median). The median is EXACT but never value-buffered:
    // `percentile(x, 0.5)` grouped by a 3-value key would hold a third of
    // lineitem in one aggregation buffer (the round-12 verdict's OOM-shaped
    // plan) — instead it is SELECTED from a BIGINT histogram, the
    // ts_outlier_mad technique: prices live on the exact integer-cents
    // grid, so one two-phase groupBy(flag, cents).count() collapses the
    // corpus map-side to the grid-bounded distinct-value table (the price
    // grid is finite, so the histogram is CORPUS-INDEPENDENT at scale —
    // ~rows-sized at bench SF where prices are nearly unique, capped at
    // the ~10M-value grid at 100 TB), cumulative ranks over that table
    // locate the two middle elements, and quantile_cont's 0.5
    // interpolation is replayed exactly on the half-integer grid.
    // stddev/corr stream through Spark's own one-pass moment aggregates
    // on a second (column-pruned) scan — measured FASTER than deriving
    // them from a (flag, cents, qty) histogram, whose 3-column key
    // defeats map-side collapse below the grid bound. Every corpus-sized
    // agg is two-phase with map-side partials; nothing buffers a group.
    Q(
      "agg_stats",
      (s, d) => {
        val base = lineitem(s, d)
          .select(
            col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
            Grid.gridLong(col("l_extendedprice"), 100).as("cents"))
        // exact interpolated median of the integral cents column via
        // histogram selection (ranks (n-1) div 2 and n div 2 averaged).
        // NULL prices are excluded HERE, not in base: percentile-family
        // aggregates ignore NULLs while count(*) keeps the rows, and a
        // NULL bucket in the histogram would otherwise shift every rank
        // (latent on this corpus — lineitem prices are non-null — but
        // the replayed semantics must not depend on that)
        val hist = base.filter(col("cents").isNotNull)
          .groupBy(col("l_returnflag"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        // the group total as a WHOLE-PARTITION window sum over the same
        // partitioning wCum already forces: no extra shuffle on the
        // grid-bounded hist, and the NULL l_returnflag group is handled
        // natively by partitionBy — this replaces a separate aggregate
        // plus a null-safe broadcast join (the exact machinery the
        // round-13 NULL-group bug lived in)
        val wAll = Window.partitionBy("l_returnflag")
        val inRank = (r: org.apache.spark.sql.Column) =>
          r.between(col("cum") - col("cnt"), col("cum") - 1)
        val med = hist
          .withColumn("nv", sum(col("cnt")).over(wAll))
          .withColumn("cum", sum(col("cnt")).over(wCum))
          .groupBy("l_returnflag")
          .agg(
            max(when(inRank(floor((col("nv") - 1) / 2)), col("cents"))).as("vlo"),
            max(when(inRank(floor(col("nv") / 2)), col("cents"))).as("vhi"))
          .select(
            col("l_returnflag"),
            round(((col("vlo") + col("vhi")) / 2.0) / 100.0, 4).as("med"))
        base
          .groupBy("l_returnflag")
          .agg(
            round(stddev_samp(Grid.finiteD(col("l_extendedprice"))), 4).as("sd"),
            // corr via try_divide(covar_samp, sd*sd) — mathematically
            // identical to corr() (the (n-1) factors cancel) but a
            // ZERO-VARIANCE group yields NULL instead of ANSI corr()'s
            // DIVIDE_BY_ZERO, which would crash the whole query on one
            // constant-valued group (DuckDB's corr returns NULL there).
            // The stddev moments are restricted to PAIRWISE-complete
            // rows (both sides non-NULL) — corr()'s own semantics —
            // else a row NULL in only one column skews the denominator
            round(expr(
              "try_divide(covar_samp(l_quantity, " +
                s"${Grid.finiteSparkSql("l_extendedprice")}), " +
                s"stddev_samp(CASE WHEN ${Grid.finiteSparkSql("l_extendedprice")} IS NOT NULL THEN l_quantity END) * " +
                "stddev_samp(CASE WHEN l_quantity IS NOT NULL THEN " +
                s"${Grid.finiteSparkSql("l_extendedprice")} END))"), 6).as("co"),
            count(lit(1)).as("n"))
          // LEFT + null-safe join: a group whose prices are all NULL has
          // no histogram rows (med absent), but the oracle keeps the
          // group with med=NULL and n=count(*) — an inner join would
          // drop it; and a NULL flag group must still find its median
          .join(broadcast(med.withColumnRenamed("l_returnflag", "rf")),
            col("l_returnflag") <=> col("rf"), "left")
          .drop("rf")
          .select(col("l_returnflag"), col("sd"), col("co"), col("med"), col("n"))
          .orderBy("l_returnflag")
      },
      Some(
        s"""SELECT l_returnflag,
          |       round(stddev_samp(${Grid.finiteSql("l_extendedprice")}), 4) AS sd,
          |       round(corr(l_quantity, ${Grid.finiteSql("l_extendedprice")}), 6) AS co,
          |       round(quantile_cont(${Grid.gridSql("l_extendedprice", "100")}, 0.5)
          |             / 100.0, 4) AS med,
          |       count(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      )
    ),
    // Scale path for percentiles: approx_percentile (KLL-style sketch,
    // constant memory per group, mergeable map-side) — what you run at
    // 100 TB instead of the exact value-buffering percentile. Sketch ⇒
    // engine-specific values ⇒ rows-only check; the exact variant above
    // stays the oracle-checked baseline.
    Q(
      "agg_stats_approx",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(expr("approx_percentile(l_extendedprice, 0.5, 10000)"), 4).as("med_approx"),
            round(expr("approx_percentile(l_extendedprice, 0.99, 10000)"), 4).as("p99_approx"),
            approx_count_distinct(col("l_orderkey")).as("orders_approx"),
            count(lit(1)).as("n")
          )
          .orderBy("l_returnflag"),
      None
    ),
    // Mode (most frequent value) per group — argmax-of-counts with a
    // DETERMINISTIC tie-break (highest count, then highest key) via a
    // struct-max aggregate: two two-phase hash aggregates, no ranking
    // window, no per-group buffering — the shape that survives
    // high-cardinality groups at scale. (Built-in mode() is
    // tie-nondeterministic in both engines, so neither side uses it.)
    Q(
      "agg_mode",
      (s, d) => {
        val counts = events(s, d)
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("cnt"))
        counts
          .groupBy("event_type")
          .agg(
            max(struct(col("cnt"), col("user_id"))).as("m"),
            sum(col("cnt")).as("n_events")
          )
          .select(
            col("event_type"),
            col("m.user_id").as("mode_user"),
            col("m.cnt").as("mode_n"),
            col("n_events")
          )
          .orderBy("event_type")
      },
      Some(
        """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
          |           FROM events GROUP BY event_type, user_id),
          |r AS (SELECT *,
          |        row_number() OVER (PARTITION BY event_type
          |          ORDER BY cnt DESC, user_id DESC) AS rn,
          |        sum(cnt) OVER (PARTITION BY event_type) AS n_events
          |      FROM c)
          |SELECT event_type, user_id AS mode_user,
          |       CAST(cnt AS BIGINT) AS mode_n,
          |       CAST(n_events AS BIGINT) AS n_events
          |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin
      )
    ),
    // Bitwise scalar functions over BIGINT keys — mask/shift/xor are
    // the partitioner- and fingerprint-building primitives. Pure
    // integer ops, bit-identical everywhere — PROVIDED the shift stays
    // in range: Spark shiftleft silently wraps past bit 63 while DuckDB
    // << throws Out of Range, so the shifted operand is masked to 59
    // bits on BOTH sides (id << 4 then provably fits), making the
    // bit-identity claim true by construction instead of by corpus luck.
    Q(
      "fn_bitwise",
      (s, d) =>
        events(s, d)
          .select(
            col("event_id"),
            (col("user_id").bitwiseAND(lit(255L))).as("band"),
            (col("user_id").bitwiseOR(lit(4096L))).as("ored"),
            (col("user_id").bitwiseXOR(col("event_id"))).as("mixed"),
            shiftleft(col("user_id").bitwiseAND(lit(0x07FFFFFFFFFFFFFFL)), 4).as("shl"),
            shiftright(col("event_id"), 2).as("shr")
          )
          .orderBy("event_id"),
      Some(
        """SELECT event_id,
          |       user_id & 255 AS band,
          |       user_id | 4096 AS ored,
          |       xor(user_id, event_id) AS mixed,
          |       (user_id & 576460752303423487) << 4 AS shl,
          |       event_id >> 2 AS shr
          |FROM events ORDER BY event_id""".stripMargin
      )
    ),
    // Fixed-width histogram of the event values ($20 buckets) — the
    // OLAP distribution profile. Bucket ids come from exact integer
    // division of 2dp cents (a double divide-and-floor rests on ULP
    // headroom; this does not), and the per-bucket sum is an exact
    // BIGINT cents sum divided once — both engines agree bit-for-bit.
    // Two-phase hash aggregate, one shuffle on the bucket id.
    Q(
      "agg_histogram",
      (s, d) => {
        import graft.functions.MathFunctions.intDiv
        events(s, d)
          .withColumn("c", Grid.gridLong(col("value"), 100))
          .withColumn("bucket", intDiv(col("c"), lit(2000L)))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            (sum(col("c")).cast("double") / 100.0).as("sum_value")
          )
          .withColumn("lo", (col("bucket") * 20L).cast("double"))
          .select("bucket", "lo", "n", "sum_value")
          .orderBy("bucket")
      },
      Some(
        s"""WITH t AS (SELECT ${Grid.gridSql("value", "100")} AS c FROM events)
          |SELECT c // 2000 AS bucket,
          |       CAST((c // 2000) * 20 AS DOUBLE) AS lo,
          |       count(*) AS n,
          |       CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / 100.0 AS sum_value
          |FROM t GROUP BY c // 2000 ORDER BY bucket""".stripMargin
      )
    ),
    // Grouped exact Pearson correlation (value vs hour-of-day per event
    // type) — corr/covar as pure two-phase hash-agg work: all six
    // moments (n, Σx, Σy, Σx², Σy², Σxy) are EXACT BIGINT sums over the
    // 2dp-gridded cents and the 0-23 hour, so partial-agg order cannot
    // move a bit, and the one double expression at the end is evaluated
    // identically from identical integers in both engines (the
    // ts_rolling_corr contract, grouped form — built-in corr() sums
    // doubles in nondeterministic order and is NOT oracle-stable).
    // Shuffle = |groups| rows of moments; never the data.
    Q(
      "agg_corr",
      (s, d) => {
        // y-bearing moment sums run in DECIMAL(38,0) (the oracle's
        // BIGINT sums auto-widen to HUGEINT): sum(y*y) in LONG
        // overflows at ~1e12 rows of 1e4-cent values — ANSI would kill
        // the query exactly at the scale the exactness claim targets.
        // x is hour-of-day (0-23), so its pure-x moments stay LONG.
        val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val e = events(s, d)
          .select(
            col("event_type"),
            hour(col("ts")).cast("long").as("x"),
            Grid.gridLong(col("value"), 100).as("y")
          )
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y").cast(dec38)).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y").cast(dec38) * col("y")).as("syy"),
            sum(col("y").cast(dec38) * col("x")).as("sxy"),
            max(col("x")).as("xmx"), min(col("x")).as("xmn"),
            max(col("y")).as("ymx"), min(col("y")).as("ymn")
          )
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
        val sxxD = col("sxx").cast("double"); val syyD = col("syy").cast("double")
        val sxyD = col("sxy").cast("double")
        // degenerate-double guard (the ts_zscore / ts_rolling_corr
        // class): the exact max>min gates cannot stop the DOUBLE
        // moment from rounding to 0 past 2^53 — NULL, never
        // DIVIDE_BY_ZERO, on both engines
        val varX = nD * sxxD - sxD * sxD
        val varY = nD * syyD - syD * syD
        e.select(
          col("event_type"), col("n"),
          when(
            col("n") >= 2 && col("xmx") > col("xmn") && col("ymx") > col("ymn")
              && varX > 0.0 && varY > 0.0,
            round((nD * sxyD - sxD * syD) / (sqrt(varX) * sqrt(varY)), 6)
          ).as("corr")
        ).orderBy("event_type")
      },
      // + 0.0: the pinned ±0.0 normalization — DuckDB's round keeps
      // -0.0 (round(-1e-9, 6) = -0.0), Spark's returns +0.0
      Some(
        s"""WITH t AS (SELECT event_type,
          |             CAST(hour(ts) AS BIGINT) AS x,
          |             ${Grid.gridSql("value", "100")} AS y
          |           FROM events),
          |m AS (SELECT event_type, count(*) AS n,
          |        sum(x) AS sx, sum(y) AS sy,
          |        sum(x * x) AS sxx,
          |        sum(CAST(y AS HUGEINT) * y) AS syy,
          |        sum(CAST(y AS HUGEINT) * x) AS sxy,
          |        max(x) AS xmx, min(x) AS xmn, max(y) AS ymx, min(y) AS ymn
          |      FROM t GROUP BY event_type)
          |SELECT event_type, CAST(n AS BIGINT) AS n,
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
          |FROM m ORDER BY event_type""".stripMargin
      )
    ),
    // Collect aggregates — set-valued results serialized to a sorted
    // joined string so cross-engine comparison is representation-free.
    Q(
      "agg_collect",
      (s, d) =>
        orders(s, d)
          .groupBy("o_custkey")
          .agg(
            concat_ws(",", sort_array(collect_set(col("o_orderstatus")))).as("statuses"),
            count(lit(1)).as("n")
          )
          .orderBy("o_custkey"),
      Some(
        """SELECT o_custkey,
          |       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
          |       count(*) AS n
          |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
      )
    ),
    // Conditional scalar functions (CASE/nullif/coalesce/greatest/least).
    Q(
      "fn_cond",
      (s, d) =>
        lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            when(col("l_quantity") < 10, "low")
              .when(col("l_quantity") < 30, "mid")
              .otherwise("high").as("band"),
            coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
            greatest(col("l_tax"), col("l_discount")).as("g"),
            least(col("l_tax"), col("l_discount")).as("l")
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some(
        """SELECT l_orderkey, l_linenumber,
          |       CASE WHEN l_quantity < 10 THEN 'low'
          |            WHEN l_quantity < 30 THEN 'mid'
          |            ELSE 'high' END AS band,
          |       coalesce(nullif(l_returnflag, 'N'), 'none') AS flag,
          |       greatest(l_tax, l_discount) AS g,
          |       least(l_tax, l_discount) AS l
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
      )
    ),
    // Scalar string functions (key-normalization lineage, store.py:159-191).
    Q(
      "fn_string",
      (s, d) =>
        customer(s, d)
          .select(
            col("c_custkey"),
            upper(col("c_name")).as("uname"),
            lower(col("c_mktsegment")).as("lseg"),
            substring(col("c_name"), 1, 8).as("pre"),
            concat(col("c_mktsegment"), lit("-"), col("c_custkey").cast("string")).as("tag"),
            length(col("c_name")).cast("long").as("len"),
            regexp_replace(col("c_name"), "#", "@").as("repl"),
            regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits")
          )
          .orderBy("c_custkey"),
      Some(
        """SELECT c_custkey, upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
          |       substr(c_name, 1, 8) AS pre,
          |       concat(c_mktsegment, '-', CAST(c_custkey AS VARCHAR)) AS tag,
          |       CAST(length(c_name) AS BIGINT) AS len,
          |       replace(c_name, '#', '@') AS repl,
          |       regexp_extract(c_name, '([0-9]+)', 1) AS digits
          |FROM customer ORDER BY c_custkey""".stripMargin
      )
    ),
    // Scalar date/time functions (store.py:170,251-253 lineage).
    Q(
      "fn_date",
      (s, d) =>
        orders(s, d)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"),
            dayofmonth(col("o_orderdate")).cast("long").as("dom"),
            date_trunc("month", col("o_orderdate")).as("mstart"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due")
          )
          .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey,
          |       CAST(year(o_orderdate) AS BIGINT) AS yr,
          |       CAST(month(o_orderdate) AS BIGINT) AS mo,
          |       CAST(day(o_orderdate) AS BIGINT) AS dom,
          |       date_trunc('month', o_orderdate) AS mstart,
          |       CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since,
          |       o_orderdate + INTERVAL 30 DAY AS due
          |FROM orders ORDER BY o_orderkey""".stripMargin
      )
    ),
    // Scalar math functions; the TPC-H discounted-charge expression.
    Q(
      "fn_math",
      (s, d) =>
        lineitem(s, d)
          // sort FIRST, compute AFTER: the range exchange then carries
          // only the narrow input columns and the projection runs post-
          // shuffle (order preserved by the project) — the computed row
          // is ~1.5x wider than the input row, so projecting before the
          // sort would shuffle that width for no reason
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            col("l_discount"), col("l_tax"), col("l_quantity")
          )
          .orderBy("l_orderkey", "l_linenumber")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            // 6dp: inputs are 2dp-aligned so the exact product sits ON the
            // 1e-6 grid — grid-aligned rounding can't hit a half-boundary
            // (where Spark HALF_UP and DuckDB disagree).
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("charge"),
            round(abs(col("l_discount") - 0.05), 6).as("adisc"),
            // through finiteD: Spark's ceil(NaN) silently yields 0L
            // while DuckDB's CAST(ceil(nan)) aborts the query — the
            // grid pin (non-finite has no integer image -> NULL) is
            // the only semantics that is both correct and total
            ceil(Grid.finiteD(col("l_extendedprice"))).cast("long").as("cp"),
            floor(Grid.finiteD(col("l_extendedprice"))).cast("long").as("fp"),
            // explicit domain guards: Spark log()/sqrt() return NULL
            // (or NaN) outside their domain while DuckDB ln()/sqrt()
            // THROW and abort the whole oracle query — one refund line
            // (price <= -1) or negative quantity must cost one NULL
            // cell on both engines, not the query
            round(when(lit(1) + col("l_extendedprice") > 0,
              log(lit(1) + col("l_extendedprice"))), 6).as("lnp"),
            round(when(col("l_quantity") >= 0, sqrt(col("l_quantity"))), 6).as("sq"),
            round(pow(col("l_discount"), 2), 8).as("d2")
          ),
      Some(
        s"""SELECT l_orderkey, l_linenumber,
          |       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
          |       round(abs(l_discount - 0.05), 6) AS adisc,
          |       CAST(ceil(${Grid.finiteSql("l_extendedprice")}) AS BIGINT) AS cp,
          |       CAST(floor(${Grid.finiteSql("l_extendedprice")}) AS BIGINT) AS fp,
          |       round(CASE WHEN 1 + l_extendedprice > 0
          |                  THEN ln(1 + l_extendedprice) END, 6) AS lnp,
          |       round(CASE WHEN l_quantity >= 0 THEN sqrt(l_quantity) END, 6) AS sq,
          |       round(pow(l_discount, 2), 8) AS d2
          |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
      )
    ),
    // Higher-order array functions over the embedding column — all
    // codegen-friendly native expressions, double-precision accumulation
    // in strict element order (matches DuckDB's sequential list fns).
    Q(
      "fn_array",
      (s, d) => {
        val emb = transform(col("embedding"), x => x.cast("double"))
        embeddings(s, d)
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            // try_element_at: ANSI element_at THROWS on a zero-length
            // array while DuckDB embedding[1] yields NULL — an empty
            // (not NULL) vector must cost one NULL cell, not the query
            round(try_element_at(emb, lit(1)), 6).as("first_val"),
            round(aggregate(emb, lit(0.0), (a: Column, x: Column) => a + x), 4).as("vsum"),
            round(sqrt(aggregate(emb, lit(0.0), (a: Column, x: Column) => a + x * x)), 6).as("l2")
          )
          .orderBy("vec_id")
      },
      Some(
        // + 0.0 on the doubles: the pinned ±0.0 normalization (Spark
        // round() collapses -0.0, DuckDB's preserves it)
        """SELECT vec_id,
          |       CAST(len(embedding) AS BIGINT) AS dim,
          |       round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS first_val,
          |       round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 4) + 0.0 AS vsum,
          |       round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6) + 0.0 AS l2
          |FROM embeddings ORDER BY vec_id""".stripMargin
      )
    ),
    // JSON field extraction from the events.props string column.
    Q(
      "fn_json",
      // single-field extraction via from_json with the narrowest
      // schema, not get_json_object: both parse per row, but the
      // schema'd Jackson path is measurably cheaper through this
      // query's sort (BASELINE.md receipt, sf0.1 medians of 5:
      // from_json+sort 0.82 s vs get_json_object+sort 1.02 s —
      // closing the round-10 1.32x ratio to ~1.0x of baseline).
      // Semantics identical here: props is always {"k": <int>}
      // (missing/null keys would yield NULL on both paths).
      (s, d) =>
        events(s, d)
          .select(
            col("event_id"),
            from_json(col("props"), StructType(Seq(StructField("k", LongType))))
              .getField("k").as("k_val")
          )
          .orderBy("event_id"),
      Some(
        // json_valid + typed extract: DuckDB's json functions THROW on
        // malformed/empty JSON while Spark's from_json yields NULL —
        // the outer guard makes dirty props (VerifyFuzz: '',
        // '{not json!') NULL on both sides. The inner json_type check
        // mirrors Spark's TYPED parse: from_json(k: LONG) yields NULL
        // for a quoted numeral ('{"k":"7"}' is a STRING, not a number)
        // where a bare TRY_CAST of the string extract would coerce to
        // 7 — only JSON integer values cast. CASE branches evaluate
        // lazily in DuckDB, so json_type never sees invalid JSON.
        """SELECT event_id,
          |  CASE WHEN json_valid(props) THEN
          |    CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
          |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END
          |  END AS k_val
          |FROM events ORDER BY event_id""".stripMargin
      )
    ),
    // MapType surface: a per-user event_type → count profile built as a
    // REAL Spark map (map_from_entries over key-sorted entries), then
    // read back out through map_entries/size and serialized to a
    // canonical "k:v,..." string — DuckDB has no comparable MAP output
    // over parquet, so the oracle checks the serialized form, which is
    // representation-free and deterministic (entries key-sorted BEFORE
    // map construction; map_entries preserves insertion order). Two
    // two-phase hash aggs, |users|·|types| intermediate — bounded.
    Q(
      "fn_map",
      (s, d) => {
        // a NULL event_type is not a profile key (SQL maps reject NULL
        // keys outright) — excluded on both sides
        val m = events(s, d)
          .filter(col("event_type").isNotNull)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(
            map_from_entries(
              sort_array(collect_list(struct(col("event_type"), col("n"))))
            ).as("m")
          )
        m.select(
          col("user_id"),
          size(col("m")).cast("long").as("n_types"),
          array_join(
            transform(
              map_entries(col("m")),
              e => concat_ws(":", e.getField("key"), e.getField("value"))
            ),
            ","
          ).as("profile")
        ).orderBy("user_id")
      },
      Some(
        """WITH c AS (SELECT user_id, event_type, count(*) AS n
          |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
          |       string_agg(event_type || ':' || n, ',' ORDER BY event_type) AS profile
          |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin
      )
    )
  )
}
