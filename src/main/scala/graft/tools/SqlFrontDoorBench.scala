package graft.tools

import graft.sources.Store
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** SQL-front-door receipt: the DSv2 `graft` format must cost the same
  * as the Scala `store.query` path on a ranged read (both assemble the
  * same pruned parquet scan), and both must beat an unpruned full read
  * by roughly the pruning ratio. Fixture: the sf events table in a
  * DAY-bucketed store (~30 buckets), a 5-day range (~1/6 of the data).
  * Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.SqlFrontDoorBench /tmp/sqlfd"
  * Prints min-of-3 per path; the receipt lives in PLANS.md.
  */
object SqlFrontDoorBench {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/tmp/sqlfd")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    ToolUtil.wipeDir(baseDir)
    val store = Store.open(spark, baseDir,
      cols = Some(Seq(
        "EVENT_ID" -> LongType, "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType)),
      index = Some("TS"), bucket = Some("day"))
    // 50 disjoint copies (shifted event ids): enough volume that scan
    // cost dominates fixed overhead, so the pruning ratio is visible
    val ev = graft.Tables.events(spark, sfDir)
    val big = (0 until 50).map { i =>
      ev.withColumn("event_id",
        org.apache.spark.sql.functions.col("event_id") + i.toLong * 100000000L)
    }.reduce(_ unionByName _)
    store.write("EVENTS", big)
    val buckets = store.describe("EVENTS").files
    println(s"[sqlfd] ingested ${store("EVENTS").count()} rows, $buckets files (day buckets)")
    // the raw-parquet baselines read what an external reader would: the
    // current version dir the `_current` pointer names
    val rawDir = baseDir + "/items/EVENTS/" +
      store.versionsOf("EVENTS").find(_.current).get.id

    val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    spark.sql("DROP TABLE IF EXISTS sqlfd_events")
    spark.sql(
      s"CREATE TABLE sqlfd_events USING graft OPTIONS (path '$baseDir', item 'EVENTS')")

    def timed(label: String)(body: => Long): Unit = {
      val samples = (1 to 3).map { _ =>
        val s0 = System.nanoTime()
        val n = body
        ((System.nanoTime() - s0) / 1e9, n)
      }
      println(f"[sqlfd] $label%-28s min=${samples.map(_._1).min}%.3f s " +
        f"(rows=${samples.head._2}, samples=${samples.map(s => f"${s._1}%.3f").mkString(",")})")
    }

    // sum(VALUE), not count(*): ParquetScan pushes bare counts down to
    // row-group metadata (no data pages read), which would make every
    // path look footer-fast; a real aggregate forces the scan the
    // pruning exists to bound
    import org.apache.spark.sql.functions.{col, sum}
    timed("store.query ranged") {
      store.query("EVENTS", Some(t0), Some(t1))
        .agg(sum("VALUE")).collect()(0).getDouble(0).toLong
    }
    timed("DSv2 SQL ranged") {
      spark.sql(
        "SELECT sum(VALUE) FROM sqlfd_events " +
          "WHERE TS BETWEEN '2024-01-10' AND '2024-01-15'"
      ).collect()(0).getDouble(0).toLong
    }
    timed("DSv2 SQL full (no filter)") {
      spark.sql("SELECT sum(VALUE) FROM sqlfd_events").collect()(0).getDouble(0).toLong
    }
    timed("raw parquet ranged (no pruning)") {
      // what a user bypassing the store/table pays: every bucket dir
      // listed and scanned, range applied only at row-group stats
      spark.read.parquet(rawDir)
        .where(col("TS").between(t0, t1))
        .agg(sum("VALUE")).collect()(0).getDouble(0).toLong
    }
    // footer-answered aggregates: count(*)/min/max of the index on the
    // unfiltered table plan a LocalRelation fed by the footer sweep —
    // the FooterRangeAggregates rule of GraftExtensions, installed
    // above — O(files) metadata reads vs a cluster-wide column scan.
    // The raw-parquet comparison is the same question answered by
    // scanning (Spark's own parquet agg pushdown is off by default and
    // min/max(TS) must read the whole TS column).
    import org.apache.spark.sql.functions.{count, lit, max, min}
    timed("SQL count/min/max (footer rule)") {
      spark.sql("SELECT count(*), min(TS), max(TS) FROM sqlfd_events")
        .collect()(0).getLong(0)
    }
    timed("raw parquet count/min/max") {
      spark.read.parquet(rawDir)
        .agg(count(lit(1)), min("TS"), max("TS")).collect()(0).getLong(0)
    }
    timed("Store.describe (same footers)") {
      store.describe("EVENTS").rows
    }
    // runtime filtering (round-12): a join keyed on the index delivers
    // the dim side's values to the scan at runtime (DSv2 dynamic
    // partition pruning) — the graft table scans only the joined days'
    // buckets, while raw parquet (no hive partitioning, nothing to
    // prune) scans everything. The dim must be a real source: a local
    // relation's selective filter constant-folds away and DPP never
    // fires.
    val dimDir = baseDir + "/.dpp-dim"
    store.query("EVENTS", Some(t0), Some(t1))
      .select(col("TS").as("D")).distinct().limit(3)
      .withColumn("TAG", org.apache.spark.sql.functions.lit("k"))
      .write.mode("overwrite").parquet(dimDir)
    def dim = spark.read.parquet(dimDir).where(col("TAG").isin("k"))
    timed("DSv2 dim join (runtime DPP)") {
      spark.table("sqlfd_events").join(dim, col("TS") === col("D"))
        .agg(sum("VALUE")).collect()(0).getDouble(0).toLong
    }
    timed("raw parquet dim join") {
      spark.read.parquet(rawDir)
        .join(dim, col("TS") === col("D"))
        .agg(sum("VALUE")).collect()(0).getDouble(0).toLong
    }
    // ranged footer aggregates (round-12, FooterRangeAggregates rule):
    // the daily-report shape — a bucket-aligned half-open range where
    // every file classifies fully in/out, answered from footers with
    // NO scan; raw parquet must scan the range
    timed("DSv2 ranged count (rule, footers)") {
      spark.sql(
        "SELECT count(*), min(TS), max(TS) FROM sqlfd_events " +
          "WHERE TS >= '2024-01-10' AND TS < '2024-01-15'"
      ).collect()(0).getLong(0)
    }
    timed("raw parquet ranged count") {
      spark.read.parquet(rawDir)
        .where(col("TS") >= "2024-01-10" && col("TS") < "2024-01-15")
        .agg(count(lit(1)), min("TS"), max("TS")).collect()(0).getLong(0)
    }
    // grouped footer aggregates: the daily row profile of the whole
    // item — every day-bucketed file lives inside one date_trunc('DAY')
    // group, so the profile is a footer sweep; raw parquet shuffles the
    // corpus
    timed("DSv2 daily profile (rule, footers)") {
      spark.sql(
        "SELECT date_trunc('DAY', TS) AS d, count(*) AS c " +
          "FROM sqlfd_events GROUP BY 1").collect().length.toLong
    }
    timed("raw parquet daily profile") {
      spark.read.parquet(rawDir)
        .groupBy(org.apache.spark.sql.functions.date_trunc("DAY", col("TS")))
        .count().collect().length.toLong
    }
    // topN pushdown (round-12): "the newest k rows" — the flagship
    // time-series probe. The pushed plan reads only the bucket suffix
    // whose footer row counts cover k; raw parquet TakeOrdereds the
    // whole item.
    timed("DSv2 ORDER BY TS DESC LIMIT 100") {
      spark.sql("SELECT * FROM sqlfd_events ORDER BY TS DESC LIMIT 100")
        .collect().length.toLong
    }
    timed("raw parquet newest-100") {
      spark.read.parquet(rawDir)
        .orderBy(col("TS").desc).limit(100).collect().length.toLong
    }
    spark.sql("DROP TABLE IF EXISTS sqlfd_events")
    spark.stop()
  }
}
