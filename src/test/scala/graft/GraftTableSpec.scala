package graft

import graft.sources.{SchemaError, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The `graft` DataSource V2 table provider: Store items readable as
  * tables from SQL/any binding, with index-range predicates translated
  * into the SAME bucket-directory pruning `store.query` applies — the
  * pruning is asserted on the PLAN (which directories the scan's file
  * index holds), not inferred from timings, and results are checked
  * bit-equal to the Scala API.
  */
class GraftTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._
  import TestSpark.{bucketDirNames, parquetScans}

  def bars(n: Int, seed: Long = 7): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val t0 = java.time.LocalDate.parse("2015-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    var px = 100.0
    (0 until n).map { i =>
      px = math.max(1.0, px + rnd.nextGaussian())
      (Timestamp.from(t0.plusDays(i).toInstant), px, px + 1, px - 1, px, 1000L + i)
    }.toDF("date", "open", "high", "low", "close", "volume")
  }

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2").toString

  test("range read prunes to exactly the matching bucket dirs, pushes row-group filters, and is bit-equal to store.query") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 2015-01-01 .. 2015-04-10 → 4 month buckets
    val t0 = "2015-02-01 00:00:00"
    val t1 = "2015-03-01 00:00:00"

    val df = spark.read.format("graft").option("item", "msft").load(dir)
      .where($"DATE" >= t0 && $"DATE" <= t1)
    // bit-equality with the Scala API (same rows, same values)
    val api = s.query("MSFT", Some(Timestamp.valueOf(t0)), Some(Timestamp.valueOf(t1)))
    assert(df.count() == 29)
    assert(df.exceptAll(api).count() == 0 && api.exceptAll(df).count() == 0)

    // plan-asserted pruning: the scan's files all lie in the two bucket
    // dirs the range touches — 2015-01 and 2015-04 were never listed
    // for files, let alone read
    val scans = parquetScans(df)
    assert(scans.size == 1, s"expected one parquet scan, got ${scans.size}")
    assert(bucketDirNames(scans.head) ==
      Set("__bucket=2015-02", "__bucket=2015-03"))
    // and the same range rides into parquet row-group pushdown
    val pushedStr = scans.head.pushedFilters.mkString(";")
    assert(pushedStr.contains("GreaterThanOrEqual(DATE") &&
      pushedStr.contains("LessThanOrEqual(DATE"), s"pushed: $pushedStr")
  }

  test("SQL front door: CREATE TABLE USING graft + WHERE BETWEEN prunes dirs and prunes columns") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    spark.sql("DROP TABLE IF EXISTS graft_msft")
    spark.sql(
      s"CREATE TABLE graft_msft USING graft OPTIONS (path '$dir', item 'MSFT')")
    try {
      val df = spark.sql(
        "SELECT OPEN, CLOSE FROM graft_msft " +
          "WHERE DATE BETWEEN '2015-02-01' AND '2015-03-01'")
      val api = s.query("MSFT",
        Some(Timestamp.valueOf("2015-02-01 00:00:00")),
        Some(Timestamp.valueOf("2015-03-01 00:00:00")),
        columns = Some(Seq("OPEN", "CLOSE")))
      assert(df.exceptAll(api).count() == 0 && api.exceptAll(df).count() == 0)
      val scans = parquetScans(df)
      assert(scans.size == 1)
      assert(bucketDirNames(scans.head) ==
        Set("__bucket=2015-02", "__bucket=2015-03"))
      // column pruning reaches the parquet ReadSchema: the residual
      // filter needs DATE, the projection needs OPEN/CLOSE — the other
      // three columns are never decoded
      val read = scans.head.readDataSchema.fieldNames.toSet
      assert(read == Set("DATE", "OPEN", "CLOSE"), s"ReadSchema: $read")

      // an unbounded scan reads every bucket (and nothing breaks)
      assert(spark.sql("SELECT count(*) FROM graft_msft").as[Long].head() == 100)
    } finally spark.sql("DROP TABLE IF EXISTS graft_msft")
  }

  test("strict bounds, equality, and half-open ranges prune correctly") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    val base = spark.read.format("graft").option("item", "MSFT").load(dir)

    // strict > on a mid-bucket instant: bucket containing it must stay
    val strict = base.where($"DATE" > "2015-03-15 00:00:00")
    assert(strict.count() ==
      s.query("MSFT").where($"DATE" > "2015-03-15 00:00:00").count())
    assert(bucketDirNames(parquetScans(strict).head) ==
      Set("__bucket=2015-03", "__bucket=2015-04"))

    // equality pins one bucket
    val eq = base.where($"DATE" === "2015-02-10 00:00:00")
    assert(eq.count() == 1)
    assert(bucketDirNames(parquetScans(eq).head) == Set("__bucket=2015-02"))

    // a range entirely outside the data is an empty relation, not an error
    val none = base.where($"DATE" >= "2030-01-01")
    assert(none.count() == 0)
  }

  test("unbucketed stores read through the provider; row-group pushdown still applies") {
    val dir = tmpDir()
    val s = Store.open(spark, dir) // unbucketed
    s.write("MSFT", bars(50))
    val df = spark.read.format("graft").option("item", "MSFT").load(dir)
      .where($"DATE" <= "2015-01-10 00:00:00")
    assert(df.count() == 10)
    val api = s.query("MSFT", None, Some(Timestamp.valueOf("2015-01-10 00:00:00")))
    assert(df.exceptAll(api).count() == 0 && api.exceptAll(df).count() == 0)
    assert(parquetScans(df).head.pushedFilters.mkString.contains("LessThanOrEqual(DATE"))
  }

  test("INSERT INTO carries the store's += semantics: idempotent append, creation on first insert, OVERWRITE refused") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(10))
    spark.sql("DROP TABLE IF EXISTS graft_w")
    spark.sql(s"CREATE TABLE graft_w USING graft OPTIONS (path '$dir', item 'MSFT')")
    try {
      spark.sql(
        "INSERT INTO graft_w VALUES " +
          "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100), " +
          "(TIMESTAMP'2015-05-02 00:00:00', 1.1, 2.1, 0.6, 1.6, 101)")
      assert(s("MSFT").count() == 12, "insert must append through the store")
      // re-running the SAME insert appends zero rows (appendNewOnly's
      // anti-join): the reference's += contract, not blind file appends
      spark.sql(
        "INSERT INTO graft_w VALUES " +
          "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100), " +
          "(TIMESTAMP'2015-05-02 00:00:00', 1.1, 2.1, 0.6, 1.6, 101)")
      assert(s("MSFT").count() == 12, "duplicate insert must dedup to a no-op")
      // and the rows really landed in the right bucket, visible to reads
      assert(spark.sql(
        "SELECT count(*) FROM graft_w WHERE DATE >= '2015-05-01'").as[Long].head() == 2)
      // destructive rewrite stays behind the Store API: the table
      // declares no TRUNCATE capability, so Spark refuses INSERT
      // OVERWRITE at ANALYSIS ("does not support truncate") — it never
      // even reaches the provider
      val e = intercept[Exception] {
        spark.sql("INSERT OVERWRITE graft_w VALUES (TIMESTAMP'2015-01-01', 1, 1, 1, 1, 1)")
      }
      assert(e.getMessage.toLowerCase.contains("not supported"), s"wrong error: ${e.getMessage}")
      assert(s("MSFT").count() == 12)

      // first INSERT into a not-yet-existing item CREATES it (the
      // ingestStream first-batch contract)
      spark.sql("DROP TABLE IF EXISTS graft_w2")
      spark.sql(s"CREATE TABLE graft_w2 USING graft OPTIONS (path '$dir', item 'FRESH')")
      spark.sql("INSERT INTO graft_w2 VALUES (TIMESTAMP'2016-01-01 00:00:00', 1, 2, 0, 1, 7)")
      assert(s("FRESH").count() == 1)
      spark.sql("DROP TABLE IF EXISTS graft_w2")

      // the writerLease table option routes SQL INSERTs through the
      // cross-JVM lease: the insert claims and releases a lease slot
      spark.sql("DROP TABLE IF EXISTS graft_w3")
      spark.sql(s"CREATE TABLE graft_w3 USING graft " +
        s"OPTIONS (path '$dir', item 'MSFT', writerLease 'true')")
      spark.sql("INSERT INTO graft_w3 VALUES (TIMESTAMP'2015-06-01 00:00:00', 3, 4, 2, 3, 200)")
      assert(s("MSFT").count() == 13)
      val (fs, base) = {
        val hp = new org.apache.hadoop.fs.Path(dir)
        (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
      }
      val leaseDir = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(base, ".lease"), "MSFT")
      assert(Store.leaseState(fs, leaseDir).exists(_._1 == "-"),
        "leased INSERT must have claimed and released a lease slot")
      spark.sql("DROP TABLE IF EXISTS graft_w3")
    } finally spark.sql("DROP TABLE IF EXISTS graft_w")
  }

  test("INSERT on an INT96 session pins MICROS once (warned), never a racy set/restore") {
    // round-10 review (low) asked the silent session repoint to become
    // visible; a first cut used scoped set/restore, but a restore
    // racing a concurrent write (another INSERT, a resident
    // ingestStream) can land stat-less INT96 files AFTER the per-write
    // guard passed — silent data degradation. The safe shape is the
    // Store.open shape: pin once, session-wide, with a logged warning
    // when the conf actually changes.
    val dir = tmpDir()
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(3))
    spark.sql("DROP TABLE IF EXISTS graft_scope")
    spark.sql(s"CREATE TABLE graft_scope USING graft OPTIONS (path '$dir', item 'MSFT')")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      spark.sql(
        "INSERT INTO graft_scope VALUES (TIMESTAMP'2015-07-01 00:00:00', 1, 2, 0, 1, 5)")
      assert(s("MSFT").count() == 4, "insert must append through the store")
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS",
        "INSERT must pin the session to MICROS (a restore would race concurrent writes)")
      // and the inserted file really carries INT64-micros stats: the
      // store's range pruning depends on it
      val inserted = s.query("MSFT",
        Some(Timestamp.valueOf("2015-07-01 00:00:00")),
        Some(Timestamp.valueOf("2015-07-01 00:00:00")))
      assert(inserted.count() == 1)
    } finally {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.sql("DROP TABLE IF EXISTS graft_scope")
    }
  }

  test("reads are listing-fresh: rows appended AFTER a first read appear in the next") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(50))
    val df = spark.read.format("graft").option("item", "MSFT").load(dir)
    assert(df.count() == 50)
    // append lands new files in existing buckets AND a new bucket; the
    // SAME DataFrame must see them on its next action — a cached file
    // listing would silently drop the newest rows on an append-able item
    s.appendNewOnly("MSFT", bars(80))
    assert(df.count() == 80, "post-append rows missing: stale file listing")
  }

  test("DSv2 equals store.query over randomized inclusive ranges, bucketed AND flat") {
    // the two fixed-range tests above pin the plan shape; this pins the
    // SEMANTICS across the range space: seeded random bounds (inside,
    // straddling, outside, inverted, exact row timestamps) plus the
    // half-open and unbounded edges, each compared bit-exactly against
    // the Scala API on a bucketed and an unbucketed store
    val rnd = new scala.util.Random(42)
    val data = bars(200) // 2015-01-01 .. 2015-07-19
    val dataTs = data.collect().map(_.getTimestamp(0)).sorted
    for (bucketed <- Seq(true, false)) {
      val dir = tmpDir()
      val s = Store.open(spark, dir,
        bucket = if (bucketed) Some("month") else None)
      s.write("MSFT", data)
      val df = spark.read.format("graft").option("item", "MSFT").load(dir)
      def randTs(): Timestamp = {
        // a window wider than the data so bounds land outside it too
        val lo = Timestamp.valueOf("2014-11-01 00:00:00").getTime
        val hi = Timestamp.valueOf("2015-09-01 00:00:00").getTime
        new Timestamp(lo + (rnd.nextDouble() * (hi - lo)).toLong)
      }
      val ranges: Seq[(Option[Timestamp], Option[Timestamp])] =
        (1 to 8).map(_ => (Some(randTs()), Some(randTs()))) ++ Seq(
          (Some(randTs()), None), // half-open both ways
          (None, Some(randTs())),
          (None, None), // unbounded
          (Some(dataTs(50)), Some(dataTs(50))), // exact row ts: equality edge
          (Some(dataTs(10)), Some(dataTs(150))) // exact boundaries inclusive
        )
      ranges.foreach { case (lo, hi) =>
        val viaSql = (lo, hi) match {
          case (Some(a), Some(b)) => df.where($"DATE" >= a && $"DATE" <= b)
          case (Some(a), None) => df.where($"DATE" >= a)
          case (None, Some(b)) => df.where($"DATE" <= b)
          case (None, None) => df
        }
        val viaApi = s.query("MSFT", lo, hi)
        val label = s"bucketed=$bucketed range=($lo, $hi)"
        assert(viaSql.count() == viaApi.count(), label)
        assert(viaSql.exceptAll(viaApi).count() == 0 &&
          viaApi.exceptAll(viaSql).count() == 0, s"row mismatch at $label")
      }
    }
  }

  test("failure modes: missing store, missing item, tz drift") {
    // a path with no store must fail fast, not materialize an empty one
    val empty = tmpDir()
    intercept[SchemaError] {
      spark.read.format("graft").option("item", "X").load(empty + "/nope")
    }
    assert(!new java.io.File(empty + "/nope").exists(),
      "a read attempt must not create a store")

    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(10))
    // unknown item: fails at scan planning with the store's own error
    val df = spark.read.format("graft").option("item", "NOPE").load(dir)
    intercept[Exception] { df.collect() }

    // bucketed reads under a drifted session timezone stay CORRECT —
    // the provider renders bucket bounds under the PERSISTED store tz
    // (bucketLabel) and pushes instant predicates, so pruning is
    // timezone-independent. NOTE the predicate uses a TIMESTAMP
    // literal: a bare string bound would itself re-parse under the
    // drifted session tz (standard SQL semantics, a different
    // instant), which is the USER asking a different question — the
    // store answers both correctly.
    val bound = Timestamp.valueOf("2015-01-05 00:00:00")
    val ok = spark.read.format("graft").option("item", "MSFT").load(dir)
      .where($"DATE" >= bound)
    assert(ok.count() == 6)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assert(ok.count() == 6, "drifted session must read the same instants")
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert(ok.count() == 6, "aligned session reads again")
  }

  /** Plan shape of a footer-answered aggregate: the "scan" is a
    * driver-local row (LocalTableScan), no file scan anywhere.
    */
  def assertFooterAnswered(df: DataFrame): Unit = {
    df.collect()
    // AQE hides children inside query stages — walk them explicitly
    def deep(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: deep(q.plan)
      case _ => p +: p.children.flatMap(deep)
    }
    val nodes = deep(df.queryExecution.executedPlan)
    val fileScans = nodes.collect { case b: BatchScanExec => b }
    assert(fileScans.isEmpty,
      s"aggregate must be footer-answered, found file scan(s):\n${nodes.head}")
    val locals = nodes.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }
    assert(locals.nonEmpty, s"expected a LocalTableScan leaf, got:\n${nodes.head}")
  }

  test("aggregate pushdown: count(*)/min/max of the index answered from parquet footers, no file scan") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 4 month buckets, 4 chunk files
    val t = spark.read.format("graft").option("item", "MSFT").load(dir)
    t.createOrReplaceTempView("agg_msft")

    val one = spark.sql(
      "SELECT count(*) AS c, min(DATE) AS lo, max(DATE) AS hi FROM agg_msft")
    assertFooterAnswered(one)
    val row = one.collect()(0)
    val st = s.describe("MSFT")
    assert(row.getLong(0) == 100L && st.rows == 100L)
    assert(row.getTimestamp(1) == st.minIndex.get &&
      row.getTimestamp(1) == Timestamp.valueOf("2015-01-01 00:00:00"))
    assert(row.getTimestamp(2) == st.maxIndex.get &&
      row.getTimestamp(2) == Timestamp.valueOf("2015-04-10 00:00:00"))

    // count(col) ignores nulls — footer null counts make it exact
    val sparse = bars(20).withColumn("open",
      org.apache.spark.sql.functions.when($"volume" % 3 === 0, null)
        .otherwise($"open"))
    s.write("SPARSE", sparse)
    val t2 = spark.read.format("graft").option("item", "SPARSE").load(dir)
    t2.createOrReplaceTempView("agg_sparse")
    val c2 = spark.sql("SELECT count(OPEN) AS c FROM agg_sparse")
    assertFooterAnswered(c2)
    val expected = 20L - sparse.where($"open".isNull).count()
    assert(c2.collect()(0).getLong(0) == expected, s"count(OPEN) != $expected")

    // min/max of any INTEGER-FAMILY column (not just the index) is
    // footer-answered: VOLUME is long (INT64 stats, exact by
    // construction)
    val mmv = spark.sql(
      "SELECT min(VOLUME) AS lo, max(VOLUME) AS hi, count(*) AS c FROM agg_msft")
    assertFooterAnswered(mmv)
    val vr = mmv.collect()(0)
    assert(vr.getLong(0) == 1000L && vr.getLong(1) == 1099L && vr.getLong(2) == 100L)

    // ...and a column that is entirely NULL answers NULL exactly (the
    // all-null proof: every group records numNulls == rowCount)
    val allNull = bars(10).withColumn("volume",
      org.apache.spark.sql.functions.lit(null).cast("long"))
    s.write("NULLVOL", allNull)
    spark.read.format("graft").option("item", "NULLVOL").load(dir)
      .createOrReplaceTempView("agg_nullvol")
    val nv = spark.sql(
      "SELECT min(VOLUME) AS lo, count(VOLUME) AS c FROM agg_nullvol")
    assertFooterAnswered(nv)
    val nvr = nv.collect()(0)
    assert(nvr.isNullAt(0) && nvr.getLong(1) == 0L)

    // an EMPTY item still answers: count 0, min/max NULL
    s.write("EMPTY", bars(0))
    val t3 = spark.read.format("graft").option("item", "EMPTY").load(dir)
    t3.createOrReplaceTempView("agg_empty")
    val e = spark.sql("SELECT count(*) AS c, min(DATE) AS lo FROM agg_empty")
    assertFooterAnswered(e)
    val er = e.collect()(0)
    assert(er.getLong(0) == 0L && er.isNullAt(1))
  }

  test("ranged footer aggregates: count/min/max over a bucket-aligned index range plan NO scan") {
    // graft.plans.FooterRangeAggregates — the daily-report shape. The
    // scan declares every filter residual, so a WHERE always leaves a
    // Filter above it; the optimizer rule sees that Filter and answers
    // from the bucket-pruned files' footers.
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 2015-01(31) 02(28) 03(31) 04(10)
    spark.read.format("graft").option("item", "MSFT").load(dir)
      .createOrReplaceTempView("ragg_msft")

    // half-open month range: every file fully in or out → exact, no scan
    val feb = spark.sql(
      "SELECT count(*) AS c, min(DATE) AS lo, max(DATE) AS hi, " +
        "min(VOLUME) AS vmin, max(VOLUME) AS vmax, count(OPEN) AS co " +
        "FROM ragg_msft WHERE DATE >= '2015-02-01' AND DATE < '2015-03-01'")
    assertFooterAnswered(feb)
    val r = feb.collect()(0)
    assert(r.getLong(0) == 28L)
    assert(r.getTimestamp(1) == Timestamp.valueOf("2015-02-01 00:00:00"))
    assert(r.getTimestamp(2) == Timestamp.valueOf("2015-02-28 00:00:00"))
    assert(r.getLong(3) == 1031L && r.getLong(4) == 1058L && r.getLong(5) == 28L)

    // AQE hides physical scans inside query stages — assert refusal on
    // the OPTIMIZED plan (same caveat as the refusal suite below)
    def scans(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.nonEmpty
    }

    // inclusive hi lands ON the next bucket's first instant → that file
    // straddles → the whole aggregation refuses and scans, still exact
    val between = spark.sql(
      "SELECT count(*) AS c FROM ragg_msft " +
        "WHERE DATE BETWEEN '2015-02-01' AND '2015-03-01'")
    assert(scans(between), "a straddling bound must refuse to a scan")
    assert(between.collect()(0).getLong(0) == 29L)

    // strict lower bound equal to a file's min → straddle → scan, exact
    val strict = spark.sql(
      "SELECT count(*) AS c FROM ragg_msft " +
        "WHERE DATE > '2015-02-01' AND DATE < '2015-03-01'")
    assert(scans(strict))
    assert(strict.collect()(0).getLong(0) == 27L)

    // a non-index conjunct is not footer-provable → scan, exact
    val nonIdx = spark.sql(
      "SELECT count(*) AS c FROM ragg_msft " +
        "WHERE DATE >= '2015-02-01' AND DATE < '2015-03-01' AND VOLUME > 1040")
    assert(scans(nonIdx))
    assert(nonIdx.collect()(0).getLong(0) == 18L)

    // an empty slice is exact: count 0, min NULL — still no scan
    val empty = spark.sql(
      "SELECT count(*) AS c, min(DATE) AS lo FROM ragg_msft " +
        "WHERE DATE >= '2030-01-01'")
    assertFooterAnswered(empty)
    val er = empty.collect()(0)
    assert(er.getLong(0) == 0L && er.isNullAt(1))

    // count(col) honors footer null counts within the slice
    val sparse = bars(62).withColumn("open",
      org.apache.spark.sql.functions.when($"volume" % 3 === 0, null)
        .otherwise($"open"))
    s.write("RSPARSE", sparse)
    spark.read.format("graft").option("item", "RSPARSE").load(dir)
      .createOrReplaceTempView("ragg_sparse")
    val co = spark.sql(
      "SELECT count(OPEN) AS c FROM ragg_sparse " +
        "WHERE DATE >= '2015-02-01' AND DATE < '2015-03-01'")
    assertFooterAnswered(co)
    val expect = sparse.where(
      $"date" >= "2015-02-01" && $"date" < "2015-03-01" && $"open".isNotNull)
      .count()
    assert(co.collect()(0).getLong(0) == expect)
  }

  test("grouped footer aggregates: GROUP BY date_trunc answers the time-series profile from footers") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 2015-01(31) 02(28) 03(31) 04(10)
    spark.read.format("graft").option("item", "MSFT").load(dir)
      .createOrReplaceTempView("gagg_msft")

    // month-trunc over month buckets: every file inside one group
    val prof = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c, " +
        "min(DATE) AS lo, max(VOLUME) AS vmax " +
        "FROM gagg_msft GROUP BY 1 ORDER BY mo")
    assertFooterAnswered(prof)
    val rows = prof.collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(31L, 28L, 31L, 10L))
    assert(rows(1).getTimestamp(2) == Timestamp.valueOf("2015-02-01 00:00:00"))
    assert(rows(3).getLong(3) == 1099L)

    // filter + group compose: bounds absorb, then files group
    val windowed = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c FROM gagg_msft " +
        "WHERE DATE >= '2015-02-01' AND DATE < '2015-04-01' GROUP BY 1 ORDER BY mo")
    assertFooterAnswered(windowed)
    assert(windowed.collect().map(_.getLong(1)).toSeq == Seq(28L, 31L))

    def scans(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.nonEmpty
    }
    // day-trunc over MONTH buckets: files straddle day boundaries →
    // refuse → scan, exact (100 daily groups of 1)
    val daily = spark.sql(
      "SELECT date_trunc('DAY', DATE) AS d, count(*) AS c FROM gagg_msft GROUP BY 1")
    assert(scans(daily), "a group boundary inside a file must refuse to a scan")
    assert(daily.collect().length == 100)

    // ...but over DAY buckets the same profile is footer-answered, and
    // a coarser trunc (MONTH over day files) is too
    val dir2 = tmpDir()
    val s2 = Store.open(spark, dir2, bucket = Some("day"))
    s2.write("AAPL", bars(40, seed = 5))
    spark.read.format("graft").option("item", "AAPL").load(dir2)
      .createOrReplaceTempView("gagg_aapl")
    val perDay = spark.sql(
      "SELECT date_trunc('DAY', DATE) AS d, count(*) AS c FROM gagg_aapl GROUP BY 1")
    assertFooterAnswered(perDay)
    assert(perDay.collect().length == 40)
    val perMonth = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c " +
        "FROM gagg_aapl GROUP BY 1 ORDER BY mo")
    assertFooterAnswered(perMonth)
    assert(perMonth.collect().map(_.getLong(1)).toSeq == Seq(31L, 9L))

    // timezone drift: date_trunc groups under the SESSION tz while the
    // files bucket under the store tz. The rule evaluates the plan's
    // own TruncTimestamp against footer min/max, so tz semantics are
    // exact by construction on BOTH sides of the decision:
    // the decision is value-driven, not timezone-allergic: keys come
    // from evaluating the plan's OWN TruncTimestamp against footer
    // min/max, so the same files answer under one session tz and
    // refuse under another, exactly as the data demands
    def tzCase(tz: String, answered: Boolean): Unit = {
      spark.conf.set("spark.sql.session.timeZone", tz)
      try {
        val q = spark.sql(
          "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c " +
            "FROM gagg_msft GROUP BY 1")
        if (answered) assertFooterAnswered(q)
        else assert(scans(q), s"$tz months cut through the files — must scan")
        val api = s("MSFT")
          .groupBy(org.apache.spark.sql.functions.date_trunc("MONTH", $"DATE"))
          .count().collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
        val got = q.collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
        assert(got == api, s"$tz grouped answer must match the Scala API")
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    // Sydney (+11): UTC midnights Jan 1..31 are all Sydney January —
    // files stay group-constant → footer-answered with SYDNEY keys
    tzCase("Australia/Sydney", answered = true)
    // Los Angeles (-8): UTC Jan 1 00:00 is LA Dec 31 — every monthly
    // file straddles an LA month boundary → refuse → scan, exact
    tzCase("America/Los_Angeles", answered = false)
  }

  test("grouped footer aggregates: GROUP BY (key, date_trunc) answers when files are key-homogeneous, refuses when mixed") {
    import org.apache.spark.sql.functions.expr
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    // the key varies at the TIME-BUCKET grain (an ingest-version /
    // source-id shape): every file is then key-homogeneous — the
    // store's append compacts per bucket, so sub-bucket key variety
    // cannot survive in separate files (verified: appends rewrite the
    // bucket into one mixed file, which correctly refuses below)
    s.write("KH", bars(100).withColumn("volume",
      expr("CASE month(date) WHEN 1 THEN 7L WHEN 2 THEN 8L WHEN 3 THEN 9L END")))
    spark.read.format("graft").option("item", "KH").load(dir)
      .createOrReplaceTempView("kh_t")

    val q = spark.sql(
      "SELECT VOLUME AS v, date_trunc('MONTH', DATE) AS mo, count(*) AS c, " +
        "min(DATE) AS lo FROM kh_t GROUP BY 1, 2")
    assertFooterAnswered(q)
    val got = q.collect()
      .map(r => ((if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getTimestamp(1)), r.getLong(2))).toMap
    val jan = Timestamp.valueOf("2015-01-01 00:00:00")
    val feb = Timestamp.valueOf("2015-02-01 00:00:00")
    val apr = Timestamp.valueOf("2015-04-01 00:00:00")
    assert(got((Some(7L), jan)) == 31L && got((Some(8L), feb)) == 28L)
    assert(got((None, apr)) == 10L, "NULL extra-key group must be emitted")
    assert(got.size == 4, s"one (volume, month) group per month, got ${got.size}")
    // bit-equal to the ordinary scan's answer
    val api = s("KH")
      .groupBy(org.apache.spark.sql.functions.date_trunc("MONTH", $"DATE").as("mo"), $"VOLUME")
      .count().collect()
      .map(r => ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getTimestamp(0)), r.getLong(2))).toMap
    assert(got == api)

    // trunc in the FIRST position works too, and composes with a range
    val flipped = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, VOLUME AS v, count(*) AS c " +
        "FROM kh_t WHERE DATE >= '2015-02-01' GROUP BY 1, 2")
    assertFooterAnswered(flipped)
    assert(flipped.collect().map(_.getLong(2)).sum ==
      s("KH").where($"DATE" >= "2015-02-01").count())

    // a store whose files MIX key values must refuse to the scan (and
    // stay exact)
    val dir2 = tmpDir()
    val s2 = Store.open(spark, dir2, bucket = Some("month"))
    s2.write("MX", bars(60)) // volume = 1000+i: heterogeneous per file
    spark.read.format("graft").option("item", "MX").load(dir2)
      .createOrReplaceTempView("mx_t")
    val mixed = spark.sql(
      "SELECT VOLUME % 2 AS v, date_trunc('MONTH', DATE) AS mo, count(*) AS c " +
        "FROM mx_t GROUP BY 1, 2")
    // (an expression key never matches the pass-through shape at all)
    val plainMixed = spark.sql(
      "SELECT VOLUME AS v, date_trunc('MONTH', DATE) AS mo, count(*) AS c " +
        "FROM mx_t GROUP BY 1, 2")
    def scans(df: DataFrame): Boolean = {
      df.collect()
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.nonEmpty
    }
    assert(scans(mixed) && scans(plainMixed),
      "key-heterogeneous files must refuse the footer answer")
    assert(plainMixed.collect().length == 60) // every volume distinct
  }

  test("grouped footer aggregates: NULL-index rows form the NULL group unfiltered and vanish under WHERE") {
    import org.apache.spark.sql.functions.{count, date_trunc, lit, min}
    // null-index rows land in __bucket=__HIVE_DEFAULT_PARTITION__ files
    // that are provably ALL-null-index — an unfiltered GROUP BY
    // date_trunc must emit them as SQL's NULL group (round-13 ADVICE:
    // the footer answer used to silently drop it)
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    val nullRows = bars(7, seed = 11)
      .withColumn("date", lit(null).cast("timestamp"))
      .withColumn("volume", $"volume" + 9000L) // distinguishable stats
    s.write("NG", bars(60).unionByName(nullRows))
    spark.read.format("graft").option("item", "NG").load(dir)
      .createOrReplaceTempView("gagg_ng")

    val q = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c, " +
        "count(DATE) AS cd, min(VOLUME) AS v FROM gagg_ng GROUP BY 1")
    assertFooterAnswered(q)
    val got = q.collect()
      .map(r => (Option(r.getTimestamp(0)), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(None) == ((7L, 0L, 10000L))) // count(DATE)=0, own min(VOLUME)
    assert(got(Some(Timestamp.valueOf("2015-01-01 00:00:00")))._1 == 31L)
    assert(got(Some(Timestamp.valueOf("2015-02-01 00:00:00")))._1 == 28L)
    assert(got(Some(Timestamp.valueOf("2015-03-01 00:00:00")))._1 == 1L)
    // bit-equal to the ordinary scan's answer for the same aggregation
    val api = s("NG").groupBy(date_trunc("MONTH", $"DATE").as("mo"))
      .agg(count(lit(1)).as("c"), count($"DATE").as("cd"), min($"VOLUME").as("v"))
      .collect()
      .map(r => (Option(r.getTimestamp(0)), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == api, "footer-answered NULL group must match the scan")

    // ungrouped and unfiltered, null-index rows are real rows too:
    // count(*) counts them and min(VOLUME) sees their values (a ranged
    // fold would drop both)
    val whole = spark.sql(
      "SELECT count(*) AS c, count(DATE) AS cd, min(VOLUME) AS v FROM gagg_ng")
    assertFooterAnswered(whole)
    val w = whole.collect()(0)
    val scanned = s("NG").agg(count(lit(1)), count($"DATE"), min($"VOLUME")).collect()(0)
    assert(w.getLong(0) == 67L && w.getLong(1) == 60L)
    assert((w.getLong(0), w.getLong(1), w.getLong(2)) ==
      ((scanned.getLong(0), scanned.getLong(1), scanned.getLong(2))),
      "footer-answered unfiltered aggregate must match the scan")

    // under a range WHERE the NULL group is correctly absent (a NULL
    // index satisfies no range predicate) and still footer-answered
    val ranged = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c FROM gagg_ng " +
        "WHERE DATE >= '2015-02-01' GROUP BY 1")
    assertFooterAnswered(ranged)
    val rgot = ranged.collect().map(r => (Option(r.getTimestamp(0)), r.getLong(1))).toMap
    assert(!rgot.contains(None) && rgot.values.sum == 29L)

    // ...and IS NOT NULL alone (boundless, but a cond that excludes
    // null-index rows) also omits it, footer-answered
    val nn = spark.sql(
      "SELECT date_trunc('MONTH', DATE) AS mo, count(*) AS c FROM gagg_ng " +
        "WHERE DATE IS NOT NULL GROUP BY 1")
    assertFooterAnswered(nn)
    val ngot = nn.collect().map(r => (Option(r.getTimestamp(0)), r.getLong(1))).toMap
    assert(!ngot.contains(None) && ngot.values.sum == 60L)
  }

  test("footer aggregates fan out over executors past the driver-thread threshold (>256 files)") {
    // the footer sweep switches from a driver thread pool to an RDD
    // job above 256 files (100k footers must never funnel through one
    // machine) — pin the fan-out path end to end
    val dir = tmpDir()
    val s = Store.open(spark, dir, chunkRows = 2L) // flat, 2-row chunks
    s.write("MANY", bars(600)) // ≥ 300 files
    assert(s.describe("MANY").files > 256,
      "fixture must cross the executor fan-out threshold")
    spark.read.format("graft").option("item", "MANY").load(dir)
      .createOrReplaceTempView("agg_many")
    val q = spark.sql(
      "SELECT count(*) AS c, min(DATE) AS lo, max(VOLUME) AS hi FROM agg_many")
    assertFooterAnswered(q)
    val r = q.collect()(0)
    assert(r.getLong(0) == 600L)
    assert(r.getTimestamp(1) == Timestamp.valueOf("2015-01-01 00:00:00"))
    assert(r.getLong(2) == 1599L)
    // a ranged aggregate over the same many-file item stays EXACT
    // whichever way the straddle classification lands (file boundaries
    // fall wherever range-partitioning put them)
    val ranged = spark.sql(
      "SELECT count(*) AS c FROM agg_many " +
        "WHERE DATE >= '2015-06-01' AND DATE < '2016-01-01'")
    assert(ranged.collect()(0).getLong(0) ==
      s("MANY").where($"DATE" >= "2015-06-01" && $"DATE" < "2016-01-01").count())
  }

  test("aggregate pushdown refuses when it cannot be exact: WHERE, GROUP BY, avg — all plan the ordinary scan") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    val t = spark.read.format("graft").option("item", "MSFT").load(dir)
    t.createOrReplaceTempView("noagg_msft")

    // AQE hides physical scans inside query stages for shuffling
    // aggregates, so refusal is asserted on the OPTIMIZED plan: the
    // relation must still carry the ordinary file scan, never a
    // footer-answered LocalRelation in its place
    def scanOf(df: DataFrame): org.apache.spark.sql.connector.read.Scan = {
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }
      assert(scans.size == 1, s"expected one scan relation, got $scans")
      scans.head
    }
    def assertScans(df: DataFrame): Unit = {
      val sc = scanOf(df)
      assert(sc.isInstanceOf[graft.sources.v2.GraftScan],
        s"must refuse the aggregate pushdown, planned: ${sc.description()}")
    }

    // a WHERE whose inclusive hi lands inside the March bucket straddles
    // a file — the FooterRangeAggregates rule refuses the straddle: scan
    val filtered = spark.sql(
      "SELECT count(*) AS c FROM noagg_msft " +
        "WHERE DATE BETWEEN '2015-02-01' AND '2015-03-01'")
    assertScans(filtered)
    assert(filtered.collect()(0).getLong(0) == 29L)

    // GROUP BY is not footer-answerable
    val grouped = spark.sql(
      "SELECT VOLUME % 2 AS k, count(*) AS c FROM noagg_msft GROUP BY 1")
    assertScans(grouped)
    assert(grouped.collect().map(r => r.getLong(1)).sum == 100L)

    // an unsupported function (avg) refuses the whole aggregation
    val avg = spark.sql("SELECT avg(OPEN) AS a, count(*) AS c FROM noagg_msft")
    assertScans(avg)
    assert(avg.collect()(0).getLong(1) == 100L)

    // min/max of a STRING column must scan (truncation + legacy
    // comparator hazards; float/double are admitted since round 14
    // under the NaN-proof discipline — own test below)
    val so = spark.sql(
      "SELECT min(CAST(VOLUME AS STRING)) AS m, count(*) AS c FROM noagg_msft")
    assertScans(so)
    assert(so.collect()(0).getLong(1) == 100L)
  }

  test("scan reports size statistics: a small item is STATICALLY broadcastable, and a pruned slice reports its slice") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("SMALL", bars(50)) // ~2 month buckets, a few KB
    val small = spark.read.format("graft").option("item", "SMALL").load(dir)

    // the relation must report a real (small) size — without
    // SupportsReportStatistics, DSv2 falls back to
    // spark.sql.defaultSizeInBytes = Long.MaxValue and a graft table
    // can never be the statically-planned broadcast side
    def sizeOf(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head.computeStats().sizeInBytes
    val whole = sizeOf(small)
    assert(whole > 0 && whole < 10L * 1024 * 1024, s"expected a small real size, got $whole")

    // bucket pruning flows into the estimate: a January slice of the
    // item reports January's bytes, not the item's
    val sliced = sizeOf(small.where($"DATE".between("2015-01-01", "2015-01-31")))
    assert(sliced > 0 && sliced < whole,
      s"pruned slice must report less than the whole item ($sliced vs $whole)")

    // a join against a large side plans the graft table as the
    // broadcast side STATICALLY: BroadcastHashJoin with ZERO shuffle
    // exchanges (an AQE runtime conversion would leave the shuffle
    // stages in the executed plan — static planning avoids the
    // map-side shuffle write entirely)
    val big = spark.range(0, 2000000)
      .select((($"id" % 50) + 1000).as("VOLUME"), $"id".as("N"))
    val joined = big.join(small, "VOLUME")
    joined.collect()
    // AQE query stages hide their plans from collect(), so assert on
    // the rendered tree
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected a broadcast join:\n$plan")
    assert(!plan.contains("ShuffleQueryStage") &&
      !plan.contains("Exchange hashpartitioning") &&
      !plan.contains("AQEShuffleRead"),
      s"a statically-broadcast join plans NO shuffle:\n$plan")
  }

  test("runtime filtering: a dim-side join dynamically re-prunes bucket dirs (DSv2 dynamic partition pruning)") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("day"))
    s.write("EV", bars(30)) // 30 day buckets
    val ev = spark.read.format("graft").option("item", "EV").load(dir)
    // a tiny dim holding TWO adjacent days, with a selective predicate
    // (DPP requires one on the filtering side — and it must survive
    // optimization, so the dim is a real parquet source, not a local
    // relation the filter would constant-fold into); the join key is
    // the store's index column — the scan's declared filterAttribute
    val dimDir = tmpDir() + "/dim"
    Seq(
      (Timestamp.valueOf("2015-01-05 00:00:00"), "a"),
      (Timestamp.valueOf("2015-01-06 00:00:00"), "b"),
      (Timestamp.valueOf("2015-07-01 00:00:00"), "z"))
      .toDF("D", "TAG").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where($"TAG".isin("a", "b"))
    val joined = ev.join(dim, ev("DATE") === dim("D"))
    val rows = joined.collect()
    assert(rows.length == 2)
    // the broadcast side's values reached the scan as a runtime In()
    // whose envelope re-pruned the batch assembly: 2 day buckets of 30.
    // (AQE query stages hide children from collect — walk explicitly.)
    def deep(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: deep(q.plan)
      case _ => p +: p.children.flatMap(deep)
    }
    val scans = deep(joined.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan }
      .collect { case g: graft.sources.v2.GraftScan =>
        g.parquet.asInstanceOf[ParquetScan] }
    assert(scans.size == 1, s"expected the graft scan, got $scans")
    val roots = bucketDirNames(scans.head)
    assert(roots.size == 2, s"expected the 2 joined day buckets of 30, scanned: $roots")
    // and the plan carries the dynamic-pruning expression (the static
    // receipt that DPP — not luck — did the pruning)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"expected a DPP runtime filter:\n$plan")
  }

  test("limit pushdown: LIMIT reads only a row-covering file prefix; results stay exact") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 4 month buckets → 4 chunk files
    val t = spark.read.format("graft").option("item", "MSFT").load(dir)

    val lim = t.limit(5)
    assert(lim.count() == 5)
    val scans = parquetScans(lim)
    assert(scans.size == 1)
    val files = scans.head.fileIndex.allFiles()
    assert(files.size == 1 && files.head.getPath.getName.endsWith(".parquet"),
      s"LIMIT 5 must read a single chunk file, planned: $files")

    // a limit past the item's row count degrades to the full listing
    val all = t.limit(1000)
    assert(all.count() == 100)
    assert(parquetScans(all).head.fileIndex.allFiles().size == 4)

    // LIMIT under a WHERE must NOT truncate the file set (filters are
    // residual — Spark never pushes this shape, and the builder refuses
    // it defensively): all in-range rows surface
    val fl = t.where($"DATE" >= "2015-03-25").limit(50)
    assert(fl.count() == 17, "29-day window starting 2015-03-25 through 04-10")
  }

  /** Whether `df`'s optimized plan reads no file: every leaf is a
    * `LocalRelation`, the footer-answered aggregate's.
    */
  private def footerAnsweredPlan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("store(k) is a graft scan of its listing: count and min/max answered from footers, LIMIT reads a covering prefix") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 4 month buckets → 4 chunk files
    val n = s("MSFT").groupBy().count()
    assert(footerAnsweredPlan(n), s"count() must be footer-answered:\n${n.queryExecution.optimizedPlan}")
    assert(n.collect()(0).getLong(0) == 100L && s("MSFT").count() == 100L)
    val mm = s("MSFT").agg(org.apache.spark.sql.functions.min($"DATE"),
      org.apache.spark.sql.functions.max($"DATE"))
    assert(footerAnsweredPlan(mm), s"min/max must be footer-answered:\n${mm.queryExecution.optimizedPlan}")
    val row = mm.collect()(0)
    assert(row.getTimestamp(0) == Timestamp.valueOf("2015-01-01 00:00:00") &&
      row.getTimestamp(1) == Timestamp.valueOf("2015-04-10 00:00:00"))
    val lim = s("MSFT").limit(5)
    assert(lim.count() == 5)
    assert(parquetScans(lim).map(_.fileIndex.allFiles().size) == Seq(1),
      "LIMIT 5 must read a single chunk file")
    assert(parquetScans(s("MSFT")).map(_.fileIndex.allFiles().size) == Seq(4))
  }

  test("a Store frame keeps the listing taken when it was made: a later append is in neither its footer answer nor its scan") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100))
    val df = s("MSFT")
    s.appendNewOnly("MSFT", bars(120)) // the first 100 rows again, and 20 new ones
    assert(s("MSFT").count() == 120L)
    val n = df.groupBy().count()
    assert(footerAnsweredPlan(n))
    assert(n.collect()(0).getLong(0) == 100L && df.count() == 100L, "footer-answered count")
    assert(df.collect().length == 100, "scanned rows")
  }

  test("topN pushdown: ORDER BY index LIMIT k reads only the covering bucket prefix/suffix; order stays exact") {
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 2015-01..04: buckets of 31/28/31/10 rows
    val t = spark.read.format("graft").option("item", "MSFT").load(dir)
    def scannedBuckets(df: DataFrame): Set[String] =
      bucketDirNames(parquetScans(df).head)

    // "the newest k rows of a 100 TB item": one bucket, not the corpus
    val newest = t.orderBy($"DATE".desc).limit(5)
    val api = s("MSFT").orderBy($"DATE".desc).limit(5)
      .collect().map(_.getTimestamp(0)).toSeq
    assert(newest.collect().map(_.getTimestamp(0)).toSeq == api,
      "pushed topN must return the exact newest rows, in order")
    assert(scannedBuckets(newest) == Set("__bucket=2015-04"),
      s"DESC LIMIT 5 must read only the newest bucket")
    // the pushed shape is auditable in the scan description (explain)
    val desc = newest.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.scan }
      .collectFirst { case g: graft.sources.v2.GraftScan => g.description() }
    assert(desc.exists(_.contains("pushedTopN=[DATE DESC LIMIT 5]")),
      s"scan description must advertise the pushed topN: $desc")

    // k spanning bucket boundaries widens the suffix exactly as far as
    // footer row counts require (April holds 10 rows → 15 needs March)
    val wider = t.orderBy($"DATE".desc).limit(15)
    assert(wider.collect().map(_.getTimestamp(0)).toSeq ==
      s("MSFT").orderBy($"DATE".desc).limit(15)
        .collect().map(_.getTimestamp(0)).toSeq)
    assert(scannedBuckets(wider) == Set("__bucket=2015-03", "__bucket=2015-04"))

    // ASC reads the oldest bucket instead
    val oldest = t.orderBy($"DATE".asc).limit(5)
    assert(oldest.collect().map(_.getTimestamp(0)).toSeq ==
      s("MSFT").orderBy($"DATE".asc).limit(5)
        .collect().map(_.getTimestamp(0)).toSeq)
    assert(scannedBuckets(oldest) == Set("__bucket=2015-01"))

    // k past the row count degrades to the full listing, still exact
    val all = t.orderBy($"DATE".desc).limit(1000)
    assert(all.count() == 100)
    assert(parquetScans(all).head.fileIndex.allFiles().size == 4)

    // ORDER BY a non-index column refuses (footer order proves nothing
    // about VOLUME): full listing, exact result
    val byVol = t.orderBy($"VOLUME".desc).limit(5)
    assert(byVol.collect().map(_.getLong(5)).toSeq ==
      Seq(1099L, 1098L, 1097L, 1096L, 1095L))
    assert(parquetScans(byVol).head.fileIndex.allFiles().size == 4)

    // under a WHERE the Filter node stays above the scan — topN must
    // not truncate the file set; the filtered ordering stays exact
    val fw = t.where($"DATE" <= "2015-02-15").orderBy($"DATE".desc).limit(3)
    assert(fw.collect().map(_.getTimestamp(0)).toSeq ==
      s("MSFT").where($"DATE" <= "2015-02-15").orderBy($"DATE".desc).limit(3)
        .collect().map(_.getTimestamp(0)).toSeq)

    // flat (unbucketed) layouts are not order-prunable: refuse, stay exact
    val dir2 = tmpDir()
    val s2 = Store.open(spark, dir2)
    s2.write("AAPL", bars(40, seed = 3))
    val t2 = spark.read.format("graft").option("item", "AAPL").load(dir2)
    val flatTop = t2.orderBy($"DATE".desc).limit(5)
    assert(flatTop.collect().map(_.getTimestamp(0)).toSeq ==
      s2("AAPL").orderBy($"DATE".desc).limit(5)
        .collect().map(_.getTimestamp(0)).toSeq)
  }

  test("topN pushdown vetoes non-date bucket labels (the NULL-index guard): refuses, reads everything, stays exact") {
    // a bucket dir whose label is not the store's zero-padded date
    // shape — the on-disk shape a NULL-index default partition takes —
    // must disable order pruning entirely: the sort position of its
    // rows is unknowable from bucket order, so the only exact plan is
    // the full listing
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(62)) // 2015-01, 2015-02, 2015-03(2 days)
    val itemDir = LiveDir(s, dir, "MSFT")
    val someFile = java.nio.file.Files.walk(itemDir).iterator()
      .asScala.filter(_.toString.endsWith(".parquet")).next()
    val rogue = itemDir.resolve("__bucket=__HIVE_DEFAULT_PARTITION__")
    java.nio.file.Files.createDirectories(rogue)
    java.nio.file.Files.copy(someFile, rogue.resolve("part-rogue.snappy.parquet"))
    LiveDir.plant(s, "MSFT", new org.apache.hadoop.fs.Path(rogue.resolve("part-rogue.snappy.parquet").toUri))

    val t = spark.read.format("graft").option("item", "MSFT").load(dir)
    val top = t.orderBy($"DATE".desc).limit(5)
    // exact against an independent ordering of the SAME (now larger)
    // file set — raw parquet over the item dir sees the rogue file too
    val expect = spark.read.parquet(itemDir.toString)
      .orderBy($"DATE".desc).limit(5).collect().map(_.getTimestamp(0)).toSeq
    assert(top.collect().map(_.getTimestamp(0)).toSeq == expect)
    // and the plan did NOT prune: every file (including the rogue one)
    // is in the scan
    val files = parquetScans(top).head.fileIndex.allFiles()
    assert(files.exists(_.getPath.toString.contains("__HIVE_DEFAULT_PARTITION__")),
      "the veto must fall back to the FULL listing, rogue bucket included")
  }

  test("double min/max footer-answered on NaN-free data; one NaN-bearing file vetoes the pushdown (stays exact)") {
    def hasFileScan(df: DataFrame): Boolean = {
      df.collect()
      def deep(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: deep(q.plan)
        case _ => p +: p.children.flatMap(deep)
      }
      deep(df.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec])
    }
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    // negatives + fractions exercise the sortable-bits stat encoding
    // (IEEE order of negative doubles inverts their raw-bits order)
    val clean = bars(60)
      .withColumn("open", $"open" - 200.0) // all negative
      .withColumn("close", $"close" / 3.0) // non-terminating fractions
    s.write("DBL", clean)
    spark.read.format("graft").option("item", "DBL").load(dir)
      .createOrReplaceTempView("agg_dbl")
    val q = "SELECT min(OPEN) AS lo, max(OPEN) AS hi, " +
      "min(CLOSE) AS cl, max(CLOSE) AS ch FROM agg_dbl"
    val mm = spark.sql(q)
    assertFooterAnswered(mm)
    val got = mm.collect()(0)
    val want = clean.agg(
      org.apache.spark.sql.functions.min("open"),
      org.apache.spark.sql.functions.max("open"),
      org.apache.spark.sql.functions.min("close"),
      org.apache.spark.sql.functions.max("close")).collect()(0)
    (0 until 4).foreach { i =>
      assert(got.getDouble(i) == want.getDouble(i),
        s"footer double stat $i: ${got.getDouble(i)} != ${want.getDouble(i)}")
    }
    // the ranged face (FooterRangeAggregates) admits doubles too: a
    // bucket-aligned slice answers from footers, exactly
    val ranged = spark.sql(
      "SELECT min(OPEN) AS lo, max(OPEN) AS hi, count(*) AS c FROM agg_dbl " +
        "WHERE DATE >= '2015-01-01' AND DATE < '2015-02-01'")
    assertFooterAnswered(ranged)
    val rr = ranged.collect()(0)
    val rWant = clean.filter(
      $"date" >= Timestamp.valueOf("2015-01-01 00:00:00") &&
        $"date" < Timestamp.valueOf("2015-02-01 00:00:00"))
      .agg(
        org.apache.spark.sql.functions.min("open"),
        org.apache.spark.sql.functions.max("open"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect()(0)
    assert(rr.getDouble(0) == rWant.getDouble(0) &&
      rr.getDouble(1) == rWant.getDouble(1) && rr.getLong(2) == rWant.getLong(2))
    // append ONE file containing a NaN: the writer records no min/max
    // for that chunk (probed: parquet-java omits stats when NaN is
    // seen), so the column lacks the proof and the strict veto refuses
    // the pushdown — the query plans the ordinary scan and stays exact
    val nanBatch = bars(5, seed = 99)
      .withColumn("open",
        org.apache.spark.sql.functions.when($"volume" === 1002,
          org.apache.spark.sql.functions.lit(Double.NaN))
          .otherwise($"open" + 5000.0))
    s.append("DBL", nanBatch)
    val mm2 = spark.sql(q)
    assert(hasFileScan(mm2),
      "a NaN-bearing file must veto the double min/max pushdown")
    val got2 = mm2.collect()(0)
    // Spark orders NaN greatest: max(OPEN) over a NaN-bearing column is
    // NaN — delivered by the scan, never by a footer stat
    assert(got2.getDouble(1).isNaN, "scan max over NaN column must be NaN")
    assert(got2.getDouble(0) == want.getDouble(0), "min unaffected by the NaN rows")
    // integer-family pushdown on the same item is still footer-answered
    // (the veto is PER COLUMN, not per item)
    val vol = spark.sql("SELECT min(VOLUME) AS lo, max(VOLUME) AS hi FROM agg_dbl")
    assertFooterAnswered(vol)
  }

  test("foreign-writer files (pyarrow) veto float/double footer min/max: NaN-skipping stats prove nothing") {
    // the NaN proof is a WRITER property: parquet-mr omits a chunk's
    // min/max when NaN was seen, but arrow-cpp SKIPS NaNs and records
    // finite bounds — so a pyarrow file's finite double stats must NOT
    // qualify. The driver's testdata is pyarrow-written: fileFooterAgg
    // over it must refuse the double column while the int64 column
    // (no NaN exists to skip) stays exact.
    val f = "/root/testdata/sf0.001/events.parquet"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    val stats = Store.fileFooterAgg(
      spark.sparkContext.hadoopConfiguration, f,
      cols = Seq("VALUE", "EVENT_ID"), mmCols = Set("VALUE", "EVENT_ID"))
    assert(!stats.minMaxOkCols.contains("VALUE"),
      "a pyarrow-written double column must not pass the NaN-proof gate")
    assert(stats.minMaxOkCols.contains("EVENT_ID"),
      "the created_by gate must not touch integer columns")
    assert(stats.minMaxByCol.contains("EVENT_ID"))
    // and the store's OWN writer passes the gate (control)
    val dir = tmpDir()
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("CTRL", bars(10))
    val own = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "items", "CTRL"))
      try w.iterator().asScala.find(_.toString.endsWith(".parquet")).get.toString
      finally w.close()
    }
    val ownStats = Store.fileFooterAgg(
      spark.sparkContext.hadoopConfiguration, own,
      cols = Seq("OPEN"), mmCols = Set("OPEN"))
    assert(ownStats.minMaxOkCols.contains("OPEN"),
      "parquet-mr-written NaN-free doubles must pass the gate")
  }
}
