package graft

import graft.sources.{SchemaError, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The `GraftCatalog` TableCatalog plugin: one conf line turns a store
  * into a SQL catalog — `SHOW TABLES IN <cat>` lists its items with no
  * per-item DDL, `SELECT * FROM <cat>.ITEM` loads the SAME GraftTable
  * the provider serves (so pruning/INSERT semantics carry over,
  * plan-asserted below), and the item lifecycle (CREATE/DROP) maps to
  * Store write/drop. The reference's `store['KEY']` discovery
  * (oakstore/store.py:133-134) lifted to the catalog surface.
  */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._
  import TestSpark.parquetScans

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

  /** One catalog (name `gcat`) over one bucketed store for the whole
    * suite — catalog conf is resolved at first reference and cached by
    * Spark per session, which is exactly the deployment shape.
    */
  lazy val storeDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog").toString
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 2015-01-01..2015-04-10 → 4 month buckets
    s.write("AAPL", bars(50, seed = 11))
    spark.conf.set("spark.sql.catalog.gcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.path", dir)
    dir
  }

  test("SHOW TABLES IN gcat lists the store's items with zero per-item DDL") {
    storeDir
    val names = spark.sql("SHOW TABLES IN gcat").select("tableName")
      .as[String].collect().toSet
    assert(names == Set("MSFT", "AAPL"), s"got $names")
    // items created by ANY writer appear on the next listing — no
    // refresh incantation (listings go to the filesystem)
    Store.attach(spark, storeDir).write("TSLA", bars(10, seed = 3))
    val after = spark.sql("SHOW TABLES IN gcat").select("tableName")
      .as[String].collect().toSet
    assert(after == Set("MSFT", "AAPL", "TSLA"), s"got $after")
    spark.sql("DROP TABLE gcat.TSLA")
  }

  test("catalog-qualified SELECT prunes bucket dirs and pushes row-group filters — same plan as the provider") {
    storeDir
    val df = spark.sql(
      "SELECT OPEN, CLOSE FROM gcat.MSFT " +
        "WHERE DATE BETWEEN '2015-02-01' AND '2015-03-01'")
    val api = Store.attach(spark, storeDir).query("MSFT",
      Some(Timestamp.valueOf("2015-02-01 00:00:00")),
      Some(Timestamp.valueOf("2015-03-01 00:00:00")),
      columns = Some(Seq("OPEN", "CLOSE")))
    assert(df.exceptAll(api).count() == 0 && api.exceptAll(df).count() == 0)
    val scans = parquetScans(df)
    assert(scans.size == 1)
    assert(scans.head.fileIndex.allFiles().map(_.getPath.getParent.getName).toSet ==
      Set("__bucket=2015-02", "__bucket=2015-03"),
      "catalog read must scan exactly the files of the in-range bucket dirs")
    val pushedStr = scans.head.pushedFilters.mkString(";")
    assert(pushedStr.contains("GreaterThanOrEqual(DATE") &&
      pushedStr.contains("LessThanOrEqual(DATE"), s"pushed: $pushedStr")
    val read = scans.head.readDataSchema.fieldNames.toSet
    assert(read == Set("DATE", "OPEN", "CLOSE"), s"ReadSchema: $read")
  }

  test("catalog-qualified INSERT INTO is the += contract: idempotent, and CREATE TABLE makes an empty item") {
    storeDir
    val s = Store.attach(spark, storeDir)
    spark.sql("CREATE TABLE gcat.FRESH")
    assert(s.exists("FRESH") && s("FRESH").count() == 0,
      "CREATE TABLE must make an empty item")
    // a VALUES batch is already on the driver: merged and written there
    val (_, insertJobs) = TestSpark.jobsDuring(spark.sql("INSERT INTO gcat.FRESH VALUES " +
      "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100), " +
      "(TIMESTAMP'2015-05-02 00:00:00', 1.1, 2.1, 0.6, 1.6, 101)"))
    assert(insertJobs == 0, s"INSERT INTO … VALUES started $insertJobs Spark jobs")
    assert(s("FRESH").count() == 2)
    // re-running the SAME insert appends zero rows (appendNewOnly)
    spark.sql("INSERT INTO gcat.FRESH VALUES " +
      "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100), " +
      "(TIMESTAMP'2015-05-02 00:00:00', 1.1, 2.1, 0.6, 1.6, 101)")
    assert(s("FRESH").count() == 2, "duplicate insert must dedup to a no-op")
    // CREATE over an existing item is the standard SQL error, and
    // IF NOT EXISTS swallows it
    val e = intercept[Exception](spark.sql("CREATE TABLE gcat.FRESH"))
    assert(e.getMessage.contains("FRESH"), s"wrong error: ${e.getMessage}")
    spark.sql("CREATE TABLE IF NOT EXISTS gcat.FRESH")
    assert(s("FRESH").count() == 2)
    // DROP maps to Store.drop; IF EXISTS on a missing item is quiet
    spark.sql("DROP TABLE gcat.FRESH")
    assert(!s.exists("FRESH"))
    spark.sql("DROP TABLE IF EXISTS gcat.FRESH")
  }

  test("a VERSIONED store works through the catalog: list, create-empty, insert, drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-vers").toString
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(15))
    spark.conf.set("spark.sql.catalog.gcatv", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatv.path", dir)
    assert(spark.sql("SHOW TABLES IN gcatv").select("tableName")
      .as[String].collect().toSet == Set("MSFT"))
    assert(spark.sql("SELECT count(*) FROM gcatv.MSFT").as[Long].head() == 15)
    spark.sql("CREATE TABLE gcatv.FRESH") // empty item = one pointer commit
    assert(s.exists("FRESH") && s("FRESH").count() == 0)
    spark.sql("INSERT INTO gcatv.FRESH VALUES " +
      "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100)")
    spark.sql("INSERT INTO gcatv.FRESH VALUES " +
      "(TIMESTAMP'2015-05-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100)")
    assert(s("FRESH").count() == 1, "idempotent insert on the versioned layout")
    spark.sql("DROP TABLE gcatv.FRESH")
    assert(!s.exists("FRESH"))
    // a half-created orphan dir (no pointer) is NOT a table
    assert(s.vacuum(0L) >= 0L)
    assert(spark.sql("SHOW TABLES IN gcatv").count() == 1)
  }

  test("CALL versions lists a versioned item's current version and crash orphans; flat stores refuse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-hist").toString
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(15))
    // simulate the debris a commit that died between its pointer PUT
    // and deleting its predecessor leaves: a complete but unreferenced
    // version manifest (a copy of the current one)
    val itemDir = java.nio.file.Paths.get(dir, "items", "MSFT")
    val cur = new String(java.nio.file.Files.readAllBytes(itemDir.resolve("_current")), "UTF-8").trim
    java.nio.file.Files.copy(itemDir.resolve(cur), itemDir.resolve("v-" + java.util.UUID.randomUUID()))
    spark.conf.set("spark.sql.catalog.gcath", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcath.path", dir)
    val vs = spark.sql("CALL gcath.versions(item => 'MSFT')").collect()
    assert(vs.length == 2, s"expected current + crash orphan, got ${vs.length}")
    assert(vs.count(_.getBoolean(1)) == 1, "exactly one current version")
    val current = vs.find(_.getBoolean(1)).get
    assert(current.getLong(2) > 0L && current.getLong(3) > 0L)
    assert(vs.forall(_.getString(0).startsWith("v-")))
    // vacuum(0) reclaims the predecessor; versions then reports just one
    assert(spark.sql("CALL gcath.vacuum(older_than_ms => 0)").collect()(0).getLong(0) >= 1L)
    val after = spark.sql("CALL gcath.versions(item => 'MSFT')").collect()
    assert(after.length == 1 && after(0).getBoolean(1))
    // a retired flat-layout directory (schema.json, data straight under
    // items/MSFT, no versioned marker) is refused with an actionable
    // message naming the layout
    val flatDir = java.nio.file.Files.createTempDirectory("graft-catalog-flat")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "schema.json"),
      flatDir.resolve("schema.json"))
    s("MSFT").write.parquet(flatDir.resolve("items").resolve("MSFT").toString)
    spark.conf.set("spark.sql.catalog.gcatflat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatflat.path", flatDir.toString)
    val err = intercept[Exception](
      spark.sql("CALL gcatflat.versions(item => 'MSFT')").collect())
    assert(err.getMessage.contains("flat"), s"wrong error: ${err.getMessage}")
  }

  test("catalog-qualified STREAMING read: spark.readStream.table(gcat.MSFT) drains the item") {
    storeDir
    val out = java.nio.file.Files.createTempDirectory("graft-cat-stream").toString
    val q = spark.readStream.table("gcat.MSFT")
      .writeStream.format("parquet")
      .option("path", out + "/out")
      .option("checkpointLocation", out + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out + "/out")
    val batch = Store.attach(spark, storeDir)("MSFT")
    assert(got.count() == 100)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "catalog-qualified stream must equal the batch item")
  }

  test("catalog-qualified STREAMING write: writeStream.toTable(gcat.PIPED) lands via the DSv2 sink, exactly-once") {
    storeDir
    val ck = java.nio.file.Files.createTempDirectory("graft-cat-totable").toString
    def run(ckpt: String): Unit = {
      val q = spark.readStream.table("gcat.MSFT")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("gcat.PIPED")
      q.awaitTermination()
    }
    run(ck + "/ckpt")
    assert(spark.table("gcat.PIPED").count() == 100)
    // a fresh checkpoint replays every epoch; the appendNewOnly ingest
    // absorbs the replay — zero duplicate rows (the toTable route must
    // carry the same exactly-once contract as format("graft"))
    run(ck + "/ckpt2")
    val piped = spark.table("gcat.PIPED")
    assert(piped.count() == 100, "replayed epochs must append zero rows")
    val src = spark.table("gcat.MSFT")
    assert(piped.exceptAll(src).count() == 0 && src.exceptAll(piped).count() == 0)
    spark.sql("DROP TABLE gcat.PIPED")
  }

  test("SQL tooling paths resolve: DESCRIBE TABLE and spark.table on catalog items") {
    storeDir
    val cols = spark.sql("DESCRIBE TABLE gcat.MSFT").select("col_name")
      .as[String].collect().toSet
    assert(Set("DATE", "OPEN", "CLOSE", "VOLUME").subsetOf(cols), s"got $cols")
    assert(spark.table("gcat.MSFT").count() == 100)
  }

  test("catalog writerLease option: INSERTs claim and release the cross-JVM lease") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-lease").toString
    val s = Store.open(spark, dir)
    s.write("MSFT", bars(5))
    spark.conf.set("spark.sql.catalog.gcatl", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatl.path", dir)
    spark.conf.set("spark.sql.catalog.gcatl.writerLease", "true")
    spark.sql("INSERT INTO gcatl.MSFT VALUES " +
      "(TIMESTAMP'2015-08-01 00:00:00', 1.0, 2.0, 0.5, 1.5, 100)")
    assert(s("MSFT").count() == 6)
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaseDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(hp, ".lease"), "MSFT")
    assert(Store.leaseState(fs, leaseDir).exists(_._1 == "-"),
      "catalog-leased INSERT must have claimed and released a lease slot")
  }

  test("catalog-qualified count(*)/min/max are footer-answered: LocalTableScan, no file scan") {
    storeDir
    val df = spark.sql(
      "SELECT count(*) AS c, min(DATE) AS lo, max(DATE) AS hi FROM gcat.MSFT")
    df.collect()
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val root = strip(df.queryExecution.executedPlan)
    assert(root.collect { case b: BatchScanExec => b }.isEmpty,
      s"catalog count(*) must be footer-answered, got:\n$root")
    assert(root.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty, s"expected LocalTableScan leaf:\n$root")
    val row = df.collect()(0)
    val st = Store.attach(spark, storeDir).describe("MSFT")
    assert(row.getLong(0) == st.rows && st.rows == 100L)
    assert(row.getTimestamp(1) == st.minIndex.get)
    assert(row.getTimestamp(2) == st.maxIndex.get)
  }

  test("maintenance is SQL-reachable: CALL vacuum/describe/compact_buckets/prune drive the Store ops from pure SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-maint").toString
    val s = Store.open(spark, dir, bucket = Some("month"))
    s.write("MSFT", bars(100)) // 4 month buckets
    spark.conf.set("spark.sql.catalog.gcatm", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatm.path", dir)

    // describe: the footer-only stats row, from SQL
    val d = spark.sql("CALL gcatm.describe(item => 'MSFT')").collect()(0)
    val st = s.describe("MSFT")
    assert(d.getLong(0) == 100L && d.getLong(0) == st.rows)
    assert(d.getTimestamp(1) == st.minIndex.get && d.getTimestamp(2) == st.maxIndex.get)
    assert(d.getLong(3) == st.files && d.getLong(4) == st.bytes)

    // vacuum: fabricate crash debris (data files a mutation wrote before
    // dying ahead of its commit), then reclaim it from SQL
    val data = java.nio.file.Paths.get(dir, "items", "MSFT", "data", "__bucket=2015-01")
    for (n <- Seq("part-dead-beef.parquet", "part-cafe-f00d.parquet"))
      java.nio.file.Files.write(data.resolve(n), Array[Byte](1, 2, 3))
    assert(spark.sql("CALL gcatm.vacuum()").collect()(0).getLong(0) == 0L,
      "default vacuum is age-guarded — fresh debris survives")
    assert(spark.sql("CALL gcatm.vacuum(older_than_ms => 0)").collect()(0).getLong(0) == 2L)
    assert(s("MSFT").count() == 100, "live item untouched by vacuum")

    // compact_buckets: make the January bucket append-heavy (4 small
    // files), then compact it from SQL
    for (i <- 1 to 3) {
      val extra = bars(100).withColumn("volume",
        org.apache.spark.sql.functions.col("volume") + (9000L * i)).limit(5)
      s.appendNewOnly("MSFT", extra)
    }
    val before = s.describe("MSFT").files
    assert(before > 4, s"need an oversized bucket, have $before files")
    val rewritten = spark.sql(
      "CALL gcatm.compact_buckets(item => 'MSFT', max_files_per_bucket => 1)")
      .collect()(0).getLong(0)
    assert(rewritten >= 1, "at least one bucket must be rewritten")
    assert(s.describe("MSFT").files < before)
    assert(s("MSFT").count() == 115, "compaction preserves rows")

    // prune: drop buckets strictly before March, from SQL
    val removed = spark.sql(
      "CALL gcatm.prune(item => 'MSFT', before => TIMESTAMP'2015-03-01 00:00:00')")
      .collect()(0).getLong(0)
    assert(removed > 0)
    assert(s("MSFT").where($"DATE" < "2015-03-01").count() == 0)

    // compact_if_needed: listing-counted threshold decision from SQL
    assert(!spark.sql("CALL gcatm.compact_if_needed(item => 'MSFT', max_files => 64)")
      .collect()(0).getBoolean(0), "under threshold → no-op")

    // a bad procedure name fails with the standard routine error (our
    // what-exists listing rides in the cause chain)
    val err = intercept[Exception](spark.sql("CALL gcatm.nope()"))
    assert(err.getMessage.contains("nope"), s"got: ${err.getMessage}")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(err).exists(_.contains("vacuum")),
      s"cause chain should list available procedures: ${chain(err)}")
    // item validation flows through: bad item fails loudly
    intercept[Exception](spark.sql("CALL gcatm.describe(item => 'NOPE')").collect())
  }

  test("CREATE TABLE on a fresh unpinned session pins the micros invariant itself") {
    // A SQL-only session never calls Store.open, so nothing has pinned
    // spark.sql.parquet.outputTimestampType — Spark's default (INT96)
    // would make the catalog's empty-item write fail its micros guard
    // with a remedy ('pinned by Store.open') a catalog user can't
    // reach. CREATE TABLE must pin like INSERT does. Reproduce the
    // fresh-session shape by unsetting the pin the suite's Store.open
    // installed (tests run sequentially in the forked JVM; the window
    // closes before any other write below).
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-pin").toString
    Store.open(spark, dir).write("MSFT", bars(3))
    spark.conf.set("spark.sql.catalog.gcatp", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcatp.path", dir)
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    try {
      spark.sql("CREATE TABLE gcatp.FRESH") // would throw SchemaError before the fix
      assert(Store.attach(spark, dir).exists("FRESH"))
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS",
        "CREATE TABLE must have pinned the session to micros")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }

  test("namespaces map to store paths: one catalog serves multiple stores, with per-namespace maintenance") {
    val defDir = java.nio.file.Files.createTempDirectory("graft-cat-def").toString
    val ticksDir = java.nio.file.Files.createTempDirectory("graft-cat-ticks").toString
    val sDef = Store.open(spark, defDir)
    sDef.write("EVENTS", bars(10))
    val sTicks = Store.open(spark, ticksDir,
      cols = Some(Seq("PX" -> org.apache.spark.sql.types.DoubleType)),
      index = Some("TS"), bucket = Some("month"))
    sTicks.write("TRADES", (0 until 40).map(i =>
      (Timestamp.valueOf(f"2015-01-01 00:00:00").toInstant.plusSeconds(i * 86400L), 1.0 + i))
      .map(t => (Timestamp.from(t._1), t._2)).toDF("ts", "px"))
    spark.conf.set("spark.sql.catalog.gmulti", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmulti.path", defDir)
    spark.conf.set("spark.sql.catalog.gmulti.path.ticks", ticksDir)

    // namespaces are discoverable, each listing its own store's items
    assert(spark.sql("SHOW NAMESPACES IN gmulti").as[String].collect().toSet ==
      Set("ticks"))
    assert(spark.sql("SHOW TABLES IN gmulti").select("tableName")
      .as[String].collect().toSet == Set("EVENTS"))
    assert(spark.sql("SHOW TABLES IN gmulti.ticks").select("tableName")
      .as[String].collect().toSet == Set("TRADES"))

    // both stores query through one catalog; the namespaced one keeps
    // its own schema and pruning
    assert(spark.sql("SELECT count(*) FROM gmulti.EVENTS").as[Long].head() == 10)
    assert(spark.sql(
      "SELECT count(*) FROM gmulti.ticks.TRADES " +
        "WHERE TS BETWEEN '2015-02-01' AND '2015-02-28'").as[Long].head() == 9,
      "40 daily rows from Jan 1 reach Feb 9 — nine February rows")

    // writes route by namespace: INSERT into the ticks store
    spark.sql("INSERT INTO gmulti.ticks.TRADES VALUES (TIMESTAMP'2015-03-01 00:00:00', 99.5)")
    assert(sTicks("TRADES").count() == 41)

    // per-namespace maintenance: CALL gmulti.ticks.describe routes to
    // the ticks store
    val d = spark.sql("CALL gmulti.ticks.describe(item => 'TRADES')").collect()(0)
    assert(d.getLong(0) == 41L)
    assert(spark.sql("CALL gmulti.vacuum(older_than_ms => 0)").collect()(0).getLong(0) == 0L)

    // an unknown namespace stays an error
    intercept[Exception](spark.sql("SELECT * FROM gmulti.nope.X").collect())
    // namespace DDL points at the conf key instead
    val e = intercept[Exception](spark.sql("CREATE NAMESPACE gmulti.more"))
    assert(e.getMessage.contains("path.<namespace>"), s"got: ${e.getMessage}")
  }

  test("failure modes: missing table, nested namespace, ALTER/RENAME/PARTITIONED refusals") {
    storeDir
    val missing = intercept[Exception](spark.sql("SELECT * FROM gcat.NOPE").collect())
    assert(missing.getMessage.contains("NOPE"), s"wrong error: ${missing.getMessage}")
    // flat catalog: nested namespaces don't resolve
    val nested = intercept[Exception](spark.sql("SELECT * FROM gcat.ns.MSFT").collect())
    assert(nested.getMessage.toLowerCase.contains("not") ||
      nested.getMessage.toLowerCase.contains("cannot"), s"got: ${nested.getMessage}")
    assert(spark.sql("SHOW NAMESPACES IN gcat").collect().isEmpty)
    // the store owns schema and layout: ALTER / RENAME / PARTITIONED BY refuse
    intercept[Exception](spark.sql("ALTER TABLE gcat.MSFT ADD COLUMN x DOUBLE"))
    intercept[Exception](spark.sql("ALTER TABLE gcat.MSFT RENAME TO gcat.MSFT2"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gcat.PARTED PARTITIONED BY (VOLUME)"))
    assert(!Store.attach(spark, storeDir).exists("PARTED"))
    // a schema'd CREATE must agree with the store-wide schema
    intercept[Exception](spark.sql("CREATE TABLE gcat.BAD (d TIMESTAMP, x DOUBLE)"))
    assert(!Store.attach(spark, storeDir).exists("BAD"))
  }

  test("CTAS on a VERSIONED store is pointer-commit atomic: failure leaves no pointer, only a vacuum-sweepable orphan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catalog-v").toString
    val s = Store.open(spark, dir)
    s.write("SRC", bars(40, seed = 21))
    spark.conf.set("spark.sql.catalog.gvcat", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvcat.path", dir)
    // happy path: data staged as a pointer-less version, the _current
    // pointer PUT at commitStagedChanges makes it visible atomically
    spark.sql("CREATE TABLE gvcat.CTAS_V AS SELECT * FROM gvcat.SRC WHERE VOLUME >= 1010")
    assert(s.exists("CTAS_V"))
    val n = spark.sql("SELECT count(*) FROM gvcat.CTAS_V").as[Long].head()
    assert(n == 30L, s"got $n")
    // empty SELECT still creates (CREATE semantics): 0-row item exists
    spark.sql("CREATE TABLE gvcat.CTAS0 AS SELECT * FROM gvcat.SRC LIMIT 0")
    assert(s.exists("CTAS0"))
    assert(spark.sql("SELECT count(*) FROM gvcat.CTAS0").as[Long].head() == 0L)
    // failure mid-CTAS: no pointer ever lands -> the item never exists;
    // whatever the write staged is orphan files the abort deletes
    // (and vacuum would sweep after a crash that skipped the abort)
    intercept[Exception](spark.sql(
      """CREATE TABLE gvcat.CTAS_VFAIL AS
        |SELECT DATE, OPEN, HIGH, LOW, CLOSE,
        |       CAST(VOLUME / (VOLUME - VOLUME) AS BIGINT) AS VOLUME
        |FROM gvcat.SRC""".stripMargin))
    assert(!s.exists("CTAS_VFAIL"),
      "failed CTAS left a visible item on the versioned store")
    assert(!spark.sql("SHOW TABLES IN gvcat").select("tableName")
      .as[String].collect().contains("CTAS_VFAIL"))
    val itemDir = new org.apache.hadoop.fs.Path(s"$dir/items/CTAS_VFAIL")
    val fs = itemDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(itemDir)) {
      // no _current pointer may exist under a failed CTAS key
      assert(!fs.exists(new org.apache.hadoop.fs.Path(itemDir, "_current")),
        "failed CTAS landed a version pointer")
    }
    // errorifexists (store.py:203-204): the pointer create race
    // loser (or a plain re-CTAS) refuses without touching the item
    intercept[Exception](spark.sql(
      "CREATE TABLE gvcat.CTAS_V AS SELECT * FROM gvcat.SRC"))
    assert(spark.sql("SELECT count(*) FROM gvcat.CTAS_V").as[Long].head() == 30L)
    // REPLACE refusals route to the Store contract
    intercept[Exception](spark.sql(
      "CREATE OR REPLACE TABLE gvcat.CTAS_V AS SELECT * FROM gvcat.SRC"))
    assert(spark.sql("SELECT count(*) FROM gvcat.CTAS_V").as[Long].head() == 30L)
  }

  test("invalid item names answer false from tableExists/dropTable; flat CTAS abort only drops its own write") {
    storeDir
    // names that fail Store.KeyRegex (space, '+') cannot name an item:
    // existence probes must answer false and DROP must report "nothing
    // dropped" — not crash with a raw ItemKeyError (tableExists caught
    // only SchemaError). CREATING such a name still refuses loudly.
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
    val bad = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty, "bad name!")
    assert(!cat.tableExists(bad), "invalid-name existence probe must be false")
    assert(!cat.dropTable(bad), "invalid-name drop must report nothing dropped")
    spark.sql("DROP TABLE IF EXISTS gcat.`bad name!`") // must not crash
    intercept[graft.sources.ItemKeyError](spark.sql(
      "CREATE TABLE gcat.`bad name!` AS SELECT * FROM gcat.MSFT LIMIT 0"))
    // CTAS abort scoping: a failed CTAS whose INSERT never ran must NOT
    // drop an identically-named item a CONCURRENT writer created in the
    // race window (the abort deletes only its own staged version).
    // Simulate via the staging API directly: stage, let another writer
    // create the item, abort.
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "RACED")
    val staged = cat.stageCreate(ident,
      Store.attach(spark, storeDir).schema, Array.empty,
      new java.util.HashMap[String, String]())
    val other = Store.attach(spark, storeDir)
    other.write("RACED", bars(5)) // the concurrent writer's data
    staged.abortStagedChanges()    // our CTAS failed WITHOUT inserting
    assert(other.exists("RACED"),
      "abort of a never-written CTAS must not drop the concurrent writer's item")
    assert(other.query("RACED", None, None).count() == 5)
    other.drop("RACED")
  }
}
