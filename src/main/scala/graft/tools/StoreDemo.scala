package graft.tools

import graft.sources.{ItemKeyError, SchemaError, Store}
import graft.sources.v2.GraftScan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Example/demo driver for the Store API: ingests the `events` table from
  * a testdata dir into a fresh store, then exercises range query, append
  * idempotence, and the error surface. Run:
  *   sbt "runMain graft.tools.StoreDemo /root/testdata/sf0.001 /tmp/storedemo"
  */
object StoreDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, baseDir) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet ts vintage handling (nanos or micros) — graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // native SQL functions + the footer-aggregate optimizer rule
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = Store.open(
      spark, baseDir,
      cols = Some(Seq(
        "EVENT_ID" -> LongType, "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType)),
      index = Some("TS"),
      bucket = Some("day")) // directory partitioning: __bucket=yyyy-MM-dd/
    println(s"[demo] schema: ${store.schema.catalogString}")

    import org.apache.spark.sql.functions.col
    val events = graft.Tables.events(spark, sfDir)
    if (!store.exists("events")) store.write("events", events)
    println(s"[demo] total rows: ${store("EVENTS").count()}")
    val st = store.describe("EVENTS")
    println(
      s"[demo] describe (footer-only, no scan): rows=${st.rows} " +
        s"range=[${st.minIndex.orNull}, ${st.maxIndex.orNull}] " +
        s"files=${st.files} bytes=${st.bytes}")

    val t0 = Timestamp.valueOf("2024-01-10 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-20 00:00:00")
    val ranged = store.query("events", Some(t0), Some(t1))
    println(s"[demo] rows in [$t0, $t1]: ${ranged.count()}")
    import org.apache.spark.sql.functions._
    ranged.agg(min(col("TS")), max(col("TS"))).show(false)
    // a slice this small is read on the driver when query is called: its
    // plan is a LocalTableScan; with the driver read off
    // (autoBroadcastJoinThreshold -1) the same query is the distributed
    // scan of exactly the in-range buckets' files, bounds pushed to Parquet
    ranged.explain("formatted")
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val dist = store.query("events", Some(t0), Some(t1))
      // the scan's file index (Dataset.inputFiles only sees a FileTable's)
      val files = dist.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .collect { case g: GraftScan => g.parquet.asInstanceOf[ParquetScan].fileIndex.allFiles() }.flatten
      val perBucket = files.groupBy(_.getPath.getParent.getName)
      println(s"[demo] distributed scan: ${files.length} files, per bucket " +
        perBucket.toSeq.sortBy(_._1).map { case (b, fs) => s"$b:${fs.length}" }.mkString(", "))
      dist.explain("formatted")
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))

    store.append("events", events)
    println(s"[demo] after re-append (idempotent): ${store("events").count()}")
    store.appendNewOnly("events", events)
    println(s"[demo] after appendNewOnly same batch: ${store("events").count()}")
    // a batch already on the driver (local rows) is merged against only
    // its own buckets and written on this thread: no Spark job
    val local = spark.createDataFrame(
      java.util.Arrays.asList(store("events").limit(3).collect(): _*), store.schema)
    val (_, localJobs) = jobsDuring(spark)(store.appendNewOnly("events", local))
    println(s"[demo] appendNewOnly of 3 local rows already stored: " +
      s"${store("events").count()} rows, $localJobs Spark jobs")

    // maintenance policy: compact only when small appended files pile up
    val f0 = store.describe("EVENTS").files
    val ran = store.compactIfNeeded("events", maxFiles = f0) // at threshold: no-op
    val (ran2, compactJobs) =
      jobsDuring(spark)(store.compactIfNeeded("events", maxFiles = math.max(1, f0 / 2)))
    println(
      s"[demo] compactIfNeeded: files=$f0 -> noop@maxFiles=$f0 (ran=$ran), " +
        s"compacted@maxFiles=${math.max(1, f0 / 2)} (ran=$ran2, $compactJobs Spark jobs, " +
        s"files now ${store.describe("EVENTS").files}, rows ${store("events").count()})")
    // the 100 TB-shape maintenance op: rewrite only OVERSIZED buckets
    // (O(append-rate), not O(history)); on this freshly-compacted
    // day-bucketed store every bucket is already one file, so it's a
    // metadata-only no-op
    val bRewritten = store.compactBuckets("events", maxFilesPerBucket = 4)
    println(
      s"[demo] compactBuckets: $bRewritten oversized buckets rewritten " +
        s"(threshold 4 files/bucket; rows ${store("events").count()})")

    try store.write("bad key!", events)
    catch { case e: ItemKeyError => println(s"[demo] bad key rejected: ${e.getMessage}") }
    try Store.open(spark, baseDir, cols = Some(Seq("X" -> DoubleType)), index = Some("D"))
    catch { case e: SchemaError => println(s"[demo] schema conflict rejected: ${e.getMessage}") }

    // every mutation above committed a fresh v-<id> version manifest
    // with one _current pointer overwrite; the store is clean
    val current = store.versionsOf("events").filter(_.current)
      .map(v => s"${v.id} (${v.files} files)").mkString
    println(
      s"[demo] versions: current manifest=$current (pointer-PUT commits); " +
        s"vacuum sweeps ${store.vacuum(0L)} files on a clean store")

    // SQL front door (DataSource V2): the item as a table, with
    // index-range predicates pruned to bucket dirs exactly like
    // store.query, and INSERT INTO carrying the += append contract
    spark.sql("DROP TABLE IF EXISTS demo_events")
    spark.sql(s"CREATE TABLE demo_events USING graft " +
      s"OPTIONS (path '$baseDir', item 'EVENTS')")
    val sqlRows = spark.sql(
      "SELECT count(*) AS n FROM demo_events " +
        "WHERE TS BETWEEN '2024-01-10' AND '2024-01-20'"
    ).collect()(0).getLong(0)
    // the printed deltas are MEASURED, not hard-coded: on a re-run
    // against an existing baseDir the row already exists and both
    // inserts honestly report 0
    val before = spark.sql("SELECT count(*) FROM demo_events").collect()(0).getLong(0)
    val (_, insertJobs) = jobsDuring(spark)(spark.sql(
      "INSERT INTO demo_events VALUES (TIMESTAMP'2024-02-01 00:00:00', 999999, 1, 'click', 1.0)"))
    val mid = spark.sql("SELECT count(*) FROM demo_events").collect()(0).getLong(0)
    spark.sql( // idempotent: the same insert again appends zero rows
      "INSERT INTO demo_events VALUES (TIMESTAMP'2024-02-01 00:00:00', 999999, 1, 'click', 1.0)")
    val after = spark.sql("SELECT count(*) FROM demo_events").collect()(0).getLong(0)
    spark.sql("DROP TABLE IF EXISTS demo_events")
    println(
      s"[demo] sql front door: $sqlRows rows in range via SELECT (bucket-pruned), " +
        s"INSERT INTO twice: $before -> $mid -> $after rows " +
        s"(first +${mid - before} with $insertJobs Spark jobs, second +${after - mid}: " +
        "a dedup no-op)")

    // catalog plugin: one conf pair makes the store a SQL catalog —
    // items are discoverable (SHOW TABLES) and queryable by name with
    // zero per-item DDL, through the same pruned GraftTable
    spark.conf.set("spark.sql.catalog.demostore", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.demostore.path", baseDir)
    val catTables = spark.sql("SHOW TABLES IN demostore")
      .collect().map(_.getString(1)).sorted.mkString(",")
    val catRows = spark.sql(
      "SELECT count(*) AS n FROM demostore.EVENTS " +
        "WHERE TS BETWEEN '2024-01-10' AND '2024-01-20'"
    ).collect()(0).getLong(0)
    println(
      s"[demo] catalog: SHOW TABLES IN demostore -> [$catTables]; " +
        s"demostore.EVENTS range SELECT -> $catRows rows (same pruned scan)")

    // CTAS through the staging protocol: nothing visible until commit;
    // a failed CTAS (runtime error mid-SELECT) leaves no item behind
    val ctasRows = {
      spark.sql(
        "CREATE TABLE demostore.JAN AS SELECT * FROM demostore.EVENTS " +
          "WHERE TS BETWEEN '2024-01-10' AND '2024-01-20'")
      spark.sql("SELECT count(*) FROM demostore.JAN").collect()(0).getLong(0)
    }
    val ctasFailClean =
      try {
        spark.sql(
          "CREATE TABLE demostore.BOOM AS SELECT TS, EVENT_ID, USER_ID, EVENT_TYPE, " +
            "CAST(VALUE / (VALUE - VALUE) AS DOUBLE) AS VALUE FROM demostore.EVENTS")
        false // must not reach: ANSI divide-by-zero throws mid-SELECT
      } catch {
        case _: Throwable => spark.sql("SHOW TABLES IN demostore")
          .collect().forall(_.getString(1) != "BOOM")
      }
    println(
      s"[demo] ctas: demostore.JAN AS SELECT -> $ctasRows rows; " +
        s"failed CTAS left no visible item: $ctasFailClean")

    // footer-answered SQL: the unfiltered AND the bucket-aligned ranged
    // report shapes plan NO file scan (both answered by the
    // FooterRangeAggregates rule); "newest k" reads a bucket suffix
    val fa = spark.sql(
      "SELECT count(*), min(TS), max(TS) FROM demostore.EVENTS").collect()(0)
    val faRanged = spark.sql(
      "SELECT count(*) FROM demostore.EVENTS " +
        "WHERE TS >= '2024-01-10' AND TS < '2024-01-20'").collect()(0).getLong(0)
    val faPlanLocal = !spark.sql(
      "SELECT count(*) FROM demostore.EVENTS " +
        "WHERE TS >= '2024-01-10' AND TS < '2024-01-20'")
      .queryExecution.optimizedPlan.toString.contains("RelationV2")
    val newest = spark.sql(
      "SELECT TS FROM demostore.EVENTS ORDER BY TS DESC LIMIT 3")
      .collect().map(_.getTimestamp(0)).mkString(", ")
    println(
      s"[demo] footer-answered sql: count/min/max = ${fa.getLong(0)} / " +
        s"${fa.getTimestamp(1)} / ${fa.getTimestamp(2)} (no scan); " +
        s"day-aligned ranged count = $faRanged " +
        s"(plan is ${if (faPlanLocal) "a LocalRelation, footers only" else "a scan"}); " +
        s"newest-3 via pushed topN = [$newest]")

    // DSv2 streaming read: the item as a micro-batch stream from any
    // binding; AvailableNow drains it once into a memory sink here
    val streamed = {
      val q = spark.readStream.format("graft").option("item", "EVENTS")
        .load(baseDir)
        .writeStream.format("memory").queryName("demo_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table("demo_stream").count()
    }
    println(s"[demo] readStream.format(graft): drained $streamed rows " +
      "via micro-batch file offsets (delta-only on resume; GraftStreamSpec)")

    // cross-JVM writer lease (opt-in): every mutation takes and
    // releases a per-item lease file; multi-driver deployments enable
    // this on every writer
    val lstore = Store.open(
      spark, baseDir + "-leased",
      cols = Some(Seq(
        "EVENT_ID" -> LongType, "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType)),
      index = Some("TS"), writerLease = true)
    lstore.write("events", events)
    lstore.appendNewOnly("events", events)
    // the lease log's max slot carries the "-" released sentinel once
    // the holder let go (slots are claimed, never deleted, so release
    // is a sentinel entry rather than an absent file)
    val leaseHp = new org.apache.hadoop.fs.Path(baseDir + "-leased", ".lease/EVENTS")
    val leaseFs = leaseHp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaseClear = Store.leaseState(leaseFs, leaseHp).forall(_._1 == "-")
    println(
      s"[demo] leased store: rows=${lstore("events").count()} " +
        s"(each mutation claimed a cross-JVM .lease/EVENTS slot; " +
        s"released after: $leaseClear)")

    spark.stop()
  }

  /** `body`'s result and the number of Spark jobs it starts (the demo
    * runs nothing else meanwhile), counted once the listener bus has
    * delivered them.
    */
  private def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
