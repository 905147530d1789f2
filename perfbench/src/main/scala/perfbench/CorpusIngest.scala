package perfbench

import graft.SparkEntry
import graft.sources.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** corpus_ingest: an LLM text corpus through the whole stack, one crawl
  * day per batch. Per batch the client lands the raw crawl in the store,
  * runs text_normalize → text_quality → dedup_minhash → corpus_mix
  * through `SparkEntry.queries`, appends the kept documents to a curated
  * item and reads the day back through catalog SQL. Each of these calls
  * is one closed-loop request. Heavy on operators.LlmOps, light on
  * sources.Store.
  *
  * Input per batch (seeded, `Docs.batch`): `BatchDocs` fresh documents, a
  * tenth as many of them cloned with one extra word (Jaccard > 0.9, caught
  * by dedup_minhash) and a twentieth as many exact copies of the previous
  * day's documents (caught by appendNewOnly in both items).
  */
final class CorpusIngest(c: Ctx) extends Workload {
  import Common._
  import Docs.Doc
  import c._

  val BatchDocs = 150
  val QualityMin = 0.5
  /** Days landed during set-up; later days are landed as the loop needs them. */
  val PreLanded = 2
  /** Fresh documents per warm-up batch. */
  val WarmDocs = 60

  private val cols = Seq("DOC_ID" -> LongType, "TEXT" -> StringType, "LANG" -> StringType,
    "SOURCE" -> StringType)
  private val curatedCols = Seq("DOC_ID" -> LongType, "TEXT" -> StringType,
    "SOURCE" -> StringType, "N_TOK" -> LongType, "QUALITY" -> DoubleType)

  /** One pipeline instance: a store with both items created empty, its
    * catalog name and its ledger.
    */
  private final class Pipeline(base: String, val catalog: String) {
    val raw = Store.open(spark, s"$base/raw", cols = Some(cols), index = Some("TS"), bucket = Some("day"))
    val cur = Store.open(spark, s"$base/curated", cols = Some(curatedCols), index = Some("TS"),
      bucket = Some("day"))
    for ((s, k, cs) <- Seq((raw, "RAW", cols), (cur, "CURATED", curatedCols))) {
      val t0 = System.nanoTime()
      s.write(k, spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(StructField("TS", TimestampType) +: cs.map { case (n, t) => StructField(n, t) })))
      writeMs += (System.nanoTime() - t0) / 1e6
    }
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.path", s"$base/curated")
    /** doc_id -> crawl timestamp (µs) of every document that must be in CURATED. */
    val curated = mutable.Map.empty[Long, Long]
    val offered = mutable.Set.empty[Long]
  }

  private var main: Pipeline = _
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var docsDone = 0L
  private var inputBytes = 0L
  // traced-run counters
  private var rowsOffered, filesWritten = 0L
  private val writeMs = mutable.ArrayBuffer.empty[Double]
  private var pairs, dropped, mixIn, mixKept, docsIn = 0L
  private val sqlPlanMs, sqlExecMs = mutable.ArrayBuffer.empty[Double]
  private var sqlFiles, sqlBuckets, sqlCount = 0L

  private val landed = mutable.Map.empty[Int, IndexedSeq[Doc]]

  private def landDay(b: Int, size: Int, in: String): IndexedSeq[Doc] = {
    val docs = Docs.batch(seed, b, size)
    Docs.land(spark, docs, s"$in/b$b")
    docs
  }

  def prepare(): Unit = {
    main = new Pipeline(s"$dir/store", "cur")
    for (b <- 0 until PreLanded) landed(b) = landDay(b, BatchDocs, s"$dir/in")
  }

  def warmup(): Unit = {
    val w = new Pipeline(s"$dir/warm", "curw")
    step(w, 0, s"$dir/warm-in", landDay(0, WarmDocs, s"$dir/warm-in"))
  }

  def run(deadlineNs: Long): Unit = {
    var b = 0
    while (System.nanoTime() < deadlineNs) {
      val in = s"$dir/in"
      val docs = landed.remove(b).getOrElse(landDay(b, BatchDocs, in))
      inputBytes += docs.map(d => 16L + d.text.length + d.lang.length + d.source.length).sum
      val failed0 = rec.failed
      val t0 = System.nanoTime()
      tr.request("req.batch")(step(main, b, in, docs))
      batchMs += (System.nanoTime() - t0) / 1e6
      if (rec.failed == failed0) docsDone += docs.size
      b += 1
    }
  }

  private def call[T](kind: String)(body: => T)(check: T => Boolean): Option[T] =
    rec.timed(kind)(tr.span(kind)(body))(check)

  /** Appends `df` to an item; in a traced run, counts the offered rows
    * and the data files the call added.
    */
  private def put(s: Store, key: String, df: DataFrame, offered: Long): Unit = {
    val before = if (tr.active) parquetFiles(spark, s"$dir/store") else Set.empty[String]
    s.appendNewOnly(key, df)
    if (tr.active) {
      rowsOffered += offered
      filesWritten += (parquetFiles(spark, s"$dir/store") -- before).size
    }
  }

  /** Runs batch `b` through `p`, up to the first call that throws. */
  private def step(p: Pipeline, b: Int, in: String, docs: Seq[Doc]): Unit = {
    val bdir = s"$in/b$b"
    val ndir = s"$in/n$b"
    val n = docs.size
    val raw = spark.read.parquet(s"$bdir/documents.parquet")
      .select(col("ts").as("TS"), col("doc_id").as("DOC_ID"), col("text").as("TEXT"),
        col("lang").as("LANG"), col("source").as("SOURCE"))
    val wrote = call("store.append")(put(p.raw, "RAW", raw, n))(_ => true)
    if (wrote.isEmpty) return
    p.offered ++= docs.map(_.id)

    val normalized = call("llm.normalize") {
      val norm = SparkEntry.queries("text_normalize")(spark, bdir)
      norm.join(spark.read.parquet(s"$bdir/documents.parquet").select("doc_id", "ts", "lang", "source"), "doc_id")
        .select(col("doc_id"), col("norm_text").as("text"), col("lang"), col("source"),
          length(col("norm_text")).cast("long").as("n_chars"), col("n_tok"), col("ts"))
        .write.parquet(s"$ndir/documents.parquet")
    }(_ => true)
    if (normalized.isEmpty) return

    val ids = docs.map(_.id).toSet
    val quality = call("llm.quality") {
      SparkEntry.queries("text_quality")(spark, ndir).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toMap
    }(q => q.size == ids.size && q.keySet == ids).getOrElse(return)

    // near-duplicates carry ids from 50000 up within their day (see `Docs.batch`)
    val planted = docs.count(d => d.id % 100000L >= 50000L)
    val dupPairs = call("llm.dedup") {
      SparkEntry.queries("dedup_minhash")(spark, ndir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    }(ps => ps.forall { case (a, bb, j) => a < bb && j >= 0.8 && ids(a) && ids(bb) } &&
      ps.length >= planted * 9 / 10).getOrElse(return)

    val mixed = call("llm.mix") {
      SparkEntry.queries("corpus_mix")(spark, ndir).collect().map(_.getLong(0)).toSet
    }(_.subsetOf(ids)).getOrElse(return)

    val drop = dupPairs.map(_._2).toSet
    val kept = mixed.filter(id => quality(id) >= QualityMin && !drop(id))
    if (tr.active) {
      pairs += dupPairs.length; dropped += drop.size; docsIn += n
      mixIn += n; mixKept += mixed.size
    }

    val tsOf = docs.map(d => d.id -> d.ts).toMap
    val wroteBack = call("llm.writeback") {
      val keep = spark.createDataFrame(kept.toSeq.map(id => (id, quality(id)))).toDF("doc_id", "quality")
      val df = spark.read.parquet(s"$ndir/documents.parquet").join(keep, "doc_id")
        .select(col("ts").as("TS"), col("doc_id").as("DOC_ID"), col("text").as("TEXT"),
          col("source").as("SOURCE"), col("n_tok").as("N_TOK"), col("quality").as("QUALITY"))
      tr.span("store.append")(put(p.cur, "CURATED", df, kept.size))
    }(_ => true)
    if (wroteBack.isEmpty) return
    kept.foreach(id => p.curated(id) = tsOf(id))

    // the day just landed, read back through the catalog
    val lo = dayStartMicros(b)
    val want = p.curated.collect { case (id, ts) if ts >= lo && ts < lo + DayMicros => id }.toSet
    call("llm.slice") {
      tr.span("v2.sql") {
        val df = spark.sql(s"SELECT DOC_ID FROM ${p.catalog}.CURATED " +
          s"WHERE TS >= '${dayStr(b)}' AND TS < '${dayStr(b + 1)}'")
        val t0 = System.nanoTime()
        val rows = df.collect().map(_.getLong(0))
        if (tr.active) {
          sqlExecMs += (System.nanoTime() - t0) / 1e6
          sqlPlanMs += planMs(df)
          val f = PlanFiles(df)
          sqlFiles += f.files; sqlBuckets += f.buckets; sqlCount += 1
        }
        rows
      }
    }(rows => rows.length == want.size && rows.toSet == want)
  }

  def finish(): Unit = {
    rec.check("check.curated") {
      val ids = spark.sql("SELECT DOC_ID FROM cur.CURATED").collect().map(_.getLong(0))
      ids.length == ids.distinct.length && ids.toSet == main.curated.keySet
    }
    rec.check("check.raw")(main.raw("RAW").count() == main.offered.size)
  }

  private def storeBytes: Long = parquetBytes(spark, s"$dir/store")

  def metrics: Seq[(String, M)] = {
    val gen = generic(rec, docsDone.toDouble, "raw docs")
    gen ++ Seq(
      "docs_per_s" -> gen.toMap.apply("work_per_s").copy(unit = "docs/s",
        extra = Seq("batches" -> batchMs.size, "docs" -> docsDone)),
      "batch_p50_s" -> summary(batchMs.map(_ / 1e3).toSeq, "s"),
      "space_amp" -> M(if (inputBytes > 0) storeBytes.toDouble / inputBytes else 0.0, "ratio",
        Seq("store_bytes" -> storeBytes, "input_bytes" -> inputBytes)))
  }

  def layerCounts: Seq[(String, M)] = {
    val appendSpans = tr.spans.filter(_.name == "store.append")
    val rowsKept = appendSpans.map(_.exec("records_written")).sum
    Seq(
      "store.write.ms" -> summary(writeMs.toSeq, "ms"),
      "store.append.rows_offered" -> M(rowsOffered.toDouble, "rows"),
      "store.append.rows_kept" -> M(rowsKept.toDouble, "rows"),
      "store.append.keep_ratio" -> M(if (rowsOffered > 0) rowsKept.toDouble / rowsOffered else 0.0, "ratio"),
      "store.append.bytes_written" -> M(appendSpans.map(_.exec("output_bytes")).sum.toDouble, "bytes"),
      "store.append.files_written" -> M(filesWritten.toDouble, "files"),
      "store.item.files" -> M(Seq("RAW" -> main.raw, "CURATED" -> main.cur)
        .map { case (k, s) => s.describe(k).files }.sum.toDouble, "files"),
      "v2.sql.plan_ms" -> summary(sqlPlanMs.toSeq, "ms"),
      "v2.sql.exec_ms" -> summary(sqlExecMs.toSeq, "ms"),
      "v2.sql.files_read" -> M(if (sqlCount > 0) sqlFiles.toDouble / sqlCount else 0.0, "files"),
      "v2.sql.buckets_scanned" -> M(if (sqlCount > 0) sqlBuckets.toDouble / sqlCount else 0.0, "buckets"),
      "llm.dedup.pairs" -> M(pairs.toDouble, "pairs"),
      "llm.dedup.drop_ratio" -> M(if (docsIn > 0) dropped.toDouble / docsIn else 0.0, "ratio"),
      "llm.mix.keep_ratio" -> M(if (mixIn > 0) mixKept.toDouble / mixIn else 0.0, "ratio"))
  }
}
