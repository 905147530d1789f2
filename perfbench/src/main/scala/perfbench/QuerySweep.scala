package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** query_sweep: a fixed set of registered queries over a seeded
  * TPC-H-shaped corpus and a crawl of documents, called through
  * `SparkEntry.queries`. Each pass runs every query once, in an order the
  * seed permutes; every query call is one closed-loop request.
  * Exercises operators.Relational, operators.TimeSeries,
  * streaming.Streams, functions.VectorKernels, the text and dedup
  * operators of operators.LlmOps, and the Spark shuffle; never touches
  * sources.Store.
  *
  * Checks: every execution must return the rows of the warm-up
  * execution (row count plus an order-insensitive checksum); the warm-up
  * results themselves are dumped for the DuckDB oracle compare the
  * launcher runs after the JVM exits.
  */
final class QuerySweep(c: Ctx) extends Workload {
  import Common._
  import c._

  val Groups: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("agg_hash", "agg_stats", "join_inner", "win_rank", "topk_pergroup"),
    "timeseries" -> Seq("join_asof", "resample_ohlcv", "ts_rolling_corr", "sessionize", "ts_concurrency"),
    "stream" -> Seq("stream_tumbling"),
    "vector" -> Seq("sim_cosine_topk", "sim_ann_ivf", "embed_kmeans"),
    "text" -> Seq("text_normalize", "text_quality", "dedup_minhash", "corpus_mix"))
  val Ids: Seq[String] = Groups.flatMap(_._2)

  /** Span of a query: the text queries carry corpus_ingest's names for
    * the same operators (layer `llm`), the others `query.<id>`.
    */
  private val LlmSpans = Map("text_normalize" -> "llm.normalize", "text_quality" -> "llm.quality",
    "dedup_minhash" -> "llm.dedup", "corpus_mix" -> "llm.mix")
  private def spanOf(id: String): String = LlmSpans.getOrElse(id, s"query.$id")

  /** Fresh documents of the crawl the text queries read. */
  val TextDocs = 300

  /** Corpus scale, relative to the TPC-H-style sf = 1 sizes. */
  val Sf = 0.005
  private def n(perSf: Double): Long = math.max(1L, math.round(perSf * Sf))

  private val data = s"$dir/data"
  private val ref = mutable.Map.empty[String, (Int, Long)]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val refRows = mutable.Map.empty[String, Array[Row]]

  // ---- seeded corpus -------------------------------------------------------
  private def h(salt: Int): Column = xxhash64(lit(seed), lit(salt), col("id"))
  private def uni(salt: Int, k: Long): Column = pmod(h(salt), lit(k))
  private def pick(salt: Int, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (uni(salt, xs.size.toLong) + 1).cast("int"))
  private def daysTs(salt: Int, fromEpochDay: Long, span: Long): Column =
    timestamp_seconds((lit(fromEpochDay) + uni(salt, span)) * 86400L)

  private def write(name: String, df: DataFrame): Unit =
    df.write.parquet(s"$data/$name.parquet")

  def prepare(): Unit = {
    // INT96 timestamps read back as naive TIMESTAMP on both engines
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val nOrders = n(1500000); val nCust = n(150000); val nPart = n(200000); val nSupp = n(10000)
    val nEvents = n(1000000); val nUsers = n(15000); val nVec = n(20000)
    write("lineitem", spark.range(n(6000000)).select(
      uni(1, nOrders).as("l_orderkey"), uni(2, nPart).as("l_partkey"), uni(3, nSupp).as("l_suppkey"),
      (uni(4, 7) + 1).cast("int").as("l_linenumber"), (uni(5, 50) + 1).cast("double").as("l_quantity"),
      ((uni(6, 10400000L) + 90000) / 100.0).as("l_extendedprice"), (uni(7, 11) / 100.0).as("l_discount"),
      (uni(8, 9) / 100.0).as("l_tax"), pick(9, "A", "N", "R").as("l_returnflag"),
      pick(10, "O", "F").as("l_linestatus"), daysTs(11, 8035, 3650).as("l_shipdate")))
    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"), uni(1, nCust).as("o_custkey"), pick(2, "O", "F", "P").as("o_orderstatus"),
      ((uni(3, 50000000L) + 100000) / 100.0).as("o_totalprice"), daysTs(4, 8035, 3650).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"), concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      uni(1, 25).cast("int").as("c_nationkey"), ((uni(2, 1100000L) - 100000) / 100.0).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    // events: ~30 days, time increasing with event_id
    val step = 30L * 86400L * 1000000L / nEvents
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * step + uni(1, step)).as("ts"),
      uni(2, nUsers).as("user_id"), pick(3, "click", "view", "purchase", "signup", "error").as("event_type"),
      (uni(4, 56022) / 100.0).as("value"), concat(lit("{\"k\": "), uni(5, 100).cast("string"), lit("}")).as("props")))
    // embeddings: 64-d vectors around one of ten label centres
    write("embeddings", spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(lit(seed), lit(12), uni(1, 10), i), lit(2000L)) / 1000.0 - 1.0) +
          (pmod(xxhash64(lit(seed), lit(13), col("id"), i), lit(2000L)) / 1000.0 - 1.0) * 0.3)
          .cast("float")).as("embedding"),
      uni(1, 10).cast("int").as("label")))
    Docs.land(spark, Docs.batch(seed, 0, TextDocs), data)
  }

  // ---- passes ----------------------------------------------------------------
  /** Order-insensitive checksum of a result: row count and the sum of
    * per-row hashes.
    */
  private def digest(rows: Array[Row]): (Int, Long) =
    (rows.length, rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong).sum)

  private def runQuery(id: String): Array[Row] = {
    val rows = SparkEntry.queries(id)(spark, data).collect()
    spark.catalog.clearCache()
    rows
  }

  /** One full pass: JIT and Spark's code caches are warm before timing
    * starts, and its results are the reference every timed execution
    * must reproduce. They are dumped for the oracle compare. Nothing is
    * timed here, so four queries run at a time; the caches they warm are
    * shared by every thread.
    */
  def warmup(): Unit = {
    val oracle = s"$dir/oracle"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      Ids.map { id =>
        pool.submit(new java.util.concurrent.Callable[Array[Row]] {
          def call(): Array[Row] = {
            val df = SparkEntry.queries(id)(spark, data)
            val rows = df.collect()
            spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
              .write.parquet(s"$oracle/$id")
            rows
          }
        })
      }.zip(Ids).foreach { case (f, id) =>
        val rows = f.get()
        ref(id) = digest(rows)
        refRows(id) = rows
      }
    } finally pool.shutdown()
    spark.catalog.clearCache()
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Ids.contains(k) }
    Files.writeString(Paths.get(s"$oracle/oracle_sql.json"), Json(sql))
  }

  /** Whole passes until the deadline, each the full query set in an
    * order the seed permutes.
    */
  def run(deadlineNs: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadlineNs) {
      val order = new scala.util.Random(seed * 31L + pass).shuffle(Ids)
      val t0 = System.nanoTime()
      tr.request("req.pass") {
        for (id <- order)
          rec.timed(id)(tr.span(spanOf(id))(runQuery(id)))(rows => digest(rows) == ref(id))
      }
      passMs += (System.nanoTime() - t0) / 1e6
      pass += 1
    }
    Ids.foreach(id => perQuery(id) = mutable.ArrayBuffer(rec.ms(id): _*))
  }

  def finish(): Unit = ()

  def metrics: Seq[(String, M)] = {
    val medS = Ids.filter(perQuery(_).nonEmpty).map(id => Stats.median(perQuery(id).toSeq) / 1e3)
    generic(rec, rec.requests.count(_.ok).toDouble, "queries") ++ Seq(
      "sweep_s" -> summary(passMs.map(_ / 1e3).toSeq, "s"),
      "query_geomean_s" -> M(if (medS.size == Ids.size) Stats.geomean(medS) else 0.0, "s"))
  }

  /** Where the launcher finds the oracle inputs, and how many timed
    * executions each query had (a query that fails the oracle compare
    * fails every one of them).
    */
  override def notes: Seq[(String, Any)] = Seq(
    "oracle" -> Seq("results" -> s"$dir/oracle", "data" -> data,
      "executions" -> Ids.map(id => id -> rec.ops.count(_.kind == id))))

  def layerCounts: Seq[(String, M)] = {
    val docs = TextDocs + TextDocs / 10
    val pairs = refRows("dedup_minhash")
    Ids.map(id => s"${spanOf(id)}.ms" -> summary(perQuery(id).toSeq, "ms")) ++
      Groups.map { case (g, ids) =>
        s"sweep.$g.ms" -> M(ids.map(id => if (perQuery(id).isEmpty) 0.0 else Stats.median(perQuery(id).toSeq)).sum, "ms")
      } ++ Seq(
        "llm.dedup.pairs" -> M(pairs.length.toDouble, "pairs"),
        "llm.dedup.drop_ratio" -> M(pairs.map(_.getLong(1)).distinct.length.toDouble / docs, "ratio"),
        "llm.mix.keep_ratio" -> M(refRows("corpus_mix").length.toDouble / docs, "ratio"))
  }
}
