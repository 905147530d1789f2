package graft

import graft.plans.GraftExtensions
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The codegen cache floor [[GraftExtensions]] sets, each check in a fresh
  * JVM ([[CodegenChild]]): the first compile of generated code fixes the
  * cache's size for the life of a JVM, so this suite's own shared session
  * could not show it.
  */
class CodegenCacheSpec extends AnyFunSuite {
  val dir = "/root/testdata/sf0.001"
  import CodegenChild.Key

  /** The child's `name value` report lines, after it exited 0. */
  def runChild(args: String*): Map[String, String] = {
    val (proc, log) = ChildJvm.fork("graft.CodegenChild", args)
    val done = proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) proc.destroyForcibly()
    assert(done && proc.exitValue() == 0, s"child failed; log:\n${ChildJvm.tail(log)}")
    scala.io.Source.fromFile(log, "UTF-8").getLines()
      .collect { case l if l.startsWith("report ") => l.split(" ") }
      .map(a => a(1) -> a(2)).toMap
  }

  // stream_tumbling runs in both passes but is not counted: each run of
  // a streaming query executes in a session clone of its own, whose
  // tasks load generated classes through their own executor class
  // loader — part of the codegen cache's key — so every call compiles
  // its task-side classes again, whatever the cache's size
  // the second pass compiled 0 classes in all but one of seven runs; the
  // other, inside a full suite run, compiled 4 (cause not found), so the
  // check allows a few: with Spark's default 100 entries it compiles
  // about 340, nearly the whole first pass
  test("a graft session holds query_sweep's generated classes: its second pass compiles nothing") {
    val r = runChild(dir, "2")
    assert(r(Key) == GraftExtensions.CodegenCacheFloor.toString, s"$r")
    assert(r("compiles.1").toLong > 100, s"the first pass must compile its plans: $r")
    assert(r("compiles.2").toLong * 20 <= r("compiles.1").toLong, s"$r")
  }

  test("a codegen cache size the user set wins over the floor") {
    assert(runChild(dir, "0", "64")(Key) == "64")
  }
}

/** The fresh JVM of [[CodegenCacheSpec]]:
  * `CodegenChild <corpusDir> <passes> [maxEntries]`. Builds a session
  * with [[GraftExtensions]] (and `spark.sql.codegen.cache.maxEntries`
  * when given), then runs perfbench query_sweep's 18 registered queries
  * `passes` times over the corpus. Prints `report <name> <value>` lines:
  * the session's cache size, and the classes each pass compiled for its
  * 17 batch queries.
  */
object CodegenChild {
  val Key: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
  val SweepIds: Seq[String] = Seq(
    "agg_hash", "agg_stats", "join_inner", "win_rank", "topk_pergroup",
    "join_asof", "resample_ohlcv", "ts_rolling_corr", "sessionize", "ts_concurrency",
    "stream_tumbling", "sim_cosine_topk", "sim_ann_ivf", "embed_kmeans",
    "text_normalize", "text_quality", "dedup_minhash", "corpus_mix")

  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-codegen-child")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = args.lift(2).fold(b)(b.config(Key, _)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"report $Key ${spark.conf.get(Key)}")
    for (pass <- 1 to args(1).toInt) {
      val compiled = SweepIds.map { id =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        SparkEntry.queries(id)(spark, args(0)).collect()
        spark.catalog.clearCache()
        id -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
      }
      println(s"report compiles.$pass ${compiled.filter(_._1 != "stream_tumbling").map(_._2).sum}")
    }
    spark.stop()
  }
}
