package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import java.time.{LocalDate, ZoneOffset}
import scala.collection.mutable

/** Helpers shared by the workloads. */
object Common {
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val DayMicros: Long = 86400L * 1000000L

  def dayStartMicros(day: Int): Long =
    Day0.plusDays(day.toLong).atStartOfDay().toEpochSecond(ZoneOffset.UTC) * 1000000L

  def dayStr(day: Int): String = Day0.plusDays(day.toLong).toString

  /** Bytes of every parquet file under `path` (the on-disk size of a
    * store or an input directory).
    */
  def parquetBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      var total = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
      }
      total
    }
  }

  /** Parquet data files under `path`, skipping hidden (`_x`, `.x`)
    * directories the way Spark's file index does; `k=v` partition
    * directories are data.
    */
  def parquetFiles(spark: SparkSession, path: String): Set[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else {
      val root = fs.makeQualified(p).toString + "/"
      val out = mutable.Set.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next().getPath.toString
        val hidden = f.stripPrefix(root).split('/').exists(seg =>
          (seg.startsWith("_") || seg.startsWith(".")) && !seg.contains("="))
        if (f.endsWith(".parquet") && !hidden) out += f
      }
      out.toSet
    }
  }

  /** Files and day buckets one executed query's scans read, from the
    * scan metrics of its final physical plan (adaptive stages included).
    */
  final case class PlanFiles(files: Long, buckets: Long)

  object PlanFiles {
    def apply(df: DataFrame): PlanFiles = {
      var files, parts = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case _ =>
        }
        p match {
          case b: BatchScanExec =>
            val fs = b.inputPartitions.flatMap {
              case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
              case _ => Nil
            }.distinct
            files += fs.size
            parts += fs.flatMap(f => "__bucket=[^/]+".r.findFirstIn(f)).distinct.size
          case f: FileSourceScanExec =>
            f.metrics.get("numFiles").foreach(m => files += m.value)
            f.metrics.get("numPartitions").foreach(m => parts += m.value)
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      PlanFiles(files, parts)
    }
  }

  /** Zipf(s) draw over 0 until n. */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Spark planning time of an executed query (analysis, optimization
    * and physical planning phases).
    */
  def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum

  def summary(xs: Seq[Double], unit: String): M =
    if (xs.isEmpty) M(0.0, unit, Seq("samples" -> 0))
    else M(Stats.median(xs), unit, Seq("samples" -> xs.size))

  def tailOf(xs: Seq[Double], unit: String): M =
    if (xs.isEmpty) M(0.0, unit, Seq("samples" -> 0))
    else {
      val (p, v) = Stats.tail(xs)
      M(v, unit, Seq("percentile" -> p, "samples" -> xs.size))
    }

  /** The end-to-end metrics every workload reports. Each timed call into
    * the program is one closed-loop request: `request_p50_ms` is the
    * median call, failed ones included; `work_per_s` is the work the
    * successful calls completed per second of request time.
    */
  def generic(rec: Recorder, work: Double, workUnit: String): Seq[(String, M)] = {
    val ms = rec.requests.map(_.ms)
    val busyS = ms.sum / 1e3
    Seq(
      "work_per_s" -> M(if (busyS > 0) work / busyS else 0.0, "1/s", Seq("work_unit" -> workUnit)),
      "request_p50_ms" -> summary(ms, "ms"))
  }
}
