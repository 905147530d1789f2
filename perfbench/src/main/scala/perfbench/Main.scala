package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark workload, driven by a single closed-loop client. */
trait Workload {
  /** Opens the stores and generates the inputs from the seed under
    * `dir`: the timed set-up.
    */
  def prepare(): Unit

  /** Runs requests of every kind on throwaway state, so JIT and caches are
    * warm before timing starts (timed on its own, not part of set-up).
    */
  def warmup(): Unit

  /** Sends requests one after another until `deadlineNs` has passed, then
    * finishes the request in flight.
    */
  def run(deadlineNs: Long): Unit

  /** End-of-run checks; called once after `run`. */
  def finish(): Unit

  /** The workload's own metrics, by name (untraced numbers). */
  def metrics: Seq[(String, M)]

  /** Per-layer counters this workload measured in a traced run. */
  def layerCounts: Seq[(String, M)]

  /** Extra fields for the result file. */
  def notes: Seq[(String, Any)] = Nil
}

final case class Ctx(
    spark: SparkSession, dir: String, seed: Long, rec: Recorder, tr: Tracer)

/** Benchmark client (one JVM per run):
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE`.
  * Writes the run's result as JSON to FILE; exit code 0 means the run
  * completed (failed or wrong operations are counted in the result).
  */
object Main {
  val SetupReps = 3

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def make(name: String, c: Ctx): Workload = name match {
    case "corpus_ingest" => new CorpusIngest(c)
    case "tick_store" => new TickStore(c)
    case "query_sweep" => new QuerySweep(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Peak use of the JIT code cache: near its reserved size, the JIT
    * stops compiling and timings drift.
    */
  def codeCachePeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeCache") || p.getName.startsWith("CodeHeap"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val out = a("out")

    // set-up (session start and input generation) is repeated and its
    // median reported; the first repetition is timed from process start,
    // later ones restart the session in the same JVM. The warm-up that
    // follows runs once and is reported on its own.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    var ctx: Ctx = null
    for (i <- 0 until SetupReps) {
      // the previous repetition's session and files are cleared before
      // the clock starts: that is the benchmark's housekeeping, not set-up
      if (spark != null) {
        spark.stop()
        deleteTree(new File(ctx.dir))
      }
      val wall0 =
        if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      val nano0 = System.nanoTime()
      spark = session(work)
      val dir = s"$work/rep$i"
      new File(dir).mkdirs()
      ctx = Ctx(spark, dir, seed, new Recorder, new Tracer(traced && i == SetupReps - 1))
      ctx.tr.attach(spark)
      w = make(name, ctx)
      w.prepare()
      setupS +=
        (if (i == 0) (System.currentTimeMillis() - wall0) / 1e3
         else (System.nanoTime() - nano0) / 1e9)
    }
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    require(ctx.rec.failed == 0, s"warm-up failed: ${ctx.rec.errors.mkString("; ")}")
    ctx.rec.ops.clear()
    ctx.tr.active = ctx.tr.enabled

    val rec = ctx.rec
    val tr = ctx.tr
    val t0 = System.nanoTime()
    w.run(t0 + (seconds * 1e9).toLong)
    val wallS = (System.nanoTime() - t0) / 1e9
    w.finish()
    tr.drain()

    val e2e = mutable.LinkedHashMap.empty[String, M]
    e2e("setup_s") = M(Stats.median(setupS.toSeq), "s", Seq("samples" -> setupS.toSeq))
    e2e("peak_rss_mb") = M(peakRssMb(), "MB")
    e2e("failed_frac") = M(rec.failed.toDouble / math.max(1, rec.attempted), "ratio")
    w.metrics.foreach { case (k, m) => e2e(k) = m }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "measured_s" -> wallS,
      "warmup_s" -> warmupS,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "code_cache_peak_mb" -> codeCachePeakMb(),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "calls_ms" -> rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) => k -> os.map(_.ms).toSeq },
      "metrics" -> e2e) ++ w.notes
    if (traced) {
      result("layers") = Layers.summarize(tr, rec, w.layerCounts)
      Files.writeString(Paths.get(out + ".spans.jsonl"), tr.spans.map { s =>
        Json(Seq("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "exec" -> Exec.Names.zip(s.exec.v.toSeq)))
      }.mkString("", "\n", "\n"))
    }
    Files.writeString(Paths.get(out), Json(result) + "\n")
    spark.stop()
  }
}
