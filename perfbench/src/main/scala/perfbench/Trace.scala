package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spark task metrics summed over the tasks of one span (or a layer). */
final class Exec {
  val v: Array[Long] = new Array[Long](Exec.Names.length)
  def add(o: Exec): Unit = for (i <- v.indices) v(i) += o.v(i)
  def apply(name: String): Long = v(Exec.Names.indexOf(name))
}

object Exec {
  /** `exec.<name>`; times in ms, sizes in bytes. */
  val Names: Seq[String] = Seq(
    "run_ms", "cpu_ms", "gc_ms", "sched_delay_ms", "fetch_wait_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "tasks", "jobs", "records_written")
  val Units: Map[String, String] = Names.map { n =>
    n -> (if (n.endsWith("_ms")) "ms" else if (n.endsWith("_bytes")) "bytes" else "count")
  }.toMap
}

/** One span: a call from the benchmark into a layer of the program.
  * `req` is shared by every span of one closed-loop request.
  */
final case class Span(id: Int, parent: Int, req: Long, name: String, startNs: Long) {
  var endNs: Long = 0L
  val exec = new Exec
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off (the untraced run), `span` is a plain
  * call; on, it records the span and tags every Spark job the call
  * starts with the span id through a local property, which the listener
  * below uses to attribute task metrics to the span.
  */
final class Tracer(val enabled: Boolean) {
  /** Set once warm-up is over; spans are recorded only while active. */
  var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var reqSeq = 0L
  private var spark: SparkSession = _
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val spanById = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) s.sparkContext.addSparkListener(listener)
  }

  /** A closed-loop request: the root span its layer calls hang under. */
  def request[T](name: String)(body: => T): T = {
    reqSeq += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.fold(-1)(_.id), reqSeq, name, System.nanoTime())
      spans += s
      spanById.put(s.id, s)
      stack.push(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
      }
    }

  /** Waits until every listener event has been attributed. */
  def drain(): Unit = if (enabled && spark != null) PerfbenchBridge.drainListeners(spark.sparkContext)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      id.flatMap(i => Option(spanById.get(i.toInt))).foreach { s =>
        s.exec.synchronized(s.exec.v(Exec.Names.indexOf("jobs")) += 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.exec.synchronized {
        val info = e.taskInfo
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        val add = Seq(
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime, sched,
          m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, 1L,
          0L, m.outputMetrics.recordsWritten)
        for (i <- add.indices) s.exec.v(i) += add(i)
      }
    }
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, ks) => p -> ks.map(_.durMs).sum }
    spans.map(s => s.id -> (s.durMs - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Layer of a span name: the part before the first dot, with the
    * request roots (`*.request`) and the analytic queries renamed to the
    * layer they stand for.
    */
  def layer(name: String): String = name.takeWhile(_ != '.') match {
    case "query" | "sweep" => "analytic"
    case "req" => "bench"
    case l => l
  }
}
