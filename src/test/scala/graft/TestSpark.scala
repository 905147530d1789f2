package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Bridge

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Jobs are attributed through a job group set on this thread
    * (threads it starts inherit it), so a concurrent job elsewhere in the
    * shared session is not counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = session.sparkContext
    val group = "counted-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      val out = body
      Bridge.drainListeners(session)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` with session conf `key` set to `value`, restoring the
    * previous setting afterwards.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val conf = session.conf
    val prev = conf.getOption(key)
    conf.set(key, value)
    try body
    finally prev.fold(conf.unset(key))(conf.set(key, _))
  }

  /** Runs `body` with the store's driver paths off: every `Store.query`
    * slice it builds is the distributed scan, and every append or
    * compaction runs as Spark jobs.
    */
  def distributed[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** Whether `df` was read on the driver: every leaf of its analyzed
    * plan is a `LocalRelation`.
    */
  def wasReadOnDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** The ParquetScans of a materialized DataFrame's final plan: every
    * `graft` scan's, the Store's own DataFrames included.
    */
  def parquetScans(df: DataFrame): Seq[ParquetScan] = {
    df.collect()
    val root = df.queryExecution.executedPlan
    def strip(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    strip(root).collect { case b: BatchScanExec => b.scan }.collect {
      case ps: ParquetScan => ps
      case g: graft.sources.v2.GraftScan => g.parquet.asInstanceOf[ParquetScan]
    }
  }

  /** The bucket dirs of the files the scan was built over. */
  def bucketDirNames(ps: ParquetScan): Set[String] =
    ps.fileIndex.allFiles().map(_.getPath.getParent.getName).toSet
}
