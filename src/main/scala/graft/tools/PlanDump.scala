package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Prints the formatted physical plan of the named queries (or all) —
  * used to audit pushdown, broadcast choice, and whole-stage codegen
  * coverage. JVM identity hashes (`@4adb2b87`, a lambda's
  * `$$Lambda$4412/0x…`) are masked, so two runs over the same tree print
  * the same bytes and a before/after plan diff shows only real changes.
  * Run:
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 join_broadcast scan_range"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names if SparkEntry.queries.contains(n) && !n.startsWith("stream")) {
      println(s"\n=================== $n ===================")
      println(masked(SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }

  /** `plan` with JVM identity hashes replaced by fixed placeholders. */
  def masked(plan: String): String =
    plan.replaceAll("""\$\$Lambda\$?[0-9]*/0x[0-9a-f]+""", "\\$\\$Lambda/<id>")
      .replaceAll("@[0-9a-f]{4,}\\b", "@<hash>")
}
