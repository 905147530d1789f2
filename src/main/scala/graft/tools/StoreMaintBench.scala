package graft.tools

import graft.sources.Store
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Maintenance-cost receipt: whole-item compact() vs bucket-granular
  * compactBuckets() on a store whose append churn lands in ONE hot
  * bucket of many — the steady-state shape of a time-series store
  * (history cold, the current period accumulating small files).
  * compact() pays O(history) to fix it; compactBuckets() pays O(hot
  * bucket). It also times each store's 12 M-row write and its eight
  * non-local appendNewOnly calls into the hot bucket, the write and
  * compact of the same 12 M rows as one unbucketed item (a single unit
  * of the mutation kernel, so each runs in one task), vacuum's orphan
  * sweep, whose cost must track the orphan count, never the history
  * size, a full describe and a prune of the oldest 12 months. Run:
  *   sbt "runMain graft.tools.StoreMaintBench /tmp/maintbench"
  * Prints one line per strategy; the receipt lives in PLANS.md.
  */
object StoreMaintBench {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/tmp/maintbench")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val months = 48
    val rowsPerMonth = 250000
    val hotAppends = 8

    def monthData(m: Int, seed: Int): org.apache.spark.sql.DataFrame = {
      val t0 = java.time.LocalDate.parse("2020-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC).plusMonths(m.toLong)
      spark.range(rowsPerMonth.toLong)
        .select(
          // spread rows across the month, keyed by (seed, id) so every
          // append batch is disjoint
          expr(s"timestamp_micros(${t0.toInstant.toEpochMilli} * 1000 + id * 25000000 % 2500000000000)")
            .as("ts"),
          (col("id") + seed.toLong * 10000000L).as("event_id"),
          (col("id") % 997).as("user_id"),
          rand(seed.toLong).as("value"))
    }

    def freshStore(dir: String, bucket: Option[String]): Store = {
      ToolUtil.wipeDir(dir)
      // chunkRows sized so the hot bucket holds many canonical chunks
      // (45 for its 2.25 M rows) — at production scale a hot bucket
      // holds many chunks by construction; the default 1 M would make
      // this small fixture a degenerate 3-file rewrite. Each bucket is
      // one unit of the mutation kernel, so the rewrite runs in one task
      Store.open(spark, dir,
        cols = Some(Seq(
          "EVENT_ID" -> LongType, "USER_ID" -> LongType, "VALUE" -> DoubleType)),
        index = Some("TS"), bucket = bucket, chunkRows = 50000L)
    }

    // `months` months of history in one write
    def writeHistory(s: Store): Unit =
      s.write("EVENTS", (0 until months).map(monthData(_, 0)).reduce(_ unionByName _))

    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[maintbench] $label%-18s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    def build(dir: String, tag: String): Store = {
      val s = freshStore(dir, Some("month"))
      timed(s"write ($tag)") { writeHistory(s) }
      // then append churn into the LAST month only (the hot bucket)
      timed(s"$hotAppends appendNewOnly ($tag)") {
        (1 to hotAppends).foreach(i =>
          s.appendNewOnly("EVENTS", monthData(months - 1, i)))
      }
      s
    }

    val hotSince = Timestamp.from(
      java.time.LocalDate.parse("2020-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC).plusMonths((months - 1).toLong).toInstant)

    val s2dir = baseDir + "-buckets"
    val s2 = build(s2dir, "buckets")
    timed("compactBuckets") {
      val n = s2.compactBuckets("EVENTS", maxFilesPerBucket = 8,
        since = Some(hotSince))
      println(s"[maintbench] buckets rewritten: $n")
    }

    timed("compactBuckets 2nd") {
      val n = s2.compactBuckets("EVENTS", maxFilesPerBucket = 8,
        since = Some(hotSince))
      println(s"[maintbench] buckets rewritten on 2nd call: $n (must be 0)")
    }

    val s1 = build(baseDir + "-whole", "whole")
    timed("compact (whole)") { s1.compact("EVENTS") }
    // same end state where it matters: the hot bucket is small again
    println(s"[maintbench] rows whole=${s1("EVENTS").count()} buckets=${s2("EVENTS").count()}")

    // an unbucketed item is a single unit: the same 12 M rows written
    // and compacted with no bucket to split them by
    val s3 = freshStore(baseDir + "-flat", None)
    timed("write (flat)") { writeHistory(s3) }
    timed("compact (flat)") { s3.compact("EVENTS") }
    println(s"[maintbench] rows flat=${s3("EVENTS").count()} (expect ${months * rowsPerMonth})")
    ToolUtil.wipeDir(baseDir + "-flat")

    // orphan sweep: plant k data files no manifest names — exactly the
    // debris a mutation that died before its commit leaves — and time
    // vacuum(0) at two orphan counts over the SAME 48-month history.
    // Equal-size orphans, so a constant cost-per-orphan line means the
    // sweep scales with debris, not with the item.
    def plantOrphans(k: Int, tag: String): Unit =
      (1 to k).foreach { i =>
        val tmp = s"$baseDir-orphan"
        monthData(0, 1000 + i).limit(20000).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(
          s"$s2dir/items/EVENTS/data/__bucket=2020-01/part-$tag$i.parquet"))
        ToolUtil.wipeDir(tmp)
      }
    plantOrphans(2, "orphan-a")
    timed("vacuum 2 orphans") {
      println(s"[maintbench] swept: ${s2.vacuum(0L)} (expect 2)")
    }
    plantOrphans(8, "orphan-b")
    timed("vacuum 8 orphans") {
      println(s"[maintbench] swept: ${s2.vacuum(0L)} (expect 8)")
    }
    timed("vacuum 0 orphans") {
      println(s"[maintbench] swept: ${s2.vacuum(0L)} (expect 0 — steady state)")
    }
    println(s"[maintbench] rows after sweeps=${s2("EVENTS").count()} (unchanged)")

    // metadata over the whole history, then retention of its oldest year
    timed("describe (full)") {
      println(s"[maintbench] describe rows=${s2.describe("EVENTS").rows}")
    }
    timed("prune 12 months") {
      val n = s2.prune("EVENTS", Timestamp.from(java.time.LocalDate.parse("2021-01-01")
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
      println(s"[maintbench] buckets pruned: $n (expect 12)")
    }
    println(s"[maintbench] rows after prune=${s2("EVENTS").count()} " +
      s"(expect ${(months - 12) * rowsPerMonth + hotAppends * rowsPerMonth})")

    spark.stop()
  }
}
