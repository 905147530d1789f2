package graft

import graft.streaming.Streams
import graft.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ops are not oracle-checkable; correctness is asserted by
  * batch-equivalence (SURVEY.md §5.4): the streamed result must equal
  * the identical computation done as a plain batch query.
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"

  test("stream_tumbling equals batch tumbling aggregation") {
    val streamed = Streams.tumbling(spark, dir)
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("stream_funnel equals batch funnel_steps (same 4h window), single run and staged batches") {
    // single-run equivalence: final per-user grade == the batch op
    val streamed = Streams.funnel(spark, dir)
    val batch = SparkEntry.queries("funnel_steps")(spark, dir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)

    // staged time-ordered micro-batches (the in-order delivery contract):
    // chain steps that SPAN batch boundaries must still complete
    val work = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.33)", "percentile(unix_micros(ts), 0.66)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)}")))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$work/in/b$i")
      stampMtime(s"$work/in/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")
    val q = Streams.funnelOn(src).writeStream
      .format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = spark.read.parquet(s"$work/out")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("steps"))).as("fin"))
      .select(col("user_id"), col("fin.n_events"), col("fin.steps"))
    assert(fin.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(fin).count() == 0)
  }

  test("stream_funnel: same-microsecond prerequisites apply first regardless of event_id order") {
    import spark.implicits._
    // user 1: view and click share a microsecond, click has the SMALLER
    // event_id — (ts, event_id) ordering would process the click before
    // its prerequisite view and leave it unqualified forever (batch
    // funnel_steps counts v <= t, so the right answer is steps=2);
    // user 2: full chain with view/click and click/purchase ties
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val work = java.nio.file.Files.createTempDirectory("graft-funnel-tie").toString
    Seq(
      (5L, t0, 1L, "view", 1.0),
      (4L, t0, 1L, "click", 1.0),
      (9L, t0, 2L, "view", 1.0),
      (8L, t0, 2L, "click", 1.0),
      (7L, t0, 2L, "purchase", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$work/in/b0")
    val src = spark.readStream.schema(
      spark.read.parquet(s"$work/in/b0").schema)
      .option("recursiveFileLookup", "true").parquet(s"$work/in")
    val q = Streams.funnelOn(src).writeStream
      .format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = spark.read.parquet(s"$work/out")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("steps"))).getField("steps").as("steps"))
      .as[(Long, Long)].collect().toMap
    assert(fin == Map(1L -> 2L, 2L -> 3L), s"tie-break broken: $fin")
  }

  test("stream_funnel: a view arriving a micro-batch AFTER its click still grades (buffered re-evaluation)") {
    import spark.implicits._
    // batch 0 delivers dependents first: user 1's click, user 2's
    // click+purchase, user 3's lone click (control — its view never
    // comes). batch 1 delivers the late prerequisite views. The old
    // contract discarded the unqualified dependents at batch 0; the
    // buffered re-evaluation must promote them: user 1 → steps 2,
    // user 2 → the full cascade to steps 3, user 3 → steps 1 forever
    // (its click's view never arrives; the late view starts a new
    // chain with nothing after it).
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val work = java.nio.file.Files.createTempDirectory("graft-funnel-late").toString
    Seq(
      (1L, ts("2024-01-01 10:00:10"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 10:00:10"), 2L, "click", 1.0),
      (3L, ts("2024-01-01 10:00:20"), 2L, "purchase", 1.0),
      (4L, ts("2024-01-01 10:00:10"), 3L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$work/in/b0")
    stampMtime(s"$work/in/b0", 1000000L)
    Seq(
      (5L, ts("2024-01-01 10:00:00"), 1L, "view", 1.0),
      (6L, ts("2024-01-01 10:00:00"), 2L, "view", 1.0),
      (7L, ts("2024-01-01 10:30:00"), 3L, "view", 1.0) // AFTER user 3's click
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$work/in/b1")
    stampMtime(s"$work/in/b1", 1000100L)
    val src = spark.readStream.schema(
      spark.read.parquet(s"$work/in/b0").schema)
      .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
      .parquet(s"$work/in")
    val q = Streams.funnelOn(src).writeStream
      .format("parquet").option("path", s"$work/out")
      .option("checkpointLocation", s"$work/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = spark.read.parquet(s"$work/out")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("steps"))).getField("steps").as("steps"))
      .as[(Long, Long)].collect().toMap
    assert(fin == Map(1L -> 2L, 2L -> 3L, 3L -> 1L),
      s"late-prerequisite re-evaluation broken: $fin")
  }

  test("stream_ohlcv equals batch hourly OHLCV bars") {
    val streamed = Streams.ohlcv(spark, dir)
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        round(max("value"), 6).as("high"),
        round(min("value"), 6).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        round(sum("value"), 4).as("volume"),
        count(lit(1)).as("n")
      )
      .select(
        col("window.start").as("w_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n")
      )
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("stream_topk equals the batch per-hour top-5 leaderboard") {
    import org.apache.spark.sql.expressions.Window
    val streamed = Streams.topk(spark, dir)
    val batch = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("w_start"), col("event_id"), col("value"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("w_start").orderBy(col("value").desc, col("event_id"))))
      .filter(col("rank") <= 5)
      .select(
        col("w_start"), col("rank").cast("long").as("rank"),
        col("event_id"), round(col("value"), 6).as("value"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("stream_session equals batch session windows") {
    val streamed = Streams.session(spark, dir)
    val batch = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n"), col("sum_value")
      )
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_custom_state final totals equal batch per-user aggregates") {
    val streamed = Streams.customState(spark, dir)
      .select("user_id", "n_events", "sum_value")
    val batch = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
    // counts must match exactly; sums to float tolerance (stream order differs)
    val joined = streamed.as("s").join(batch.as("b"), "user_id")
      .select(
        (col("s.n_events") === col("b.n_events")).as("n_ok"),
        (abs(col("s.sum_value") - col("b.sum_value")) < 1e-6).as("sum_ok")
      )
    assert(streamed.count() == batch.count())
    assert(joined.filter(!col("n_ok") || !col("sum_ok")).count() == 0)
  }

  test("stream_join (watermarked interval join) equals batch interval join") {
    val streamed = Streams.streamJoin(spark, dir)
    val e = Tables.events(spark, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(
      c,
      col("user_id") === col("c_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
    ).select("p_id", "c_id", "user_id", "p_ts", "c_ts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_minhash_dedup equals the batch per-bucket min-claimant computation") {
    import spark.implicits._
    import graft.functions.TextKernels
    import graft.operators.LlmOps
    val streamed = Streams.minhashDedup(spark, dir)
    // single AvailableNow batch ⇒ the first-claimant-wins streaming
    // semantic coincides with the batch per-bucket min
    val (k, rpb) = (LlmOps.ShingleK, LlmOps.RowsPerBand)
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        TextKernels.docBandKey(t, k, rpb).map((id, _)).iterator
      }
      .toDF("doc_id", "bkey")
    val claims = sigs.groupBy("bkey").agg(min(col("doc_id")).as("claimant"))
    val batch = sigs
      .join(claims, "bkey")
      .select(
        col("doc_id"), col("bkey"),
        (col("doc_id") === col("claimant")).as("keep"),
        when(col("doc_id") =!= col("claimant"), col("claimant")).as("dup_of")
      )
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
    // flagged duplicates exist in the fixture (it contains near-dups)
    assert(streamed.filter(!col("keep")).count() > 0)
  }

  test("stream_zscore is bit-identical to the batch ts_zscore window") {
    val streamed = Streams.zscore(spark, dir)
    val batch = SparkEntry.queries("ts_zscore")(spark, dir)
      .select("event_id", "user_id", "value", "n_window", "z")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.filter(col("z").isNotNull).count() > 0)
  }

  // ---- crash recovery -------------------------------------------------
  // The stateful streams must survive a mid-stream kill: state (ring
  // buffers / bucket claimants) reloads from the checkpointed state
  // store and the resumed run's total output still equals the batch
  // computation. Harness: stage the input as several files with
  // ascending mtimes, maxFilesPerTrigger=1; stop the query after the
  // first committed batch with input still outstanding; restart from
  // the SAME checkpoint and drain.

  import java.nio.file.{Files => JFiles, Paths => JPaths}

  /** Force ascending file-source pickup order: stamp every data file
    * under `d` with the given mtime (seconds). */
  private def stampMtime(d: String, epochSec: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val w = JFiles.walk(JPaths.get(d))
    try w.iterator().asScala
      .filter(f => JFiles.isRegularFile(f) && !f.getFileName.toString.startsWith("_"))
      .foreach(f => JFiles.setLastModifiedTime(
        f, java.nio.file.attribute.FileTime.from(java.time.Instant.ofEpochSecond(epochSec))))
    finally w.close()
  }

  /** Start `transform(source over stage)` into a parquet sink at `out`
    * with checkpoint `chk`, one file per micro-batch; kill after the
    * first committed data batch if `killEarly`, else drain AvailableNow.
    */
  private def runStaged(
      stage: String, out: String, chk: String,
      schema: org.apache.spark.sql.types.StructType,
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      killEarly: Boolean): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val src = spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    val w = transform(src).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", chk)
      .outputMode("append")
    if (killEarly) {
      val q = w.trigger(Trigger.ProcessingTime("10 milliseconds")).start()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (Option(q.lastProgress).forall(_.numInputRows == 0) &&
             System.nanoTime() < deadline && q.isActive)
        Thread.sleep(20)
      q.stop() // kill with staged input still unread
      q.awaitTermination()
    } else {
      val q = w.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
  }

  test("stream_zscore: killed mid-stream, checkpoint restart resumes ring-buffer state (equals batch)") {
    val work = JFiles.createTempDirectory("graft-zrec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts", "value")
    // time-quartile split: in-order delivery across micro-batches is
    // the streamed/batch equivalence contract
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.25)",
      "percentile(unix_micros(ts), 0.5)",
      "percentile(unix_micros(ts), 0.75)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong, qs.getDouble(2).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)} AND unix_micros(ts) < ${cuts(2)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(2)}")))
    // two-phase staging makes the checkpoint-resume claim FALSIFIABLE:
    // only the first half is visible to run 1, so run 2 necessarily
    // restores run 1's ring-buffer state from the checkpoint to score
    // the second half — with everything staged upfront, a fast run 1
    // could drain all four files before the kill landed and run 2
    // would be a no-op, passing even with state restore broken
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema, Streams.zscoreOn, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    runStaged(stage, out, chk, schema, Streams.zscoreOn, killEarly = false)
    val streamed = spark.read.parquet(out)
    assert(streamed.count() > afterKill,
      "run 2 must process the late-staged input through restored state")
    val batch = SparkEntry.queries("ts_zscore")(spark, dir)
      .select("event_id", "user_id", "value", "n_window", "z")
    assert(streamed.count() == batch.count(), "resumed run must emit every event exactly once")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.filter(col("z").isNotNull).count() > 0)
  }

  test("stream_funnel: killed mid-stream, checkpoint restart resumes chain state (equals batch)") {
    val work = JFiles.createTempDirectory("graft-funnelrec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select("event_id", "ts", "user_id", "event_type", "value")
    // time-quartile split (funnel's in-order delivery contract): users'
    // chains span the whole range, so run 2's grading of late steps
    // depends on run 1's checkpointed per-user chain state
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.25)",
      "percentile(unix_micros(ts), 0.5)",
      "percentile(unix_micros(ts), 0.75)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong, qs.getDouble(2).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)} AND unix_micros(ts) < ${cuts(2)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(2)}")))
    // two-phase staging keeps the restore claim falsifiable (see the
    // zscore harness note): run 1 can only ever see the first half
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema, Streams.funnelOn, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    runStaged(stage, out, chk, schema, Streams.funnelOn, killEarly = false)
    val fin = spark.read.parquet(out)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("steps"))).as("fin"))
      .select(col("user_id"), col("fin.n_events"), col("fin.steps"))
    assert(fin.count() > 0)
    assert(spark.read.parquet(out).count() > afterKill,
      "run 2 must process the late-staged input through restored chain state")
    val batch = SparkEntry.queries("funnel_steps")(spark, dir)
    assert(fin.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(fin).count() == 0)
  }

  test("stream_topk: killed mid-stream, checkpoint restart keeps per-hour heaps (equals batch)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val work = JFiles.createTempDirectory("graft-topkrec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("event_id", "ts", "value")
    // stripe by event_id so EVERY hour spans both stages: run 2 must
    // merge run 1's RESTORED heaps with its own rows for the same
    // hours — a time-sliced split would leave run 2's hours disjoint
    // from run 1's and a broken state restore could still pass
    val parts = (0 until 4).map(i => ev.filter(col("event_id") % 4 === i))
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    // update-mode emissions land per batch via foreachBatch with the
    // batch id; the FINAL heap per hour is its latest emission
    def run(killEarly: Boolean): Unit = {
      val src = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
        .parquet(stage)
      val agg = Streams.topkOn(src, 5).toDF("hour_epoch", "top")
      val w = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          df.withColumn("bid", lit(bid)).write.mode("append").parquet(out): Unit
        }
      if (killEarly) {
        val q = w.trigger(Trigger.ProcessingTime("10 milliseconds")).start()
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (Option(q.lastProgress).forall(_.numInputRows == 0) &&
               System.nanoTime() < deadline && q.isActive)
          Thread.sleep(20)
        q.stop()
        q.awaitTermination()
      } else {
        val q = w.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    run(killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    run(killEarly = false)
    val em = spark.read.parquet(out)
    assert(em.count() > afterKill,
      "run 2 must emit updated heaps for the late-staged stripes")
    val fin = em
      .withColumn("rn",
        row_number().over(Window.partitionBy("hour_epoch").orderBy(col("bid").desc)))
      .filter(col("rn") === 1)
      .select(col("hour_epoch"), posexplode(col("top.items")).as(Seq("pos0", "c")))
      .select(
        timestamp_seconds(col("hour_epoch")).as("w_start"),
        (col("pos0") + 1).cast("long").as("rank"),
        col("c.vecId").as("event_id"),
        round(col("c.score"), 6).as("value"))
    val batch = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("w_start"), col("event_id"), col("value"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy("w_start").orderBy(col("value").desc, col("event_id"))))
      .filter(col("rank") <= 5)
      .select(
        col("w_start"), col("rank").cast("long").as("rank"),
        col("event_id"), round(col("value"), 6).as("value"))
    assert(fin.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(fin).count() == 0)
    assert(fin.count() > 0)
  }

  test("stream_tumbling: parquet sink (append mode) emits every window once the watermark passes") {
    // The registered query verifies through a memory sink in complete
    // mode, which materializes on the driver — fine as a harness, but
    // the 24/7 shape is a FILE sink, which only supports append mode:
    // a window emits exactly once, when the watermark passes its end.
    // To flush the tail windows at end-of-input, a far-future sentinel
    // event (staged as the LAST file) pushes the watermark past every
    // real window; the sentinel's own window never closes, so it never
    // pollutes the sink. Result must equal the memory-sink run = batch.
    val work = JFiles.createTempDirectory("graft-trec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("ts", "event_type", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0).toLong
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < $mid")),
      ev.filter(expr(s"unix_micros(ts) >= $mid")))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), "__sentinel", 0.0))
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$stage/b2")
    stampMtime(s"$stage/b2", 1000000L + 300)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema,
      df => Streams.tumblingAggOn(df)
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value")),
      killEarly = false)
    val streamed = spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
    val viaMemory = Streams.tumbling(spark, dir)
    assert(streamed.count() == viaMemory.count(),
      "file sink must emit each window exactly once, tail windows included")
    assert(streamed.exceptAll(viaMemory).count() == 0)
    assert(viaMemory.exceptAll(streamed).count() == 0)
  }

  test("stream_session: parquet sink (append mode) emits every session once the watermark passes") {
    // Same 24/7 file-sink shape as stream_tumbling: append mode, a
    // session emits exactly once when the watermark passes its end
    // (last event + 30 min gap). The mid-split forces sessions that
    // SPAN micro-batches to merge in the state store before emission;
    // a far-future sentinel (own user_id, so its session never merges
    // with a real one) flushes the tail sessions.
    val work = JFiles.createTempDirectory("graft-srec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("ts", "user_id", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val mid = ev.selectExpr("percentile(unix_micros(ts), 0.5)").head().getDouble(0).toLong
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < $mid")),
      ev.filter(expr(s"unix_micros(ts) >= $mid")))
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), -1L, 0.0))
      .toDF("ts", "user_id", "value")
      .coalesce(1).write.parquet(s"$stage/b2")
    stampMtime(s"$stage/b2", 1000000L + 300)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema,
      df => Streams.sessionAggOn(df)
        .select(
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("n"), col("sum_value")),
      killEarly = false)
    val streamed = spark.read.parquet(out).filter(col("user_id") =!= -1L)
    val viaMemory = Streams.session(spark, dir)
    assert(streamed.count() == viaMemory.count(),
      "file sink must emit each session exactly once, tail sessions included")
    assert(streamed.exceptAll(viaMemory).count() == 0)
    assert(viaMemory.exceptAll(streamed).count() == 0)
  }

  test("stream_custom_state: parquet sink, killed mid-stream; restarted totals equal batch") {
    // flatMapGroupsWithState in append mode through a FILE sink, with
    // the zscore-style kill/restart drive: the checkpoint must carry
    // the per-user running totals across the crash, and the file sink's
    // exactly-once manifest must not double-count the replayed batch.
    // The last emission per user (max of the cumulative struct) is the
    // contract, so the fold is insensitive to how many interim
    // emissions landed before the kill.
    val work = JFiles.createTempDirectory("graft-csrec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val n = ev.count()
    def stagePart(i: Int): Unit = {
      ev.filter(col("event_id") >= n * i / 4 && col("event_id") < n * (i + 1) / 4)
        .coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    // two-phase staging: run 2 MUST restore the per-user totals from
    // the checkpoint to extend them over the second half (see the
    // zscore test for why all-upfront staging can pass vacuously)
    (0 until 2).foreach(stagePart)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema, Streams.customStateOn, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    (2 until 4).foreach(stagePart)
    runStaged(stage, out, chk, schema, Streams.customStateOn, killEarly = false)
    assert(spark.read.parquet(out).count() > afterKill,
      "run 2 must emit totals extended over the late-staged half")
    val streamed = spark.read.parquet(out)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value"))).as("fin"))
      .select(
        col("user_id"), col("fin.n_events"),
        round(col("fin.sum_value"), 4).as("sum_value"))
    val batch = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
    assert(streamed.count() == batch.count())
    val joined = streamed.as("s").join(batch.as("b"), "user_id")
      .filter(
        col("s.n_events") =!= col("b.n_events") ||
          abs(col("s.sum_value") - col("b.sum_value")) >= 1e-6)
    assert(joined.count() == 0, "restarted per-user totals must equal batch")
  }

  test("stream_minhash_dedup: killed mid-stream, checkpoint restart keeps bucket claimants (equals batch)") {
    import spark.implicits._
    import graft.functions.TextKernels
    import graft.operators.LlmOps
    val work = JFiles.createTempDirectory("graft-mrec").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val n = docs.count()
    // ascending doc_id quartiles: the global min member of every bucket
    // streams in (or before) the bucket's first batch, so the batch
    // per-bucket-min oracle stays valid across ANY kill/restart point —
    // and a lost claimant would make the restarted run elect a new one
    // and diverge from it
    def stagePart(i: Int): Unit = {
      docs.filter(col("doc_id") >= n * i / 4 && col("doc_id") < n * (i + 1) / 4)
        .coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    // two-phase staging: run 2 MUST restore the bucket-claimant state
    // from the checkpoint to judge the second half's docs (see the
    // zscore test for why all-upfront staging can pass vacuously)
    (0 until 2).foreach(stagePart)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    runStaged(stage, out, chk, schema, Streams.minhashDedupOn, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    (2 until 4).foreach(stagePart)
    runStaged(stage, out, chk, schema, Streams.minhashDedupOn, killEarly = false)
    val streamed = spark.read.parquet(out)
    assert(streamed.count() > afterKill,
      "run 2 must judge the late-staged docs through restored claimants")
    val (k, rpb) = (LlmOps.ShingleK, LlmOps.RowsPerBand)
    val sigs = docs.as[(Long, String)]
      .flatMap { case (id, t) => TextKernels.docBandKey(t, k, rpb).map((id, _)).iterator }
      .toDF("doc_id", "bkey")
    val claims = sigs.groupBy("bkey").agg(min(col("doc_id")).as("claimant"))
    val batch = sigs.join(claims, "bkey")
      .select(
        col("doc_id"), col("bkey"),
        (col("doc_id") === col("claimant")).as("keep"),
        when(col("doc_id") =!= col("claimant"), col("claimant")).as("dup_of"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.filter(!col("keep")).count() > 0, "fixture must contain flagged duplicates")
  }

  test("stream_dedup_state removes the injected duplicates exactly") {
    val streamed = Streams.dedupState(spark, dir)
    val n = Tables.events(spark, dir).count()
    assert(streamed.count() == n, "every event exactly once after doubling+dedup")
    assert(streamed.select("event_id").distinct().count() == n)
  }

  // ---- declarative-entry crash matrix (r14 verdict task #4) ------------
  // The stateful custom ops (zscore, funnel, topk, custom_state,
  // minhash_dedup) all have kill+resume specs above; the DECLARATIVE
  // entries relied on Spark's checkpoint guarantees untested. Same
  // runStaged(killEarly) shape: kill after the first committed batch
  // with input outstanding, restage the rest, resume from the SAME
  // checkpoint, and require the final output to equal the batch answer
  // — windows/sessions/matches that SPAN the kill only come out right
  // if the checkpointed state actually restored.

  test("stream_tumbling: killed mid-stream, checkpoint restart merges window state (equals batch)") {
    val work = JFiles.createTempDirectory("graft-trec-kill").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("ts", "event_type", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.25)",
      "percentile(unix_micros(ts), 0.5)",
      "percentile(unix_micros(ts), 0.75)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong, qs.getDouble(2).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)} AND unix_micros(ts) < ${cuts(2)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(2)}")))
    // run 1 sees only the first half: the hour containing the mid cut
    // spans both runs, so its bar is correct only via restored state
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      Streams.tumblingAggOn(df)
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    runStaged(stage, out, chk, schema, transform, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    // far-future sentinel flushes the tail windows (append mode emits a
    // window only once the watermark passes it); its own window never
    // closes, so it never reaches the sink
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), "__sentinel", 0.0))
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.parquet(s"$stage/b4")
    stampMtime(s"$stage/b4", 1000400L)
    runStaged(stage, out, chk, schema, transform, killEarly = false)
    val streamed = spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
    assert(streamed.count() > afterKill,
      "run 2 must emit the windows the kill left open")
    val viaMemory = Streams.tumbling(spark, dir)
    assert(streamed.count() == viaMemory.count(),
      "each window exactly once across the kill (no loss, no double emission)")
    assert(streamed.exceptAll(viaMemory).count() == 0)
    assert(viaMemory.exceptAll(streamed).count() == 0)
  }

  test("stream_session: killed mid-stream, checkpoint restart merges open sessions (equals batch)") {
    val work = JFiles.createTempDirectory("graft-srec-kill").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("ts", "user_id", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.25)",
      "percentile(unix_micros(ts), 0.5)",
      "percentile(unix_micros(ts), 0.75)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong, qs.getDouble(2).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)} AND unix_micros(ts) < ${cuts(2)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(2)}")))
    // sessions whose events straddle the mid cut merge in the state
    // store across the kill — the falsifiable part of the claim
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      Streams.sessionAggOn(df)
        .select(
          col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"),
          col("user_id"), col("n"), col("sum_value"))
    runStaged(stage, out, chk, schema, transform, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    // sentinel under its own user_id: flushes tail sessions, merges with
    // no real one
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), -1L, 0.0))
      .toDF("ts", "user_id", "value")
      .coalesce(1).write.parquet(s"$stage/b4")
    stampMtime(s"$stage/b4", 1000400L)
    runStaged(stage, out, chk, schema, transform, killEarly = false)
    val streamed = spark.read.parquet(out).filter(col("user_id") =!= -1L)
    assert(streamed.count() > afterKill,
      "run 2 must emit the sessions the kill left open")
    val viaMemory = Streams.session(spark, dir)
    assert(streamed.count() == viaMemory.count(),
      "each session exactly once across the kill")
    assert(streamed.exceptAll(viaMemory).count() == 0)
    assert(viaMemory.exceptAll(streamed).count() == 0)
  }

  test("stream_ohlcv: killed mid-stream, checkpoint restart completes the open bars (equals batch)") {
    val work = JFiles.createTempDirectory("graft-orec-kill").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir).select("ts", "event_id", "event_type", "value")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val qs = ev.selectExpr(
      "percentile(unix_micros(ts), 0.25)",
      "percentile(unix_micros(ts), 0.5)",
      "percentile(unix_micros(ts), 0.75)").head()
    val cuts = Seq(qs.getDouble(0).toLong, qs.getDouble(1).toLong, qs.getDouble(2).toLong)
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < ${cuts(0)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(0)} AND unix_micros(ts) < ${cuts(1)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(1)} AND unix_micros(ts) < ${cuts(2)}")),
      ev.filter(expr(s"unix_micros(ts) >= ${cuts(2)}")))
    // the bar containing the mid cut gets its open from run 1 and its
    // close from run 2 — min_by/max_by partials must survive the kill
    parts.zipWithIndex.take(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      Streams.ohlcvAggOn(df)
        .select(
          col("window.start").as("w_start"), col("event_type"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n"))
    runStaged(stage, out, chk, schema, transform, killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(2).foreach { case (p, i) =>
      p.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    import spark.implicits._
    Seq((new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000), -1L, "__sentinel", 0.0))
      .toDF("ts", "event_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$stage/b4")
    stampMtime(s"$stage/b4", 1000400L)
    runStaged(stage, out, chk, schema, transform, killEarly = false)
    val streamed = spark.read.parquet(out).filter(col("event_type") =!= "__sentinel")
    assert(streamed.count() > afterKill,
      "run 2 must emit the bars the kill left open")
    val viaMemory = Streams.ohlcv(spark, dir)
    assert(streamed.count() == viaMemory.count(),
      "each bar exactly once across the kill")
    assert(streamed.exceptAll(viaMemory).count() == 0)
    assert(viaMemory.exceptAll(streamed).count() == 0)
  }

  test("stream_join: killed mid-stream, checkpoint restart matches across the kill (equals batch)") {
    import org.apache.spark.sql.streaming.Trigger
    val work = JFiles.createTempDirectory("graft-jrec-kill").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select("event_id", "ts", "user_id", "event_type")
    // batch answer first, and the CUT is chosen FROM it: the median
    // matched pair's purchase time. Everything strictly before the cut
    // (including that pair's click) goes to run 1; the purchase arrives
    // in run 2 — so at least one match is guaranteed to require run 1's
    // checkpointed click state.
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(
      c,
      col("user_id") === col("c_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
    ).select("p_id", "c_id", "user_id", "p_ts", "c_ts")
    val spanPairs = batch.filter(col("p_ts") > col("c_ts")).orderBy("p_ts").collect()
    assume(spanPairs.nonEmpty, "fixture needs at least one non-instant matched pair")
    val cutUs = {
      val t = spanPairs(spanPairs.length / 2).getTimestamp(3) // median p_ts
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    }
    val parts = Seq(
      ev.filter(expr(s"unix_micros(ts) < $cutUs")),
      ev.filter(expr(s"unix_micros(ts) >= $cutUs")))
    parts.zipWithIndex.take(1).foreach { case (pt, i) =>
      pt.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    // two independent file sources over the same staged dir — the same
    // two-leg shape Streams.streamJoin builds from eventsStream
    def run(killEarly: Boolean): Unit = {
      def leg() = spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", "1")
        .parquet(stage)
      val purchases = leg().filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      val clicks = leg().filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val joined = purchases.join(
        clicks,
        col("user_id") === col("c_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
      ).select("p_id", "c_id", "user_id", "p_ts", "c_ts")
      val w = joined.writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
      if (killEarly) {
        val q = w.trigger(Trigger.ProcessingTime("10 milliseconds")).start()
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (Option(q.lastProgress).forall(_.numInputRows == 0) &&
               System.nanoTime() < deadline && q.isActive)
          Thread.sleep(20)
        q.stop()
        q.awaitTermination()
      } else {
        val q = w.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    run(killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    parts.zipWithIndex.drop(1).foreach { case (pt, i) =>
      pt.coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", 1000000L + i * 100)
    }
    run(killEarly = false)
    val streamed = spark.read.parquet(out)
    assert(streamed.count() > afterKill,
      "run 2 must join its purchases against run 1's restored click state")
    assert(streamed.count() == batch.count(),
      "each matched pair exactly once across the kill")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream_dedup_state: killed mid-stream, checkpoint restart keeps seen-keys (re-delivered keys stay suppressed)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // synthetic fixture: sf timestamps span a month, so re-delivering
    // corpus rows across the kill would fall outside the 10-minute
    // watermark guarantee. Here every event sits inside one 10-minute
    // horizon: keys 1-100 arrive in run 1; run 2 re-delivers the SAME
    // keys 6 minutes later (inside the horizon — the dedup guarantee
    // window) plus fresh keys 101-200. If the seen-keys state did not
    // restore, the re-delivered keys would emit a second time.
    val work = JFiles.createTempDirectory("graft-drec-kill").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def rows(ids: Range, atMs: Long) =
      ids.map(i => (i.toLong, new java.sql.Timestamp(atMs), 1.0))
        .toDF("event_id", "ts", "value")
    rows(1 to 100, t0).coalesce(1).write.parquet(s"$stage/b0")
    stampMtime(s"$stage/b0", 1000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val transform = (df: org.apache.spark.sql.DataFrame) =>
      df.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
    def run(killEarly: Boolean): Unit =
      runStaged(stage, out, chk, schema, transform, killEarly = killEarly)
    run(killEarly = true)
    val afterKill = spark.read.parquet(out).count()
    assert(afterKill > 0, "run 1 must commit keys 1-100 before the kill")
    rows(1 to 100, t0 + 6L * 60 * 1000).coalesce(1).write.parquet(s"$stage/b1")
    stampMtime(s"$stage/b1", 1000100L)
    rows(101 to 200, t0 + 7L * 60 * 1000).coalesce(1).write.parquet(s"$stage/b2")
    stampMtime(s"$stage/b2", 1000200L)
    run(killEarly = false)
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 200,
      s"exactly 200 distinct keys (got ${streamed.count()}): re-delivered keys " +
        "must stay suppressed by the RESTORED seen-keys state")
    assert(streamed.select("event_id").distinct().count() == 200)
  }

  // ---- round-15 streaming review pins ---------------------------------

  test("stream_zscore mirrors batch NULL-value semantics: NULL rows emitted, counted in peers' n_window") {
    import spark.implicits._
    val work = JFiles.createTempDirectory("graft-znull").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fixture = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", Some(5.0), "{}"),
      (2L, t("2024-01-01 10:10:00"), 1L, "view", None, "{}"), // NULL value
      (3L, t("2024-01-01 10:20:00"), 1L, "view", Some(9.0), "{}"),
      (4L, t("2024-01-01 10:30:00"), 2L, "view", None, "{}")  // all-NULL user
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // land as a FLAT FILE: eventsStream's pathGlobFilter matches file
    // names, so a directory-shaped events.parquet reads as empty
    graft.DerivedCorpus.writeFlat(fixture, work, "events")
    val streamed = Streams.zscore(spark, work)
    val batch = SparkEntry.queries("ts_zscore")(spark, work)
      .select("event_id", "user_id", "value", "n_window", "z")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val byId = streamed.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId.contains(2L) && byId(2L).isNullAt(4),
      "the NULL-value row itself must be emitted with z NULL (batch emits it)")
    assert(byId(3L).getLong(3) == 3L,
      "n_window must count the NULL-value peer, like batch count(lit(1))")
    assert(byId(4L).getLong(3) == 1L && byId(4L).isNullAt(4),
      "an all-NULL user's row still emits (n=1, z NULL)")
  }

  test("stream_funnel mirrors the batch NULL-time pin: counts, satisfies step 1, never qualifies a window step") {
    import spark.implicits._
    val work = JFiles.createTempDirectory("graft-fnull").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    val fixture = Seq(
      // user 1: NULL-ts view + timed click -> click must NOT qualify
      (1L, nullTs, 1L, "view", 1.0, "{}"),
      (2L, t("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      // user 2: timed view + NULL-ts click -> click must NOT complete step 2
      (3L, t("2024-01-01 10:00:00"), 2L, "view", 1.0, "{}"),
      (4L, nullTs, 2L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    graft.DerivedCorpus.writeFlat(fixture, work, "events")
    val streamed = Streams.funnel(spark, work)
    val batch = SparkEntry.queries("funnel_steps")(spark, work)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val out = streamed.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 1L)), "NULL-ts view counts and reaches step 1; click unqualified")
    assert(out(2L) == ((2L, 1L)), "NULL-ts click counts but cannot complete step 2")
  }

  test("stream_zscore: a late row inside the watermark inserts SORTED - state stays sound, later rows equal batch") {
    import spark.implicits._
    val work = JFiles.createTempDirectory("graft-zlate").toString
    val (stage, out, chk) = (s"$work/in", s"$work/out", s"$work/chk")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0 delivers 10:00 and 10:06 (watermark -> 09:56); batch 1
    // delivers 09:58 (late but admitted) then 10:10; batch 2 delivers
    // 11:05, whose eviction horizon (10:05) falls MID-window: with an
    // unsorted buffer the head-only eviction would strand the 09:58
    // entry and corrupt this row's moments - the exact old failure
    val rows = Seq(
      (Seq((1L, t("2024-01-01 10:00:00"), 1L, 1.0), (2L, t("2024-01-01 10:06:00"), 1L, 2.0)), 1000000L),
      (Seq((3L, t("2024-01-01 09:58:00"), 1L, 3.0), (4L, t("2024-01-01 10:10:00"), 1L, 4.0)), 1000100L),
      (Seq((5L, t("2024-01-01 11:05:00"), 1L, 5.0)), 1000200L))
    rows.zipWithIndex.foreach { case ((rs, mtime), i) =>
      rs.toDF("event_id", "ts", "user_id", "value")
        .coalesce(1).write.parquet(s"$stage/b$i")
      stampMtime(s"$stage/b$i", mtime)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    runStaged(stage, out, chk, schema, Streams.zscoreOn, killEarly = false)
    val streamed = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the registered batch query over the same five events
    rows.flatMap(_._1).map { case (id, ts, uid, v) => (id, ts, uid, "view", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    val batch = SparkEntry.queries("ts_zscore")(spark, work)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the late row and every row AFTER it must equal batch exactly
    Seq(3L, 4L, 5L).foreach { id =>
      assert(streamed(id).getLong(3) == batch(id).getAs[Long]("n_window"),
        s"event $id n_window: streamed ${streamed(id).getLong(3)} vs batch ${batch(id).getAs[Long]("n_window")}")
      assert(streamed(id).isNullAt(4) == batch(id).isNullAt(batch(id).fieldIndex("z")))
      if (!streamed(id).isNullAt(4))
        assert(streamed(id).getDouble(4) == batch(id).getAs[Double]("z"), s"event $id z")
    }
    assert(streamed(5L).getLong(3) == 3L,
      "11:05's window is {10:06,10:10,11:05} - a stranded 09:58 entry (the unsorted-buffer bug) would make it 4")
    // rows emitted BEFORE the late arrival keep their at-emission windows
    // (append mode cannot retract) - the documented contract boundary
    assert(streamed(1L).getLong(3) == 1L && streamed(2L).getLong(3) == 2L)
  }

  test("stream_zscore survives a degenerate double moment (variance rounds to 0): NULL z on both sides") {
    import spark.implicits._
    val work = JFiles.createTempDirectory("graft-zinf").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // cents 1e8 and 1e8+1: the double moment qD - sD*sD/nD rounds to
    // exactly 0.0 despite cmx > cmn -- the batch division raised ANSI
    // DIVIDE_BY_ZERO and the stream died in BigDecimal(Infinity); both
    // now emit NULL for a variance the doubles cannot resolve
    val fixture = Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "view", 1000000.00, "{}"),
      (2L, t("2024-01-01 10:05:00"), 1L, "view", 1000000.01, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // land as a FLAT FILE: eventsStream's pathGlobFilter matches file
    // names, so a directory-shaped events.parquet reads as empty
    graft.DerivedCorpus.writeFlat(fixture, work, "events")
    val streamed = Streams.zscore(spark, work)
    val batch = SparkEntry.queries("ts_zscore")(spark, work)
      .select("event_id", "user_id", "value", "n_window", "z")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    val r2 = streamed.filter(col("event_id") === 2L).collect()(0)
    assert(r2.isNullAt(4), "the degenerate-moment z must be NULL, matching the guarded batch")
    assert(r2.getLong(3) == 2L, "the row itself is still emitted with its window count")
  }
}
