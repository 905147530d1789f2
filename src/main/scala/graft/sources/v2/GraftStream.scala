package graft.sources.v2

import graft.sources.Store

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, SupportsReportStatistics, SupportsRuntimeFiltering, Statistics => V2Statistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The Scan served by [[GraftScanBuilder]]: batch reads delegate to
  * Spark's vectorized ParquetScan assembled over exactly the files one
  * [[Store.files]] listing returned (via [[SparkInternals]]), and
  * `toMicroBatchStream` makes the same table readable with
  * `spark.readStream.format("graft")` from any binding — what
  * [[Store.readStream]] returns.
  */
final class GraftScan(
    store: Store,
    key: String,
    required: StructType,
    pushed: Array[Filter],
    batchFiles: () => Seq[FileStatus],
    maxFilesPerTrigger: Option[Int] = None,
    // the listed range, re-listed tighter by a runtime filter; None: the
    // file set is fixed
    bounds: Option[(Option[java.sql.Timestamp], Option[java.sql.Timestamp])] = None,
    snapshotEvery: Int = GraftMicroBatchStream.DefaultSnapshotEvery,
    tag: String = ""
) extends Scan with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** File-list override installed by a runtime (DPP) filter; when set,
    * the next assembly lists by the TIGHTENED bounds.
    */
  @volatile private var runtimeFiles: Option[() => Seq[FileStatus]] = None
  private val parquetRef =
    new java.util.concurrent.atomic.AtomicReference[Scan](null)

  // memoized: the thunk is fixed for a scan's lifetime by design, and
  // both estimateStatistics and the parquet assembly consume it — one
  // listing (plus, for a LIMIT or TopN prefix, its footer reads) per scan
  private lazy val batchFilesMemo: Seq[FileStatus] = batchFiles()

  private def files(): Seq[FileStatus] =
    runtimeFiles.map(_()).getOrElse(batchFilesMemo)

  /** The batch parquet assembly, built on first batch use (a streaming
    * read never lists the batch files) and REBUILT if a runtime filter
    * lands after it (Spark calls `filter(...)` then `toBatch` again —
    * verified against 4.1.2's BatchScanExec.filteredPartitions).
    * Public so plan-asserting specs can reach the listed file index.
    */
  def parquet: Scan = {
    val cached = parquetRef.get()
    if (cached != null) cached
    else {
      val built = SparkInternals.parquetScan(
        SparkSession.active, files(), store.schema, required, pushed)
      if (parquetRef.compareAndSet(null, built)) built else parquetRef.get()
    }
  }

  override def readSchema(): StructType = required

  // ---- runtime filtering (the DSv2 face of dynamic partition pruning)
  //
  // A join whose key is the index column gets its build-side values
  // pushed here at runtime as an In(idx, values) — the value envelope
  // [min, max] re-resolves only its buckets' files, so `events JOIN dims ON
  // events.TS = dims.day` scans only the days the dim side actually
  // holds. Pruning is a superset by construction (envelope, inclusive
  // bounds); the join itself keeps exactness.

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (bounds.isDefined)
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(store.indexName))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = bounds.foreach { case (start, end) =>
    val (rs, re) = GraftBounds.tsBounds(filters.toIndexedSeq, store.indexName)
    if (rs.isDefined || re.isDefined) {
      val (s2, e2) = (GraftBounds.later(start, rs), GraftBounds.earlier(end, re))
      runtimeFiles = Some(() => store.files(key, s2, e2))
      parquetRef.set(null) // the re-requested toBatch re-assembles pruned
    }
  }

  /** Planner-facing size estimate: the listed files' lengths summed (so
    * a range-sliced join side of a huge item reports its slice, not the
    * item), times the session's file-compression factor — the same
    * shape Spark's own FileScan reports. Without this, DSv2 relations
    * fall back to `spark.sql.defaultSizeInBytes` (Long.MaxValue): a
    * graft table could NEVER be statically chosen as the broadcast
    * side of a join, and at cluster scale the fact table pays a full
    * shuffle AQE can only partially claw back (the map-side write
    * still happens). The listing the batch scan reads, so no second
    * one — for a streaming query (whose per-batch re-planning also
    * consults it) that is one listing at stream start, never per
    * trigger. Exceptions yield the unknown estimate — stats must never
    * fail a plan the scan itself could execute.
    */
  private lazy val stats: V2Statistics = {
    val size: java.util.OptionalLong =
      try java.util.OptionalLong.of(
        SparkInternals.scanSize(SparkSession.active, batchFilesMemo.map(_.getLen).sum))
      catch { case _: Exception => java.util.OptionalLong.empty() }
    new V2Statistics {
      override def sizeInBytes(): java.util.OptionalLong = size
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def estimateStatistics(): V2Statistics = stats

  /** Static on purpose: delegating to the ParquetScan's description
    * would force the lazy batch assembly — the manifest reads — on
    * any plan rendering (explain, progress reports), including for
    * streaming reads that never execute the batch side.
    */
  override def description(): String =
    s"GraftScan item=$key store=${store.base} " +
      s"pushed=[${pushed.mkString(", ")}] read=${required.fieldNames.mkString(",")}" +
      (if (tag.nonEmpty) s" $tag" else "")

  override def toBatch: Batch = parquet.toBatch

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(store, key, required, maxFilesPerTrigger,
      checkpointLocation, snapshotEvery)
}

/** The offset: a sequence number plus THIS batch's admitted files.
  * O(files-per-trigger) json per micro-batch regardless of how many
  * files the stream has ever processed (a cumulative file list would
  * put ~100 full copies of the seen-set on disk, one per retained
  * offset-log entry).
  *
  * Replay exactness is preserved by construction: Spark always calls
  * `planInputPartitions(start, end)` with CONSECUTIVE offsets from its
  * own offset log (batch N runs between entry N-1 and entry N), so the
  * batch's input is exactly `end.delta` — carried in the offset
  * itself, immune to listing drift, never a read of external state.
  * The external [[GraftSeenLog]] exists only to rebuild the in-memory
  * seen-set after a restart.
  */
final class GraftSeqOffset(val seq: Long, val delta: Seq[String]) extends Offset {
  override def json(): String =
    s"""{"v":2,"seq":$seq,"delta":""" +
      delta.map(f =>
        "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]") + "}"
}

object GraftSeqOffset {
  private val SeqRe = """"seq"\s*:\s*(-?\d+)""".r

  /** Parse the json() form back (and tolerate the informational
    * `reportLatestOffset` shape, which has no delta).
    */
  def parse(json: String): GraftSeqOffset = {
    val seq = SeqRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(
      throw new IllegalArgumentException(s"not a graft v2 offset: $json"))
    val tag = json.indexOf("\"delta\"")
    if (tag < 0) new GraftSeqOffset(seq, Nil)
    else {
      val body = json.substring(json.indexOf('[', tag) + 1, json.lastIndexOf(']')).trim
      // split on "," boundaries between quoted strings; the paths are
      // store-layout paths (uuid part files under bucket dirs), so the
      // only escapes ever emitted are the two json() produces
      new GraftSeqOffset(seq,
        if (body.isEmpty) Nil
        else body.split("\",\\s*\"").toIndexedSeq
          .map(_.stripPrefix("\"").stripSuffix("\"")
            .replace("\\\"", "\"").replace("\\\\", "\\")))
    }
  }
}

/** Checkpoint-local seen-file log: one small `NNN.delta` file per
  * non-empty micro-batch (the batch's admitted files) and a full
  * `NNN.snap` snapshot every [[snapshotEvery]] batches — the same
  * compaction idea as Spark's FileStreamSource metadata log, kept
  * private to this source so the offset contract stays public-API.
  *
  * Durability order makes recovery exact with no coordination:
  * `writeDelta(N)` completes BEFORE `latestOffset` returns offset N,
  * so any offset Spark ever committed has its delta on disk; an entry
  * is only ever (over)written while NO committed offset references it
  * (a crash between our delta write and Spark's offset write leaves a
  * stale entry that the retried batch simply overwrites). Snapshots
  * are a best-effort optimization: each carries a row-count header,
  * and a torn snapshot is detected and skipped in favor of the
  * previous one plus the deltas since it (which purging deliberately
  * retains).
  */
private[v2] final class GraftSeenLog(location: String, snapshotEvery: Int) {
  private val dir = new HPath(location, "graft-seen")
  private lazy val fs = dir.getFileSystem(
    SparkSession.active.sessionState.newHadoopConf())

  private def deltaPath(seq: Long) = new HPath(dir, f"$seq%020d.delta")
  private def snapPath(seq: Long) = new HPath(dir, f"$seq%020d.snap")

  /** Temp-write + rename, with an hflush before close — the same
    * posture as Spark's HDFSMetadataLog. writeDelta's durability claim
    * (the delta is on disk before the offset referencing it can be
    * committed) would otherwise be weaker than documented: a bare
    * create+close can lose or tear the file in an OS/node crash after
    * Spark commits the offset, leaving rebuild() to fail the restart.
    * The contract already guarantees no committed offset references the
    * destination while we (over)write it, so delete-then-rename is
    * race-free here. On the local filesystem the temp is created
    * through [[NioLocalFileSystem.shared]], as `Store.writeUTF8` does:
    * no `.crc` twin and no forked `chmod` for it or a new directory.
    */
  private def writeLines(p: HPath, header: String, files: Iterable[String]): Unit = {
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp")
    try {
      val out = (if (fs.getScheme == "file") NioLocalFileSystem.shared else fs).create(tmp, true)
      try {
        val w = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
        w.write(header); w.write('\n')
        files.foreach { f => w.write(f); w.write('\n') }
        w.flush()
        out.hflush()
      } finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"failed to rename $tmp to $p")
    } catch {
      case e: Throwable =>
        // the failure correctly fails the batch, but the partial tmp
        // must not outlive it — purge only sweeps .delta/.snap names
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Returns the body lines, or None when the count header disagrees
    * with the content (a torn best-effort snapshot).
    */
  private def readLines(p: HPath, kind: String): Option[Seq[String]] = {
    val in = fs.open(p)
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      val header = r.readLine()
      val expect = Option(header).filter(_.startsWith(s"graft-$kind-v1 "))
        .map(_.substring(s"graft-$kind-v1 ".length).toLong)
      expect match {
        case None => None
        case Some(n) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var line = r.readLine()
          while (line != null) { buf += line; line = r.readLine() }
          if (buf.length == n) Some(buf.toSeq) else None
      }
    } finally in.close()
  }

  def writeDelta(seq: Long, files: Seq[String]): Unit =
    writeLines(deltaPath(seq), s"graft-delta-v1 ${files.length}", files)

  /** Best-effort snapshot + purge; never fails the batch. Purge keeps
    * the newest TWO snapshots and every delta after the older kept one,
    * so recovery still works if the newest snapshot turns out torn.
    */
  def maybeSnapshot(seq: Long, seen: Iterable[String], seenSize: Int): Unit =
    if (snapshotEvery > 0 && seq % snapshotEvery == 0)
      try {
        writeLines(snapPath(seq), s"graft-snap-v1 $seenSize", seen)
        val snaps = listSeqs(".snap").sorted(Ordering[Long].reverse)
        val keepFloor = snaps.drop(1).headOption.getOrElse(0L)
        snaps.drop(2).foreach(s => fs.delete(snapPath(s), false))
        listSeqs(".delta").filter(_ <= keepFloor)
          .foreach(d => fs.delete(deltaPath(d), false))
      } catch { case scala.util.control.NonFatal(_) => () }

  private def listSeqs(suffix: String): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toIndexedSeq.map(_.getPath.getName)
      .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix).toLong)

  /** Seen-set as of offset `seq`: newest intact snapshot ≤ seq, plus
    * the deltas after it. Bounded reads — at most `snapshotEvery`
    * delta files past the snapshot, regardless of stream age.
    */
  def rebuild(seq: Long): scala.collection.mutable.HashSet[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    if (seq <= 0) return seen
    val snaps = listSeqs(".snap").filter(_ <= seq).sorted(Ordering[Long].reverse)
    val base = snaps.iterator.flatMap(s =>
      readLines(snapPath(s), "snap").map(s -> _)).buffered
    val (from, rows) = if (base.hasNext) base.head else (0L, Nil)
    seen ++= rows
    ((from + 1) to seq).foreach { d =>
      seen ++= readLines(deltaPath(d), "delta").getOrElse(
        throw new IllegalStateException(
          s"graft stream checkpoint at $location is missing seen-log delta " +
            s"$d (have snapshot $from); the checkpoint cannot be resumed " +
            "exactly — restart from a fresh checkpoint"))
    }
    seen
  }
}

/** Micro-batch stream over one item: each trigger lists the item's
  * data files ([[Store.files]], the listing a batch scan plans from),
  * and the new-since-last-offset files become the batch —
  * read by a per-batch ParquetScan assembled over exactly those files,
  * so the streaming reader reuses Spark's vectorized parquet path
  * end-to-end. Appends surface as new chunk files (the store never
  * edits a data file in place), so delta-only processing is exact.
  *
  * The query's own `file:` checkpoint (offset and commit logs,
  * `metadata`) is written by [[GraftCheckpointFileManager]], which
  * resolving a `graft` table installs unless the session names a
  * manager class already: no `.crc` files, no forked `chmod`/`readlink`.
  *
  * Caveat ([[Store.readStream]] is this stream): COMPACTION rewrites
  * history into new files, which a live streaming reader would re-see
  * as fresh input. Stream from items whose maintenance window is
  * coordinated, or reprocess-tolerant sinks (the store's own
  * [[Store.ingestStream]] sink is idempotent by appendNewOnly).
  */
object GraftMicroBatchStream {
  /** Past ~20k tracked files the seen-set's memory and its O(files)
    * snapshot stop being metadata-sized: [[GraftMicroBatchStream]] warns
    * once.
    */
  private[v2] val OffsetFileWarnThreshold: Int = 20000

  /** Snapshot cadence: restart replays at most this many delta files
    * past a snapshot, and a snapshot (O(total files)) is amortized over
    * this many batches. Same order as Spark's file-source compact
    * interval (10).
    */
  private[v2] val DefaultSnapshotEvery: Int = 10
}

final class GraftMicroBatchStream(
    store: Store,
    key: String,
    required: StructType,
    maxFilesPerTrigger: Option[Int],
    checkpointLocation: String,
    snapshotEvery: Int = GraftMicroBatchStream.DefaultSnapshotEvery
) extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Factory is file-list-independent (FilePartitions carry their own
    * files), so one factory with no file index serves every batch; its
    * conf broadcast is shared by every drain of the stream (see
    * [[SparkInternals.driverReaderFactory]]).
    */
  private lazy val factory: PartitionReaderFactory =
    SparkInternals.driverReaderFactory(
      SparkSession.active, store.schema, required, Array.empty, new StructType())

  /** Under Trigger.AvailableNow, the run's END is pinned at start —
    * the drive processes exactly the files that existed then (in
    * `maxFilesPerTrigger`-sized batches if set) and terminates, even
    * while appends keep landing.
    */
  @volatile private var availableNowTarget: Seq[FileStatus] = _

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = store.files(key)

  // the latest listing's statuses: a fresh offset's batch needs no stat
  @volatile private var listed: Map[String, FileStatus] = Map.empty

  private def listing(): Seq[String] = {
    val fs = if (availableNowTarget != null) availableNowTarget else store.files(key)
    listed = fs.map(f => f.getPath.toString -> f).toMap
    fs.map(_.getPath.toString)
  }

  override def initialOffset(): Offset = new GraftSeqOffset(0L, Nil)

  // in-memory seen-set for the current format; rebuilt from the
  // checkpoint-local seen log when `lastSeq` disagrees with the start
  // offset Spark hands us (i.e. after a restart)
  private lazy val seenLog = new GraftSeenLog(checkpointLocation, snapshotEvery)
  private var seenSet: scala.collection.mutable.HashSet[String] = _
  private var lastSeq: Long = -1L

  private def seenAsOf(seq: Long): scala.collection.mutable.HashSet[String] = {
    if (seenSet == null || lastSeq != seq) {
      seenSet = seenLog.rebuild(seq)
      lastSeq = seq
    }
    seenSet
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-controlled entry point")

  /** `maxFilesPerTrigger` is the 24/7 scale knob: without it, the
    * FIRST micro-batch of a stream started against a large item would
    * be the entire item. The option caps each batch's admission; the
    * stream still converges on all files (the next batch starts where
    * this one ended).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** One-time warning once the tracked file set stops being
    * metadata-sized: the stream pays seen-set memory plus an O(total)
    * snapshot every [[snapshotEvery]] batches.
    */
  private val warnedSeenHeavy = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def warnIfSeenHeavy(n: Int): Unit =
    if (n > GraftMicroBatchStream.OffsetFileWarnThreshold &&
        warnedSeenHeavy.compareAndSet(false, true))
      org.slf4j.LoggerFactory.getLogger(classOf[GraftMicroBatchStream]).warn(
        s"graft stream over ${store.base}/$key now tracks $n files (delta-sized " +
          "offsets; the cost is seen-set memory and an O(files) seen-log " +
          s"snapshot every $snapshotEvery batches). Compact the item " +
          "(Store.compactBuckets / CALL <cat>.compact_buckets) to shrink the list.")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val v2 = start.asInstanceOf[GraftSeqOffset]
    val seen = seenAsOf(v2.seq)
    val fresh = listing().filterNot(seen)
    val admitted = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    if (admitted.isEmpty) v2 // identical json ⇒ Spark plans no batch
    else {
      val nextSeq = v2.seq + 1
      // durably record the delta BEFORE the offset can be committed —
      // the recovery contract documented on GraftSeenLog
      seenLog.writeDelta(nextSeq, admitted)
      seen ++= admitted
      lastSeq = nextSeq
      seenLog.maybeSnapshot(nextSeq, seen, seen.size)
      warnIfSeenHeavy(seen.size)
      new GraftSeqOffset(nextSeq, admitted)
    }
  }

  /** Informational only (progress reporting): current position plus
    * the backlog size — never committed, never deserialized by Spark.
    */
  override def reportLatestOffset(): Offset =
    if (seenSet == null) null
    else {
      val (known, at) = (seenSet, lastSeq)
      // a FRESH listing by design (GraftStreamSpec pins that a backlog
      // appended between triggers shows up here immediately): the
      // pending metric costs one extra listing per progress event — the
      // freshness of an ops-facing backlog gauge is worth it, and a
      // deployment that disagrees can ignore progress events, not the
      // other way around
      val pending = listing().count(f => !known(f))
      new Offset {
        override def json(): String = s"""{"v":2,"seq":$at,"pending":$pending}"""
      }
    }

  /** A `[...]` offset is the cumulative file-list format of checkpoints
    * written before the seq + delta format: refused, naming the remedy.
    */
  override def deserializeOffset(json: String): Offset =
    if (json.trim.startsWith("["))
      throw new IllegalStateException(
        s"graft stream checkpoint at $checkpointLocation holds a cumulative " +
          "file-list offset, a format this version no longer reads; start the " +
          "stream from a fresh checkpoint (rows already delivered are read again)")
    else GraftSeqOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the batch's input rides in the end offset itself (see
    // GraftSeqOffset) — replay never consults a listing or the log
    val fresh = end.asInstanceOf[GraftSeqOffset].delta
    if (fresh.isEmpty) Array.empty
    else {
      // a batch replayed from its offset after a restart names files no
      // listing of this instance returned: stat those
      val known = listed
      val statuses = fresh.map(f => known.getOrElse(f, store.fs.getFileStatus(new HPath(f))))
      SparkInternals.parquetScan(
        SparkSession.active, statuses, store.schema, required,
        Array.empty).toBatch.planInputPartitions()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
