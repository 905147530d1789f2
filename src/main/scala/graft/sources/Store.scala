package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

import graft.sources.v2.{GraftTable, SparkInternals}

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

/** Invalid item key (reference: ItemKeyError, oakstore/store.py:45-46). */
class ItemKeyError(msg: String) extends IllegalArgumentException(msg)

/** Schema conflict or normalization failure (reference: SchemaError,
  * oakstore/store.py:41-42).
  */
class SchemaError(msg: String) extends IllegalArgumentException(msg)

/** Item already exists on initial write (reference raises ValueError,
  * oakstore/store.py:203-204).
  */
class ItemExistsError(msg: String) extends IllegalArgumentException(msg)

/** The item has pending crash-recovery markers in `.staging` — mutations
  * are refused until [[Store!.vacuum]] finishes the interrupted op. A
  * distinct type from [[ItemExistsError]] so an upsert-style
  * `catch ItemExistsError → append` caller never converts
  * "run vacuum() first" into an append attempt.
  */
class PendingRecoveryError(msg: String) extends IllegalStateException(msg)

object Store {

  /** Reference key charset: `^[-a-zA-Z0-9_.]+\Z` (oakstore/store.py:28). */
  val KeyRegex = "^[-a-zA-Z0-9_.]+$".r

  /** Default OHLCV schema (oakstore/store.py:19-26): float OHLC + int
    * VOLUME, datetime index DATE.
    */
  val DefaultIndex = "DATE"
  val DefaultColumns: Seq[(String, DataType)] = Seq(
    "OPEN" -> DoubleType,
    "HIGH" -> DoubleType,
    "LOW" -> DoubleType,
    "CLOSE" -> DoubleType,
    "VOLUME" -> LongType
  )

  /** Earliest default query bound — pandas' minimum representable year
    * (oakstore/store.py:250-251 uses datetime(1678, 1, 1)).
    */
  val MinStart: Timestamp = Timestamp.valueOf("1678-01-01 00:00:00")

  /** One retained version of an item (see
    * [[Store!.versionsOf]]).
    */
  case class ItemVersion(
      id: String,
      current: Boolean,
      files: Long,
      bytes: Long,
      modifiedMs: Long
  )

  /** Metadata-only item statistics (see [[Store.describe]]). */
  case class ItemStats(
      rows: Long,
      minIndex: Option[Timestamp],
      maxIndex: Option[Timestamp],
      files: Long,
      bytes: Long
  )

  /** Footer-aggregate answers of [[graft.plans.FooterRangeAggregates]],
    * built only by [[foldFooters]]. `rows` is the slice's `count(*)`.
    * `nonNullCounts` carries only columns whose null counts are exact
    * across every row group. `minMaxExactCols` are the trusted-type
    * columns ([[footerMinMaxTrusted]]) whose min/max is provably exact
    * across every row-bearing group; `colMinMax` holds their values
    * widened to Long (µs for timestamps, days for dates, sortable bits
    * for float/double) — an exact column ABSENT from the map is
    * provably all-null (SQL min/max → NULL).
    */
  private[graft] case class FooterAgg(
      rows: Long,
      nonNullCounts: Map[String, Long],
      colMinMax: Map[String, (Long, Long)],
      minMaxExactCols: Set[String]
  )

  /** One file's footer statistics, named (round-13 review: this rode
    * through two source files as a positional 6-tuple). A column in
    * `nullCountOkCols` has an exact `nonNullByCol` entry; a column in
    * `minMaxOkCols` has exact `minMaxByCol` bounds OR is provably
    * all-null (then absent from the map).
    */
  private[graft] final case class FileFooterStats(
      path: String,
      rows: Long,
      nonNullByCol: Map[String, Long],
      nullCountOkCols: Set[String],
      minMaxByCol: Map[String, (Long, Long)],
      minMaxOkCols: Set[String])

  /** THE data types whose parquet footer min/max this engine trusts —
    * the single definition behind Store.mmStatCols and the
    * FooterRangeAggregates rule's gate (two consumers that must never
    * drift: a type admitted in one but not the other silently degrades
    * to a scan with no error). Integer-family is
    * exact by construction; float/double under the per-file NaN-proof
    * discipline ([[fileFooterAgg]]); string/binary refuse (truncation +
    * legacy-comparator hazards).
    */
  private[graft] def footerMinMaxTrusted(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType => true
    case _ => false
  }

  /** created_by vintage matcher for the float/double NaN-proof gate. */
  private val ParquetMrVersion = """parquet-mr version (\d+)\.(\d+)""".r

  /** Explicit allowlist of parquet-mr (major, minor) vintages whose
    * NaN-omission behavior has been PROBED (tools/NanProbe + the
    * NanProofVintageSpec that re-proves it on the runtime jar every
    * `sbt test`). Deliberately NOT an open-ended `>= 1.16`: the parquet
    * spec's direction (nan_count / NaN-skipping finite bounds,
    * PARQUET-1222) means a FUTURE parquet-mr may legitimately write
    * finite min/max on NaN-bearing chunks — an unprobed newer vintage
    * must refuse float/double footer answers (perf-only) rather than
    * silently drop NaN from a footer-answered max(). Extend this set
    * only after re-running the probe on that vintage.
    */
  private[graft] val NanProofProbedVintages: Set[(Int, Int)] = Set((1, 16))

  /** Order-preserving (signed-long) encoding of a non-NaN double —
    * Lucene's sortableDoubleBits shape: negatives flip mantissa and
    * exponent so signed-long comparison matches IEEE order; the
    * function is its own inverse. Footer double/float min/max travel
    * through the engine's (Long, Long) stat plumbing in this encoding
    * (min/max merging across files stays plain math.min/max); the
    * render sites decode by the column's data type.
    */
  private[graft] def sortableDoubleBits(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & 0x7fffffffffffffffL)
  }

  private[graft] def sortableBitsToDouble(l: Long): Double =
    java.lang.Double.longBitsToDouble(l ^ ((l >> 63) & 0x7fffffffffffffffL))

  /** One file's footer statistics for [[Store!.sweepFooters]]. STATIC so
    * executor closures capture only strings — never a Store. Exactness
    * discipline: a row-bearing group with absent/untyped stats drops
    * the column from the ok sets, which vetoes the footer answer
    * for it. Min/max is tracked only for `mmCols`: the integer-family
    * columns (INT64/INT32 physical, where footer stats are exact by
    * construction — no truncation, no legacy-UTF-8-comparator
    * ambiguity) plus float/double under the NaN-PROOF discipline
    * (r13 verdict task #8): parquet-java — this store's own writer —
    * OMITS a chunk's min/max entirely when any NaN was seen (probed on
    * 1.16: a single NaN value leaves "min/max not defined"), so
    * stats-present proves the chunk NaN-free and its min/max exact;
    * a chunk with values but no stats (the NaN case, or a stats-less
    * foreign writer) drops the column from the ok set — the strict
    * stats-missing veto. A decoded NaN from some hypothetical foreign
    * writer that stores NaN bounds is refused defensively.
    */
  private[graft] def fileFooterAgg(
      conf: org.apache.hadoop.conf.Configuration, f: String,
      cols: Seq[String], mmCols: Set[String]): FileFooterStats = {
    import scala.jdk.CollectionConverters._
    val footer = readFooter(conf, new HPath(f))
    // the NaN-proof discipline (stats-present ⇒ NaN-free) is a
    // WRITER property, probed on parquet-mr: it omits a chunk's
    // min/max when any NaN was seen. arrow-cpp (pyarrow/pandas — the
    // reference's own writer) instead SKIPS NaNs and records finite
    // bounds, so a foreign file's finite stats prove nothing about
    // NaN and footer-answering max() would silently disagree with
    // the scan (Spark orders NaN greatest). Strict veto: float/double
    // min/max is trusted only under a parquet-mr created_by; integer
    // columns are unaffected (no NaN exists to skip).
    val createdBy = Option(footer.getFileMetaData.getCreatedBy).getOrElse("")
    // ...and the proof is a VINTAGE property too: the omission
    // behavior was probed on parquet-mr 1.16 (tools/NanProbe); older
    // parquet-mr writers' NaN handling varied (PARQUET-1222 history —
    // some recorded finite bounds while SKIPPING NaNs, exactly the
    // unprovable case) and FUTURE ones may adopt the spec's
    // NaN-skipping finite bounds. Trust ONLY the explicitly probed
    // major.minor allowlist; anything else refuses float/double,
    // which is perf-only.
    val floatProofOk = {
      val m = ParquetMrVersion.findFirstMatchIn(createdBy)
      m.exists(g =>
        NanProofProbedVintages.contains((g.group(1).toInt, g.group(2).toInt)))
    }
    val blocks = footer.getBlocks.asScala
    var rows = 0L
    val nonNull = scala.collection.mutable.Map(cols.map(_ -> 0L): _*)
    val nullOk = scala.collection.mutable.Set(cols: _*)
    val mm = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val mmOk = scala.collection.mutable.Set(mmCols.toSeq: _*)
    blocks.foreach { b =>
      rows += b.getRowCount
      val byName = b.getColumns.asScala
        .map(c => c.getPath.toDotString.toUpperCase -> c).toMap
      cols.foreach { col =>
        byName.get(col.toUpperCase) match {
          case Some(c) =>
            val st = c.getStatistics
            val nullsKnown = st != null && !st.isEmpty && st.isNumNullsSet
            if (nullsKnown) nonNull(col) += b.getRowCount - st.getNumNulls
            else if (b.getRowCount > 0) nullOk -= col
            if (mmCols.contains(col) && b.getRowCount > 0) {
              if (st == null || st.isEmpty) mmOk -= col
              else if (st.hasNonNullValue) {
                val loHi = (st.genericGetMin, st.genericGetMax) match {
                  case (lo: java.lang.Long, hi: java.lang.Long) =>
                    Some((lo.longValue, hi.longValue))
                  case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                    Some((lo.longValue, hi.longValue))
                  case (lo: java.lang.Double, hi: java.lang.Double) =>
                    // foreign writer (NaN-skipping stats possible) or
                    // NaN bounds → the proof fails, refuse the column.
                    // A ±0.0 bound is refused too: parquet-mr WIDENS
                    // signed zeros (an actual min of +0.0 is recorded
                    // as -0.0, an actual max of -0.0 as +0.0), so a
                    // zero bound's sign is unknowable from the footer
                    // and a footer answer could render the opposite
                    // zero from the scan path — numerically equal but
                    // bit-distinguishable, breaking the exactness
                    // contract. (`x == 0.0` is true for both signs.)
                    if (!floatProofOk || lo.isNaN || hi.isNaN ||
                      lo.doubleValue == 0.0 || hi.doubleValue == 0.0) None
                    else Some((sortableDoubleBits(lo.doubleValue),
                      sortableDoubleBits(hi.doubleValue)))
                  case (lo: java.lang.Float, hi: java.lang.Float) =>
                    if (!floatProofOk || lo.isNaN || hi.isNaN ||
                      lo.floatValue == 0.0f || hi.floatValue == 0.0f) None
                    else Some((sortableDoubleBits(lo.doubleValue),
                      sortableDoubleBits(hi.doubleValue)))
                  case _ => None // unexpected physical type
                }
                loHi match {
                  case Some((lo, hi)) =>
                    val cur = mm.get(col)
                    mm(col) = (cur.fold(lo)(c0 => math.min(c0._1, lo)),
                      cur.fold(hi)(c0 => math.max(c0._2, hi)))
                  case None => mmOk -= col
                }
              } else if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount)) {
                mmOk -= col // no values recorded, not provably all-null
              }
            }
          case None => if (b.getRowCount > 0) { nullOk -= col; mmOk -= col }
        }
      }
    }
    FileFooterStats(f, rows, nonNull.toMap, nullOk.toSet, mm.toMap, mmOk.toSet)
  }

  /** The footer of parquet file `f`, read with options built from
    * `conf`. `ParquetFileReader.open(InputFile)` alone builds its
    * default options over a freshly loaded Hadoop `Configuration`
    * (~10 ms, against ~0.3-0.5 ms for the read itself on a local
    * file). A missing file throws FileNotFoundException.
    */
  private[graft] def readFooter(
      conf: org.apache.hadoop.conf.Configuration,
      f: HPath): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(f, conf), HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  /** THE fold from per-file footer stats to a [[FooterAgg]], shared by
    * the unfiltered, ranged and grouped footer answers. `rowsOf` is one
    * file's contribution to `count(*)`; only `cols` may be answered. A
    * column's null count (min/max) is exact only when EVERY file vouches
    * for it; an empty file set is exact too — zero rows, NULL min/max.
    */
  private[graft] def foldFooters(
      files: Seq[FileFooterStats], cols: Seq[String],
      rowsOf: FileFooterStats => Long): FooterAgg = {
    val exactMM = cols.filter(c => files.forall(_.minMaxOkCols.contains(c))).toSet
    FooterAgg(
      rows = files.map(rowsOf).sum,
      nonNullCounts = cols.filter(c => files.forall(_.nullCountOkCols.contains(c)))
        .map(c => c -> files.map(_.nonNullByCol(c)).sum).toMap,
      colMinMax = exactMM.flatMap { c =>
        val vs = files.flatMap(_.minMaxByCol.get(c))
        if (vs.isEmpty) None // provably all-null: exact, SQL min/max = NULL
        else Some(c -> (vs.map(_._1).min, vs.map(_._2).max))
      }.toMap,
      minMaxExactCols = exactMM)
  }

  /** [[fileFooterAgg]], or None when `f` vanished since it was listed. */
  private[sources] def footerIfPresent(
      conf: org.apache.hadoop.conf.Configuration, f: String,
      cols: Seq[String], mmCols: Set[String]): Option[FileFooterStats] =
    try Some(fileFooterAgg(conf, f, cols, mmCols))
    catch { case _: java.io.FileNotFoundException => None }

  /** Epoch-µs → Timestamp, floor semantics for negative values. */
  private[graft] def microsToTimestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Timestamp → epoch-µs, the exact inverse of [[microsToTimestamp]]
    * (floor semantics pre-1970: getTime already floors to ms and
    * getNanos carries the sub-second remainder). ONE definition shared
    * by every conversion site so the floor discipline cannot drift.
    */
  private[graft] def timestampToMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private val SchemaFile = "schema.json"
  private val LayoutFile = "layout.json"
  private val ItemsDir = "items"
  private val StagingDir = ".staging"
  private val VersionedMarker = "versioned"
  private[sources] val CurrentPtr = "_current"
  private val LeaseDir = ".lease"

  /** JVM-wide per-(store, item) mutation locks. Every mutating control-
    * plane op runs on the DRIVER (they orchestrate Spark jobs, they
    * don't run inside them), so one JVM is the natural mutual-exclusion
    * domain: serializing same-item mutations here closes the real
    * single-driver races — a compact swap racing an append can strand
    * the appended files in the swapped-out dir, and two appendNewOnly
    * calls merging one batch concurrently would both write it. Different items lock independently, so
    * parallel multi-item ingest keeps its concurrency. Writers in
    * OTHER JVMs are outside this domain — for them the staging age
    * guard ([[Store!.vacuum]]) is the (weaker, documented) protection;
    * multi-driver coordination needs an external lock service.
    */
  private val itemLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private[sources] def lockFor(base: HPath, key: String): java.util.concurrent.locks.ReentrantLock =
    itemLocks.computeIfAbsent(
      base.toString + "#" + key,
      _ => new java.util.concurrent.locks.ReentrantLock())

  /** Staging ids (the UUID suffix of `.tmp-`/`.old-`/`.swap-`/`.mid-`/
    * `.del-` entries) of ops in flight IN THIS JVM. [[Store!.vacuum]]
    * skips them unconditionally — unlike the age guard, this makes a
    * force-sweep (`vacuum(0)`) safe against same-driver concurrent
    * maintenance, not just old debris.
    */
  private[sources] val activeStagingIds: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Name prefix of what the store writes before renaming it into
    * place: every data file [[MutationKernel]] writes, on the driver or
    * in a task, and a local pointer or marker file ([[writeUTF8]]).
    * Hidden, so no listing counts it.
    */
  private[sources] val DriverTmpPrefix = ".graft-tmp-"

  /** The output dir of a [[MutationKernel]] unit under version dir
    * `root`: its bucket dir, or `root` itself for the unbucketed unit "".
    */
  private[sources] def dirsUnder(root: HPath): String => String = {
    val r = root.toString
    u => if (u.isEmpty) r else s"$r/$u"
  }

  /** Tags (base#KEY) of items with an IN-PLACE append running in this
    * JVM ([[Store!.appendNewOnly]] — the one write into the LIVE data
    * dir: its kernel leaves hidden [[DriverTmpPrefix]] files there
    * until it lands them). [[Store!.vacuum]]'s hidden-file
    * sweep (job 4) skips them unconditionally, same split as
    * [[activeStagingIds]]: this set makes a force-sweep safe against
    * same-driver concurrent appends, the age guard covers writers in
    * other JVMs.
    */
  private[graft] val activeInPlaceWrites: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def inPlaceTag(base: HPath, key: String): String =
    base.toString + "#" + key

  /** The one list of staging-entry name tokens — [[stagingId]] (the
    * in-flight guard) and `stagingEntries` (the mutation gate) must
    * agree on it, or a marker kind added to one but not the other would
    * silently escape that guard.
    */
  private[sources] val MarkerTokens: Seq[String] =
    Seq(".tmp-", ".old-", ".swap-", ".mid-", ".del-")

  /** Rebuild a Hadoop Configuration from shipped driver entries — a
    * STATIC helper so executor closures capture only the entry Seq,
    * never a Store instance (see [[Store!.hadoopConfEntries]]).
    */
  private[sources] def confFrom(
      entries: Seq[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** UUID suffix of a staging entry name, if it has one. */
  private[sources] def stagingId(name: String): Option[String] =
    MarkerTokens.iterator
      .map(t => (t, name.indexOf(t)))
      .collectFirst { case (t, i) if i >= 0 => name.substring(i + t.length) }

  /** Session conf pinned by [[open]] and guarded per write — see
    * [[Store!.requireMicrosTimestamps]]. */
  private[sources] val TimestampTypeKey = "spark.sql.parquet.outputTimestampType"

  /** THE one pin of the INT64-micros parquet-timestamp invariant,
    * shared by Store.open, the SQL INSERT path, and the streaming sink
    * (two near-identical copies diverged once; never again). Pins the
    * session conf when its effective value is anything else, with a
    * WARN naming who pinned and what the prior value was. The prior
    * value may be Spark's registered default (INT96) — RuntimeConfig
    * cannot distinguish a default from an explicit setting, so the
    * message claims neither. Why a permanent pin and not a scoped
    * set/restore: a restore racing a concurrent write (a resident
    * ingest, another INSERT) can land stat-less INT96 store files
    * after the per-write guard passed — the interleaving
    * [[Store!.requireMicrosTimestamps]] documents as unsafe.
    */
  private[sources] def pinMicros(spark: SparkSession, what: String): Unit = {
    val prior = spark.conf.getOption(TimestampTypeKey)
    if (!prior.contains("TIMESTAMP_MICROS")) {
      org.slf4j.LoggerFactory.getLogger(classOf[Store]).warn(
        s"$what is pinning $TimestampTypeKey=TIMESTAMP_MICROS for this " +
          s"session (was '${prior.getOrElse("unset")}'): store files need " +
          "INT64-micros column statistics for range pruning and footer " +
          "stats; set the conf back per write if a downstream truly " +
          "requires INT96")
      spark.conf.set(TimestampTypeKey, "TIMESTAMP_MICROS")
    }
  }

  /** Time-bucket granularities for directory partitioning. Formats are
    * zero-padded so lexicographic string comparison equals time order —
    * that is what makes bucket pruning a string range test on the
    * bucket dir labels ([[Store!.files]]).
    */
  val BucketFormats: Map[String, String] = Map(
    "day" -> "yyyy-MM-dd",
    "month" -> "yyyy-MM",
    "year" -> "yyyy"
  )

  /** Open or create a store at `basePath` (reference Store.__init__,
    * oakstore/store.py:80-128). The schema (value columns + time index)
    * is persisted as JSON on first create and enforced on reopen:
    * passing a conflicting schema to an existing store raises
    * [[SchemaError]] (store.py:113-117).
    *
    * `basePath` is any Hadoop-FileSystem URI — `/local/dir`,
    * `file:/local/dir`, `hdfs://nn/warehouse/store`, `s3a://bucket/store`
    * — the control plane (schema/layout persistence, item listing,
    * staging swaps, retention, vacuum) runs through
    * `org.apache.hadoop.fs.FileSystem` resolved from the path scheme, the
    * same abstraction the Spark data plane already uses, so a 100 TB
    * store can live on the object store next to its compute. This closes
    * the reference's own unmet TODO (cloud storage, store.py:86).
    *
    * `bucket` (None | "day" | "month" | "year") selects directory-level
    * time partitioning: items are written one directory per bucket
    * (`__bucket=<label>`) so range reads list only the in-range directories, before
    * any file I/O — the at-scale complement of the reference's
    * row-group-stat pruning (store.py:255-264). Persisted and enforced
    * like the schema. Bucket strings are rendered in the session
    * timezone at write time and in the persisted store timezone at read
    * time; the creating session's timezone is persisted alongside the
    * bucket, and a bucketed write under a different session timezone
    * fails fast (mislabeled buckets otherwise).
    *
    * `chunkRows` caps rows per written Parquet file — the reference pins
    * 1 M-row sorted chunks (store.py:27, applied store.py:174) so
    * row-group min/max stats stay uniformly selective; same default.
    *
    * Item layout: each item's data lives in immutable `v-<id>` version
    * directories under `items/<KEY>/`, and the active one is named by a
    * single `_current` pointer object. Rewrites (append/compact) write a
    * fresh version and commit it with ONE pointer overwrite — a
    * single-object PUT, atomic on every real object store — so no
    * directory rename exists on the item-level write path and a crash
    * at any point leaves readers on the old complete version (orphaned
    * versions swept by [[Store!.vacuum]]). A store directory without
    * the layout marker was written by the retired flat item layout and
    * is refused with [[SchemaError]]; there is no migration.
    *
    * `writerLease = true` additionally takes a cross-JVM lease file per
    * mutated item (exclusive create + TTL + steal-on-expiry, contract
    * at [[Store!.withLease]]) — the JVM-wide per-item locks only
    * serialize writers inside ONE driver; the lease extends that to
    * concurrent drivers sharing a store. An operational mode of this
    * process, not a property of the data: it is NOT persisted, so every
    * writer of a multi-driver deployment must opt in.
    *
    * SESSION-WIDE SIDE EFFECT: open pins
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` for the
    * whole SparkSession (rationale at [[Store#requireMicrosTimestamps]]).
    * Every later parquet write in the session — including ones that
    * never touch this store — emits INT64-micros timestamps instead of
    * Spark's INT96 default. That is a strict improvement for stats and
    * pruning, but consumers that expected INT96 (e.g. pandas readers
    * treating INT96 as tz-naive) will see tz-aware µs timestamps; set
    * the conf back per write if a downstream truly requires INT96. It
    * also makes [[graft.sources.v2.GraftCheckpointFileManager]] the
    * session's streaming checkpoint file manager unless the session
    * names one ([[SparkInternals.useCheckpointFileManager]]).
    */
  def open(
      spark: SparkSession,
      basePath: String,
      cols: Option[Seq[(String, DataType)]] = None,
      index: Option[String] = None,
      bucket: Option[String] = None,
      chunkRows: Long = 1000000L,
      writerLease: Boolean = false
  ): Store = {
    bucket.foreach { b =>
      require(BucketFormats.contains(b), s"bucket must be one of ${BucketFormats.keys}")
    }
    require(chunkRows > 0, "chunkRows must be positive")
    // Pin INT64-micros parquet timestamps for the session ONCE, here
    // (one WARN per session, see [[pinMicros]]). The former per-write
    // conf swap (set + finally-restore) raced concurrent writers: a
    // resident ingestStream restoring the conf mid-batch-write landed
    // INT96 files — which carry NO column statistics, silently
    // disabling row-group pruning and describe() footer min/max. A
    // session invariant enforced per-write (like the timezone guard)
    // has no such window.
    pinMicros(spark, s"Store.open($basePath)")
    SparkInternals.useCheckpointFileManager(spark)
    val raw = new HPath(basePath)
    // sparkContext.hadoopConfiguration carries the deployment's fs.*
    // settings (credentials, endpoints) — the same conf the parquet
    // data plane resolves schemes with, so control and data plane
    // always agree on what a path means.
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(raw)
    if (writerLease) requireExactLease(base)
    fs.mkdirs(new HPath(base, ItemsDir))
    val schemaPath = new HPath(base, SchemaFile)
    val layoutPath = new HPath(base, LayoutFile)
    val sessionTz = spark.conf.get("spark.sql.session.timeZone")
    val requested = cols.map(cs =>
      buildSchema(cs, index.getOrElse(DefaultIndex))
    )
    if (fs.exists(schemaPath)) {
      val persisted = readSchema(fs, schemaPath)
      requested.foreach { r =>
        if (r.json != persisted.json)
          throw new SchemaError(
            s"store at $basePath already has schema ${persisted.catalogString}; " +
              s"conflicting schema ${r.catalogString} requested"
          )
      }
      val (persistedBucket, storeTz) = readLayout(fs, base)
      bucket.foreach { b =>
        if (!persistedBucket.contains(b))
          throw new SchemaError(
            s"store at $basePath has bucket layout $persistedBucket; conflicting bucket '$b' requested"
          )
      }
      // no timezone gate on OPEN: reads and label-driven maintenance
      // render every bucket bound under the PERSISTED store timezone
      // ([[bucketLabel]]) and compare instants otherwise, so a session
      // in any timezone reads correctly; only bucketed WRITES require
      // alignment and their per-write guard ([[requireTzAligned]])
      // fails fast with the remedy. A read-only consumer in another
      // timezone — the common multi-region deployment — just works.
      new Store(spark, base, persisted, persistedBucket, chunkRows, storeTz,
        writerLease)
    } else {
      val schema = requested.getOrElse(
        buildSchema(DefaultColumns, index.getOrElse(DefaultIndex))
      )
      // schema.json last: it is what makes the directory a store, so a
      // crash before it leaves nothing a reopen would misread
      writeUTF8(fs, new HPath(base, VersionedMarker), "1")
      bucket.foreach(b => writeUTF8(fs, layoutPath, s"$b\n$sessionTz"))
      writeUTF8(fs, schemaPath, schema.json)
      new Store(spark, base, schema, bucket, chunkRows, sessionTz, writerLease)
    }
  }

  /** Read-only attach to an EXISTING store: loads the persisted
    * schema/layout and builds a handle without creating anything on
    * disk and without pinning any session conf — the entry point for
    * metadata-only consumers like the `graft` DataSource V2 table
    * provider ([[graft.sources.v2.GraftDataSource]]), where a path
    * typo must fail fast instead of materializing an empty store the
    * way [[open]]'s create-if-absent contract would. Reads through the
    * returned handle are full-fidelity (bucket pruning, tz guard);
    * WRITES through it still work but require the session to carry
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` (the
    * per-write guard names the remedy) — writers should use [[open]],
    * which pins it.
    *
    * `writerLease` opts writes through THIS handle into the cross-JVM
    * lease, same contract as [[open]]. It matters for the DSv2 INSERT
    * path: in a multi-driver deployment where every writer leases, an
    * attach-backed SQL INSERT without it would mutate under only the
    * in-JVM lock — pass the `writerLease` table option there.
    */
  def attach(
      spark: SparkSession,
      basePath: String,
      writerLease: Boolean = false): Store = {
    val raw = new HPath(basePath)
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(raw)
    if (writerLease) requireExactLease(base)
    val schemaPath = new HPath(base, SchemaFile)
    if (!fs.exists(schemaPath))
      throw new SchemaError(s"no graft store at $basePath (missing $SchemaFile)")
    val persisted = readSchema(fs, schemaPath)
    val (bucket, storeTz) = readLayout(fs, base)
    new Store(spark, base, persisted,
      bucket = bucket, storeTz = storeTz, writerLease = writerLease)
  }

  /** The ONE reader of a store's persisted layout — (bucket, storeTz) —
    * shared by [[open]] and [[attach]] so the parsing and defaulting
    * rules can never diverge between the write-side and the read-only
    * entry points. A missing layout file means unbucketed; a missing
    * timezone line means the pre-tz vintage's hard-coded UTC invariant
    * (NOT "skip the check"). A store without the `versioned` marker
    * file was written by the retired flat item layout (item data
    * directly in `items/<KEY>/`, no `_current` pointer): refused, so no
    * read or write ever misreads its items as absent.
    */
  private def readLayout(fs: FileSystem, base: HPath): (Option[String], String) = {
    if (!fs.exists(new HPath(base, VersionedMarker)))
      throw new SchemaError(
        s"store at $base uses the flat item layout (no '$VersionedMarker' " +
          "marker), which this version no longer reads or writes; only " +
          "the versioned `_current` layout is supported")
    val layoutPath = new HPath(base, LayoutFile)
    val lines =
      if (fs.exists(layoutPath))
        readUTF8(fs, layoutPath).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq.empty
    (lines.headOption, lines.drop(1).headOption.getOrElse("UTC"))
  }

  /** Index column first (TimestampType), then value columns, all
    * uppercased — the reference uppercases names at ingest
    * (store.py:159-160) and keys on disk (store.py:191).
    */
  private def buildSchema(
      cols: Seq[(String, DataType)],
      index: String
  ): StructType =
    StructType(
      StructField(index.toUpperCase, TimestampType) +:
        cols.map { case (n, t) => StructField(n.toUpperCase, t) }
    )

  private def readSchema(fs: FileSystem, p: HPath): StructType =
    DataType.fromJson(readUTF8(fs, p)).asInstanceOf[StructType]

  private[graft] def readUTF8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** How the lease's slot claims achieve exclusive-create EXACTNESS on
    * a given filesystem scheme (protocol at [[Store!.withLease]]):
    *
    *  - [[CreateExact]]: `fs.create(overwrite = false)` is atomic on
    *    this filesystem — HDFS-family schemes, plus any scheme the
    *    operator ATTESTS via
    *    `-Dgraft.store.lease.exactCreateSchemes=s3a,gs,...` (the knob
    *    for object-store connectors whose exclusive create maps to a
    *    conditional If-None-Match PUT — e.g. s3a with conditional
    *    create enabled, gcs preconditions — which this zero-egress
    *    build cannot probe live).
    *  - [[NioExact]]: the local filesystem. Hadoop's
    *    RawLocalFileSystem `create(false)` is CHECK-THEN-ACT, but the
    *    OS underneath has true O_CREAT|O_EXCL — slot claims go through
    *    `java.nio.file.Files.createFile` on the local path, so the
    *    local scheme is exact too (the arbitration is the create; the
    *    content write happens on the exclusively-owned slot after).
    *  - [[NotExact]]: everything else. The lease REFUSES LOUDLY at
    *    `Store.open(writerLease = true)` instead of degrading to a
    *    silent best-effort mode: a mutual-exclusion primitive that is
    *    only usually exclusive is worse than none, because callers
    *    build correctness on it. The error names both remedies
    *    (attest the scheme, or run single-driver under the in-JVM
    *    item locks).
    */
  private[sources] sealed trait ClaimMode
  private[sources] case object CreateExact extends ClaimMode
  private[sources] case object NioExact extends ClaimMode
  private[sources] final case class NotExact(scheme: String) extends ClaimMode

  private[sources] def claimMode(scheme: String): ClaimMode = {
    val sch = Option(scheme).getOrElse("file").toLowerCase
    val attested = sys.props.get("graft.store.lease.exactCreateSchemes")
      .iterator.flatMap(_.split(",")).map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSet
    // local wins over attestation: O_EXCL via java.nio is strictly
    // stronger than Hadoop's check-then-act local create, so attesting
    // 'file' (cargo-cult "attest everything I use") must not DOWNGRADE
    // local claims to the racy path
    if (sch == "file" || sch == "local") NioExact
    else if (attested.contains(sch)) CreateExact
    else if (Set("hdfs", "viewfs", "webhdfs", "swebhdfs").contains(sch)) CreateExact
    else NotExact(sch)
  }

  /** Loud refusal for [[NotExact]] schemes — called by every
    * `writerLease = true` entry point, so the failure happens at open
    * time with the remedy named, not at the first mutation.
    */
  private[sources] def requireExactLease(base: HPath): Unit =
    claimMode(base.toUri.getScheme) match {
      case NotExact(sch) =>
        throw new SchemaError(
          s"writerLease on scheme '$sch' ($base): exclusive create is not " +
            "known to be atomic here, and a best-effort writer lease would " +
            "be a silent mutual-exclusion hazard. If this connector maps " +
            "create-without-overwrite to a conditional PUT (If-None-Match), " +
            s"attest it with -Dgraft.store.lease.exactCreateSchemes=$sch; " +
            "otherwise run writers in one driver (the in-JVM item locks " +
            "serialize them) or on an HDFS-family / local store path")
      case _ => ()
    }

  /** Slot number of a lease-log entry name (`e<zero-padded seq>`) —
    * the ONE parser of the log's naming scheme, shared by the protocol
    * ([[Store!.withLease]]) and the diagnostic below.
    */
  private[sources] def leaseSeqOf(name: String): Option[Long] =
    if (name.length > 1 && name.charAt(0) == 'e')
      scala.util.Try(name.substring(1).toLong).toOption
    else None

  /** Diagnostic view of one item's lease-log directory (protocol at
    * [[Store!.withLease]]): the (uuid, expiryEpochMillis) of the MAX
    * slot entry — None when no lease was ever taken. A RELEASED lease
    * reads ("-", 0): released is a sentinel slot, not an absent
    * directory, because deleting the max entry would let two contenders
    * disagree about the next slot number. The judgment matches the
    * protocol's exactly: only the TRUE max entry counts, and an
    * unreadable/unparseable max reports ("<unparseable>", -1) — it must
    * NOT fall back to a stale lower slot, which could report "released"
    * while every writer is actually wedged on the torn max.
    */
  def leaseState(fs: FileSystem, leaseDir: HPath): Option[(String, Long)] = {
    val entries =
      try fs.listStatus(leaseDir).toSeq.flatMap { s =>
        leaseSeqOf(s.getPath.getName).map(_ -> s.getPath)
      } catch { case _: java.io.IOException => Seq.empty }
    entries.maxByOption(_._1).map { case (_, p) =>
      (try {
        val lines = readUTF8(fs, p).split("\n")
        lines.lift(1).flatMap(e => scala.util.Try(e.trim.toLong).toOption)
          .map(exp => (lines.head.trim, exp))
      } catch { case _: Throwable => None })
        .getOrElse(("<unparseable>", -1L))
    }
  }

  /** All-or-nothing write of a pointer, marker or metadata file — the
    * property the pointer commit and the swap protocol lean on. An
    * object store gets one create-and-close: the object becomes visible
    * at close. On the local filesystem, where a create truncates in
    * place, the content goes to a hidden temp beside `p` (created
    * through [[graft.sources.v2.NioLocalFileSystem]]: no `chmod` fork,
    * no `.crc`) that is renamed over `p` — or, when `overwrite` is
    * false, renamed only if `p` does not exist yet. Readers see
    * the old content or the new, never a torn file. A `.crc` an older
    * checksummed write left beside `p` is removed first (it would fail
    * a checksummed reader of the new content); [[Store!.vacuum]] sweeps
    * a temp a crash left.
    */
  private[graft] def writeUTF8(
      fs: FileSystem, p: HPath, s: String, overwrite: Boolean = true): Unit = {
    val local = Option.when(fs.getScheme == "file")(graft.sources.v2.NioLocalFileSystem.shared)
    val id = java.util.UUID.randomUUID().toString
    val tmp = local.fold(p)(_ => new HPath(p.getParent, DriverTmpPrefix + id))
    activeStagingIds.add(id)
    try {
      val out = local.getOrElse(fs).create(tmp, overwrite)
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
      local.foreach { l =>
        val (src, dst) = (l.pathToFile(tmp).toPath, l.pathToFile(p).toPath)
        java.nio.file.Files.deleteIfExists(dst.resolveSibling(s".${p.getName}.crc"))
        if (overwrite) java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        else java.nio.file.Files.move(src, dst)
      }
    } finally {
      local.foreach(l => java.nio.file.Files.deleteIfExists(l.pathToFile(tmp).toPath))
      activeStagingIds.remove(id)
    }
  }
}

/** A keyed, schema-enforced, append-only, time-partitioned Parquet store —
  * the reference's single abstraction (oakstore/store.py) re-expressed on
  * Spark. Each item is a Parquet dataset directory under
  * `items/<KEY>/<version>/`, the version named by `items/<KEY>/_current`;
  * reads are lazy DataFrames; the time index is an ordinary TimestampType
  * column used for range-partitioned writes and pushdown range queries.
  *
  * Scale posture: every mutation writes through one kernel per bucket
  * ([[MutationKernel]]: on the calling thread when small, in Spark tasks
  * otherwise, never through Spark's committer), rows sorted by the index
  * in files of at most [[chunkRows]] rows so Parquet row-group min/max
  * stats are selective (the reference's 1M-row sorted chunks,
  * store.py:27,174); a read lists the item once ([[files]]: only
  * the in-range bucket dirs) and scans exactly those files, with the
  * `>=`/`<=` bounds pushed to Parquet row-group stats (store.py:255-264);
  * appends have an O(new)-write path instead of the reference's
  * O(history) rewrite (store.py:225-236). The control plane runs on
  * `org.apache.hadoop.fs.FileSystem`, so base paths may be `file:`,
  * `hdfs:`, `s3a:`, … — wherever the data plane can read, the
  * maintenance ops can manage.
  */
class Store private[sources] (
    val spark: SparkSession,
    val base: HPath,
    val schema: StructType,
    val bucket: Option[String] = None,
    val chunkRows: Long = 1000000L,
    val storeTz: String = "UTC",
    val writerLease: Boolean = false
) {
  import Store._

  /** Driver-side FileSystem handle for the store's scheme. Hadoop caches
    * FileSystem instances per (scheme, authority, ugi), so this is a
    * lookup, not a connection per Store; never closed (the cache owns it).
    */
  @transient private[sources] val fs: FileSystem =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Time-index column name (always schema head). */
  val indexName: String = schema.fields.head.name

  private val BucketCol = "__bucket"
  private def bucketFmt: Option[String] = bucket.map(BucketFormats)

  private def itemsRoot: HPath = new HPath(base, ItemsDir)
  private def stagingRoot: HPath = new HPath(base, StagingDir)
  private def leaseRoot: HPath = new HPath(base, LeaseDir)

  /** Columns whose footer min/max this engine trusts — the schema
    * projection of [[Store$.footerMinMaxTrusted]] (one shared type
    * predicate; see its scaladoc for the discipline).
    */
  private[sources] def mmStatCols: Set[String] =
    schema.fields.filter(f => Store.footerMinMaxTrusted(f.dataType))
      .map(_.name).toSet

  /** Serialize same-item mutations within this JVM (see
    * [[Store$.lockFor]]); reads never take it. When the store was
    * opened with `writerLease = true`, the outermost hold additionally
    * takes the cross-JVM [[withLease]] on the item.
    */
  private def withItemLock[T](key: String)(body: => T): T = {
    val l = Store.lockFor(base, validateKey(key))
    l.lock()
    try {
      if (writerLease && l.getHoldCount == 1) withLease(validateKey(key))(body)
      else body
    } finally l.unlock()
  }

  /** Opt-in CROSS-JVM writer mutual exclusion (`writerLease = true` at
    * [[Store$.open]]), as a SLOT LOG: each item's lease is a directory
    * `.lease/<KEY>/` of immutable numbered entries `e<seq>`, content
    * `<uuid>\n<expiryEpochMillis>`. The lease state is always the
    * HIGHEST-numbered entry; EVERY transition — acquire, steal of an
    * expired lease, renew, release — is performed by creating entry
    * `seq+1` with `create(overwrite = false)`, so contention for any
    * transition is arbitrated by atomic exclusive create and NOTHING is
    * ever deleted during contention (superseded entries are garbage-
    * collected only after a higher slot exists, which every reader's
    * max-seq rule already prefers). Release writes a `-\n0` sentinel
    * slot rather than deleting — a deleted max entry would let two
    * contenders disagree about which slot number is next.
    *
    * Why the log shape: the previous protocol stole an expired lease by
    * delete-then-create, and two stealers deciding in the same instant
    * could both proceed (the delete of one could remove the other's
    * FRESH lease — a TOCTOU a plain filesystem cannot close without a
    * conditional delete). In the log protocol that race is gone BY
    * CONSTRUCTION: both stealers target the same next slot and exactly
    * one create wins; the loser re-reads and sees a live foreign lease.
    * The same argument covers a renewer racing a thief (both target
    * `seq+1`) and a release racing a late renewal.
    *
    * One residual race the log alone does not close: garbage
    * collection of superseded slots RECYCLES slot numbers, so a
    * contender stalled between choosing `seq+1` and creating it can
    * win the create of a number that was already claimed, superseded,
    * and swept — under a live foreign lease at a higher slot (the
    * classic ABA). Therefore every successful claim is CONFIRMED by a
    * fresh listing before the claimant acts as holder: the max
    * sequence is monotone (nothing ever deletes the max), so a
    * recycled-number claim always shows a higher slot in the
    * confirmation listing, the claim is retired, and the claimant
    * re-enters the wait loop. An UNREADABLE confirmation is never
    * treated as held; what else it means depends on the caller:
    * acquire conservatively retires and retries under its deadline,
    * while the renewer leaves its (possibly true-max) slot standing
    * and re-reads next tick, and release lets its sentinel stand —
    * deleting a possibly-true max on absence of evidence would
    * regress the log.
    *
    * Exactness contract: mutual exclusion against a live holder is
    * EXACT everywhere the lease runs AT ALL — there is no best-effort
    * mode. Slot claims are arbitrated per [[Store$.claimMode]]: atomic
    * `create(overwrite = false)` on HDFS-family schemes and
    * operator-attested conditional-PUT connectors
    * (`-Dgraft.store.lease.exactCreateSchemes`), true O_EXCL via
    * java.nio on the local scheme (where Hadoop's own create is
    * check-then-act), and a LOUD REFUSAL at open on anything else —
    * a lease that is only usually exclusive would be a silent hazard
    * callers build correctness on. StoreLeaseSpec proves the exact
    * case: an injected FileSystem whose exclusive create IS atomic
    * runs a many-contender steal stress with an invariant
    * single-holder counter, and a non-atomic unattested FS is proven
    * to refuse. The inherent lease caveats remain: expiry
    * compares the local clock to the writer's stamp (keep TTL ≫ clock
    * skew), and a holder paused longer than its TTL between renewer
    * ticks can believe it holds for up to one tick after losing — the
    * residue every lease design shares unless the protected resource
    * itself validates tokens.
    *
    * TTL `-Dgraft.store.lease.ttlMs` (default 1 h, matching [[vacuum]]'s
    * age guard) bounds the outage a crashed holder causes; contenders
    * poll until `-Dgraft.store.lease.waitMs` (default 60 s) then fail
    * loudly, naming the remedy. A daemon thread renews every ttl/4
    * while the op runs — the TTL is a crashed-writer detector, not a
    * bound on op duration. An unparseable max entry (a writer killed
    * while it wrote its slot) has no expiry of its own: it lapses once
    * its file's modification time is older than the TTL, and is then
    * stolen like an expired lease; until then contenders wait to their
    * deadline and fail loudly, naming the entry. A pre-log-vintage
    * lease FILE at the dir's path never lapses: contenders fail loudly,
    * and the remedy is deleting it.
    */
  private[graft] def withLease[T](k: String)(body: => T): T = {
    val dir = new HPath(leaseRoot, k)
    val id = java.util.UUID.randomUUID().toString
    val ttl = sys.props.get("graft.store.lease.ttlMs").map(_.toLong)
      .getOrElse(3600000L)
    val wait = sys.props.get("graft.store.lease.waitMs").map(_.toLong)
      .getOrElse(60000L)
    val deadline = System.currentTimeMillis() + wait
    def stamp(): String = s"$id\n${System.currentTimeMillis() + ttl}"
    def entryName(seq: Long): String = f"e$seq%019d"
    def seqOf(name: String): Option[Long] = Store.leaseSeqOf(name)
    // The lease view MUST distinguish "no lease exists" from "I could
    // not look": a transient listStatus failure read as an empty log
    // would let a contender claim slot 1 while a foreign holder is
    // live at a higher slot (e1 is long GC'd in steady state) — a
    // silent mutual-exclusion violation. NoLease is only concluded
    // from a SUCCESSFUL listing (or the dir genuinely missing);
    // everything else is Unknown, which every caller treats like a
    // live foreign lease: wait and retry, never act.
    sealed trait View
    case object NoLease extends View
    case object Unknown extends View
    case class Cur(seq: Long, uuid: String, exp: Option[Long], modified: Long) extends View {
      // a torn/garbage entry (exp None) lapses with its file's mtime
      def expiry: Long = exp.getOrElse(modified + ttl)
    }
    // A read failure on the max entry usually means a newer slot landed
    // and GC removed this one — re-LIST (never re-read blind), bounded.
    def state(): View = {
      var tries = 0
      while (true) {
        tries += 1
        val entries =
          try fs.listStatus(dir).flatMap(s =>
            seqOf(s.getPath.getName).map(_ -> s))
          catch {
            case _: java.io.FileNotFoundException =>
              return NoLease // dir never created: genuinely no lease
            case _: java.io.IOException if tries < 5 =>
              Thread.sleep(20L * tries); null
            case _: java.io.IOException => return Unknown
          }
        if (entries != null) {
          if (entries.isEmpty) return NoLease
          val (mx, st) = entries.maxBy(_._1)
          try {
            val lines = readUTF8(fs, st.getPath).split("\n")
            return Cur(mx, lines.headOption.getOrElse("").trim,
              lines.lift(1).flatMap(s => scala.util.Try(s.trim.toLong).toOption),
              st.getModificationTime)
          } catch {
            case _: Throwable if tries < 5 => Thread.sleep(20L * tries)
            case _: Throwable => return Cur(mx, "", None, st.getModificationTime) // torn
          }
        }
      }
      Unknown // unreachable
    }
    // Claim = exclusive create of the slot file + content write. The
    // two failure modes are NOT symmetric: a failed CREATE means we
    // lost the race (someone else owns the slot — back off), but a
    // failed content WRITE after our create succeeded means the slot
    // is OURS and currently 0 bytes — left behind, that torn max entry
    // wedges every reader forever ("neither held nor expired": release
    // gives up, contenders wait out their deadline). Since create
    // arbitration makes the slot exclusively ours, retiring the empty
    // file is safe and returns the log to the previous max, as if the
    // claim never happened. The concrete trigger observed as a suite
    // intermittent: the release path interrupts the renewer, and the
    // interrupt can surface as an IOException inside the renewer's
    // in-flight claim write — create landed, content didn't. The
    // interrupt flag is parked around the cleanup so the delete itself
    // is not sabotaged by it.
    val nioClaim = Store.claimMode(base.toUri.getScheme) == Store.NioExact
    def claim(seq: Long, content: String): Boolean = {
      val p = new HPath(dir, entryName(seq))
      try fs.mkdirs(dir) catch { case _: java.io.IOException => return false }
      val out: java.io.OutputStream =
        if (nioClaim) {
          // local FS: Hadoop's create(overwrite=false) is
          // check-then-act, but the OS has true O_CREAT|O_EXCL — the
          // ARBITRATION is the nio createFile; the content then goes
          // into the exclusively-owned slot through java.nio too (same
          // two-step shape as an object store's conditional PUT
          // followed by content visibility at close): the checksummed
          // `fs.create` forks `chmod` while the slot is still empty, and
          // a writer killed in that window leaves a torn max entry
          val f = new java.io.File(p.toUri.getPath)
          try java.nio.file.Files.createFile(f.toPath)
          catch { case _: Throwable => return false } // lost the race
          try java.nio.file.Files.newOutputStream(f.toPath, java.nio.file.StandardOpenOption.WRITE)
          catch {
            case _: java.io.IOException =>
              // the slot IS ours (create won) but we cannot write it:
              // retire the empty file so the log returns to the prior
              // max, as if the claim never happened
              try fs.delete(p, false) catch { case _: Throwable => () }
              return false
          }
        } else {
          try fs.create(p, false)
          catch { case _: java.io.IOException => return false } // lost the race
        }
      try {
        out.write(content.getBytes(StandardCharsets.UTF_8))
        out.close()
        true
      } catch {
        case _: java.io.IOException =>
          val wasInterrupted = Thread.interrupted() // park the flag
          try out.close() catch { case _: Throwable => () }
          try fs.delete(p, false) catch { case _: Throwable => () }
          if (wasInterrupted) Thread.currentThread().interrupt()
          false
      }
    }
    // ABA guard. gc() deletes superseded slot files, so a contender
    // that stalled between deciding on a slot number and creating it
    // can exclusively create a number that was already claimed,
    // superseded, and swept — the create SUCCEEDS while a live foreign
    // lease sits at a higher slot (e.g. holder at N expires, a thief
    // advances to N+2 and gc's N+1; our stalled steal of N+1 then
    // lands). The closing property: creating a GC'd slot can only
    // succeed when a higher slot ALREADY exists (gc runs strictly
    // below the sweeping holder's slot, and the max entry is never
    // deleted — release writes a sentinel), and the max sequence is
    // MONOTONE (every transition creates a higher slot). So a
    // post-claim re-list always exposes the conflict, and once a
    // higher slot is visible the claim is lost FOR GOOD — no later
    // listing can make our slot the max again. Every successful claim
    // must therefore be confirmed before acting as holder; a lost or
    // unconfirmable claim is retired (the file is exclusively ours by
    // create arbitration and provably superseded, so no reader's max
    // is affected) and the caller re-enters its wait loop. An
    // unreadable confirmation listing counts as NOT confirmed — never
    // as held.
    // Three-valued on purpose: POSITIVE supersession (a higher slot
    // seen — lost for good, monotonicity) is very different evidence
    // from an UNCONFIRMABLE claim (listings failing or lagging), and
    // the callers must treat them differently — the acquire path may
    // conservatively treat unconfirmable as lost (deadline-guarded),
    // but the RENEWER must not delete what may be the true max nor
    // stop renewing on absence of evidence.
    sealed trait Confirm
    case object Confirmed extends Confirm
    case object Superseded extends Confirm
    case object Unconfirmable extends Confirm
    def confirmClaim(seq: Long, who: String): Confirm = {
      var tries = 0
      while (tries < 5) {
        tries += 1
        state() match {
          case Cur(s, uuid, _, _) if s == seq && uuid == who => return Confirmed
          case Cur(s, _, _, _) if s > seq => return Superseded
          case _ =>
            // torn read of our own entry, a listing that missed our
            // just-created file, or an outright failure: retry bounded
            Thread.sleep(20L * tries)
        }
      }
      Unconfirmable
    }
    def retire(seq: Long): Unit =
      try fs.delete(new HPath(dir, entryName(seq)), false)
      catch { case _: Throwable => () }
    // sweep superseded entries — only ever called by the CONFIRMED
    // current slot holder, and only for seqs below its own, so no
    // reader's max is affected (a reader catching a deleted entry
    // re-lists)
    def gc(current: Long): Unit =
      try fs.listStatus(dir).foreach { s =>
        seqOf(s.getPath.getName).foreach { q =>
          if (q < current) fs.delete(s.getPath, false)
        }
      } catch { case _: Throwable => () }

    // every blocked acquire path — live holder, torn entry, failed
    // claim, unreadable log — funnels through one deadline-guarded
    // wait, so no branch can busy-spin and no branch can out-wait the
    // contract silently
    def waitOrFail(now: Long, why: String): Unit =
      if (now >= deadline)
        throw new java.io.IOException(
          s"item $k: $why; gave up after $wait ms — raise " +
            "-Dgraft.store.lease.waitMs to wait longer")
      else Thread.sleep(math.max(1L, math.min(100L, deadline - now)))

    var heldSeq = -1L
    while (heldSeq < 0) {
      val now = System.currentTimeMillis()
      state() match {
        case NoLease =>
          // no entries: claim the first slot. A persistent claim
          // failure with an EMPTY log is not a lost race — e.g. a
          // pre-log-vintage lease FILE occupying the dir's path — so
          // the deadline applies here too, with the same loud failure.
          if (claim(1L, stamp())) confirmClaim(1L, id) match {
            case Confirmed => heldSeq = 1L
            case Superseded => retire(1L) // loop re-reads the foreign max
            case Unconfirmable =>
              // retire is safe (exclusively ours; at worst the log
              // returns to its prior state, as if the claim never
              // happened) — but the retry must stay deadline-guarded,
              // or alternating claim-success/confirm-failure could
              // spin past waitMs without ever failing loudly
              retire(1L)
              waitOrFail(now, s"slot claim at $dir succeeded but could not be confirmed (listings failing)")
          } else waitOrFail(now,
            s"cannot create lease log at $dir (no entries, yet the first-slot " +
              "claim keeps failing — a pre-log lease file or a permission problem?)")
        case c @ Cur(seq, _, _, _) if c.expiry <= now =>
          // expired (or released sentinel, or a torn entry older than
          // the TTL): steal = claim the next slot.
          // Two stealers, or a stealer racing a late renewal, all
          // target seq+1 — exactly one wins, no deletes involved. The
          // winner still CONFIRMS (see confirmedMax): if this steal
          // stalled long enough that seq+1 was claimed, superseded,
          // and GC'd by others, the create lands on a recycled number
          // under a live foreign max — confirmed-or-retired closes
          // that ABA. A FAILED claim here is usually a lost race
          // (loop re-reads), but a persistent failure (quota,
          // permissions) must fail loudly at the deadline, not spin
          // hot forever.
          if (claim(seq + 1, stamp())) confirmClaim(seq + 1, id) match {
            case Confirmed => heldSeq = seq + 1
            case Superseded => retire(seq + 1) // ABA: foreign max — loop
            case Unconfirmable =>
              retire(seq + 1)
              waitOrFail(now, s"steal claim at $dir succeeded but could not be confirmed (listings failing)")
          } else waitOrFail(now,
            s"expired lease at $dir/${entryName(seq)} but the steal claim keeps failing")
        case c @ Cur(seq, _, exp, _) =>
          // live foreign lease (or a torn entry younger than the TTL:
          // its writer may still be mid-claim — never steal it early)
          waitOrFail(now,
            s"writer lease $dir/${entryName(seq)} held by another process" +
              exp.fold(s" (entry unparseable; it lapses at ${c.expiry})")(e => s" (expires $e)"))
        case Unknown =>
          // could not LIST: indistinguishable from a live holder —
          // acting on it (claiming slot 1) could seat two writers
          waitOrFail(now, s"lease log at $dir is unreadable (transient FS errors)")
      }
    }
    gc(heldSeq)
    // renewal daemon: claim a fresh slot every ttl/4 while the op runs.
    // Renewing THROUGH the log means a renewal can never resurrect a
    // stolen lease: if a thief claimed the slot first, our claim fails
    // and the next read shows foreign content — stop for good.
    val renewing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val renewer = new Thread(() => {
      val interval = math.max(50L, ttl / 4)
      while (renewing.get()) {
        try Thread.sleep(interval) catch { case _: InterruptedException => () }
        if (renewing.get()) state() match {
          case Cur(seq, uuid, _, _) if uuid == id =>
            if (claim(seq + 1, stamp())) confirmClaim(seq + 1, id) match {
              case Confirmed => gc(seq + 1)
              case Superseded =>
                // a thief advanced past us between our read and our
                // claim (our create landed on a recycled GC'd number):
                // positively foreign — same terminal verdict as
                // reading foreign content
                retire(seq + 1)
                renewing.set(false)
              case Unconfirmable =>
                // transient listing failure/lag: our fresh stamp
                // either IS the max (renewal landed, just unreadable
                // right now) or sits superseded under a foreign max as
                // garbage its holder's gc sweeps. Deleting what may be
                // the true max would REGRESS the visible expiry to the
                // previous stamp, and stopping renewal would silently
                // drop mutual exclusion at the stale TTL — do neither;
                // the next tick re-reads and resolves.
                ()
            }
          // claim failed: a thief (after our expiry) or our own release
          // won the slot; the next tick's read resolves which
          case Cur(_, uuid, _, _) if uuid.nonEmpty =>
            renewing.set(false) // POSITIVELY foreign: stolen, hands off
          case _ =>
            // torn read of the max entry (Cur with empty uuid), no
            // entries, or an unreadable listing: none of these is
            // evidence of theft — concluding "stolen" here would stop
            // renewal for good and silently drop mutual exclusion at
            // TTL for a long op riding out ~200 ms of FS throttling.
            // Retry next tick; only a readable foreign entry stops us.
            ()
        }
      }
    }, s"graft-lease-renew-$k")
    renewer.setDaemon(true)
    renewer.start()
    try body finally {
      renewing.set(false)
      renewer.interrupt()
      renewer.join(10000)
      // release: claim a released sentinel ON TOP of our slot. A
      // renewer thread blocked past the join window may still claim
      // one more slot — each iteration below either lands the sentinel
      // after it or observes a foreign max and stops; the claims are
      // create-arbitrated, so no interleaving wedges the item. Only a
      // POSITIVE foreign/absent observation ends the loop early — a
      // transient read failure (Unknown, or a torn read of our own
      // entry) must retry, not abandon a live lease to its full TTL.
      var done = false
      var tries = 0
      while (!done && tries < 20) {
        tries += 1
        state() match {
          case Cur(seq, uuid, _, _) if uuid == id =>
            if (claim(seq + 1, "-\n0")) {
              // confirm before sweeping: if the sentinel landed on a
              // recycled GC'd number under a foreign max (the same
              // ABA as acquire), it is harmless superseded garbage —
              // retire it for tidiness; the lease is foreign, which is
              // released-from-our-side either way. UNCONFIRMABLE lets
              // the sentinel STAND: it is either the true max (a
              // correct release) or swept later by the foreign
              // holder's gc — deleting a possibly-true max sentinel
              // would un-release the lease until its TTL.
              confirmClaim(seq + 1, "-") match {
                case Confirmed => gc(seq + 1)
                case Superseded => retire(seq + 1)
                case Unconfirmable => ()
              }
              done = true
            } else if (tries < 20) Thread.sleep(50)
          case Cur(_, uuid, _, _) if uuid.nonEmpty =>
            done = true // positively foreign: stolen, not ours to release
          case NoLease => done = true // positively gone
          case _ => if (tries < 20) Thread.sleep(50) // Unknown/torn: retry
        }
      }
    }
  }

  /** WRITE-path timezone guard, and only the write path. Bucket
    * labels are rendered at write time by `date_format` ([[withBucket]]),
    * which is codegen'd against the SESSION timezone — the one hot-path
    * expression in the store that cannot be retargeted to the persisted
    * store timezone without demoting the write to a per-row interpreted
    * formatter. So a bucketed WRITE under a drifted session refuses,
    * naming the remedy (receipt: the alternative would silently label
    * rows into wrong buckets — mislabeled data, not just mis-pruning).
    *
    * READS and label-driven maintenance need no such guard: every
    * read-side label ([[files]]' bucket bounds,
    * [[prune]]/[[compactBuckets]]'s cutoffs) is rendered by
    * [[bucketLabel]] under the PERSISTED store timezone, and the
    * residual time predicates compare instants — both
    * session-tz-independent, pinned by spec (GraftTableSpec/StoreSpec
    * drifted-session reads return correct rows).
    */
  private def requireTzAligned(): Unit =
    if (bucket.isDefined) {
      val sessionTz = spark.conf.get("spark.sql.session.timeZone")
      if (sessionTz != storeTz)
        throw new SchemaError(
          s"store at $base renders bucket labels under timezone '$storeTz' but " +
            s"the session timezone is '$sessionTz' — bucketed WRITES require " +
            "alignment; set spark.sql.session.timeZone to match (reads are " +
            "timezone-independent and unaffected)"
        )
    }

  /** Add the derived partition column when the store is bucketed. */
  private def withBucket(df: DataFrame): DataFrame =
    bucketFmt.fold(df)(f =>
      df.withColumn(BucketCol, date_format(col(indexName), f)))

  /** Every store write must run under `spark.sql.parquet.
    * outputTimestampType = TIMESTAMP_MICROS`. The Spark default, INT96,
    * is a legacy type with NO column statistics and no filter pushdown —
    * under it every range query reads every row group of every surviving
    * file, and [[describe]] has no footer min/max. INT64 micros gives
    * both; there is no per-writer option for this (ParquetOptions only
    * covers compression/rebase), so [[Store.open]] pins the session conf
    * once and this guard re-checks it per write — a runtime-mutable conf
    * changed mid-session fails fast instead of landing stat-less files.
    * (A scoped set-and-restore swap per write is NOT safe: two
    * concurrent writes — e.g. a resident [[ingestStream]] racing a batch
    * [[append]] — can interleave set/restore and leave one write running
    * under INT96.) The guard is check-then-write, not atomic: it NARROWS
    * the window to a conf change landing between this check and the
    * parquet action, it cannot close it — post-write footer verification
    * (as StoreSpec does) is the airtight check.
    */
  private def requireMicrosTimestamps(): Unit = {
    val v = spark.conf.getOption(TimestampTypeKey).getOrElse("")
    if (v != "TIMESTAMP_MICROS")
      throw new SchemaError(
        s"store at $base requires $TimestampTypeKey=TIMESTAMP_MICROS " +
          s"(pinned by Store.open; session now has '$v') — INT96 parquet timestamps " +
          "carry no column statistics, so range queries would stop pruning row groups"
      )
  }

  /** Recursive file listing, shaped per scheme:
    *
    *  - `file://`: a per-directory `listStatus` walk. Same round-trip
    *    count as `fs.listFiles(p, true)` but WITHOUT materializing
    *    `LocatedFileStatus` block locations, which on the local
    *    filesystem cost a per-file metadata probe (measured ~6 ms each)
    *    and carry nothing any caller here uses.
    *  - everything else: `fs.listFiles(p, true)`, because object
    *    stores implement it as ONE flat paged LIST over the key prefix
    *    — a per-directory walk there would pay one round-trip per
    *    bucket directory (10k buckets = 10k LISTs vs ~10 pages).
    *
    * With `rootMustExist` (default) a missing ROOT throws
    * FileNotFoundException instead of reading as empty — "no such path"
    * is not "empty item" (r16 ADVICE); callers walking a dir taken from
    * a point-in-time listing, which a concurrent vacuum or compaction
    * may delete, pass false. CHILDREN vanishing mid-walk are always
    * tolerated (snapshot semantics). Strictness costs no round-trip.
    */
  private def walkFiles(
      root: HPath,
      rootMustExist: Boolean = true): Seq[org.apache.hadoop.fs.FileStatus] = {
    val buf = Vector.newBuilder[org.apache.hadoop.fs.FileStatus]
    if (base.toUri.getScheme == "file") {
      // Every caller applies the Spark hidden-segment filter
      // ([[hiddenName]]), so the walk never needs to ENTER a hidden
      // directory — and must not: a concurrent
      // committer's `_temporary/` task dirs appear and vanish mid-write,
      // and RawLocalFileSystem surfaces a dir deleted between the parent
      // listing and the child listStatus as an opaque
      // IOException("Invalid directory or I/O error occurred") that no
      // message-matching retry can own (found by the widened 25-seed
      // concurrent-torture sweep: describe() in a maintenance thread
      // died walking an appender's task dir). Visible dirs can vanish
      // too (a concurrent prune/compactBuckets deleting a bucket dir),
      // so any child that is GONE on recheck is treated as an empty
      // subtree — the listing is a point-in-time snapshot and callers
      // needing stronger consistency already retry; an I/O error on a
      // dir that still EXISTS stays fatal.
      def go(d: HPath, atRoot: Boolean): Unit = {
        val swallow = !atRoot || !rootMustExist
        val children =
          try fs.listStatus(d)
          catch {
            case _: java.io.FileNotFoundException if swallow =>
              Array.empty[org.apache.hadoop.fs.FileStatus]
            case _: java.io.IOException if swallow && !fs.exists(d) =>
              Array.empty[org.apache.hadoop.fs.FileStatus]
          }
        children.foreach { st =>
          if (!st.isDirectory) buf += st
          else if (!hiddenName(st.getPath.getName)) go(st.getPath, atRoot = false)
        }
      }
      go(root, atRoot = true)
    } else {
      val it =
        try fs.listFiles(root, true)
        catch {
          case e: java.io.FileNotFoundException =>
            if (rootMustExist) throw e
            else new org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] {
              def hasNext: Boolean = false
              def next(): org.apache.hadoop.fs.LocatedFileStatus =
                throw new java.util.NoSuchElementException
            }
        }
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) buf += st
      }
    }
    buf.result()
  }

  /** Spark's hidden-path rule for one path segment — the rule its file
    * index applies: `.`-prefixed is always hidden; `_`-prefixed is
    * hidden UNLESS it is a partition segment (contains '='), which is
    * how the `__bucket=...` dirs stay visible while committer
    * `_temporary` dirs and `_SUCCESS` markers do not. The one
    * definition every listing below shares.
    */
  private def hiddenName(n: String): Boolean =
    n.startsWith(".") || (n.startsWith("_") && !n.contains("="))

  /** Whether any segment of `f` BELOW `root` is hidden — hidden-ness
    * applies to every segment, not just the file name: a concurrent
    * write's in-flight task files live under a `_temporary/` DIRECTORY
    * with ordinary file names, and a name-only filter would read
    * uncommitted data.
    */
  private def hiddenBelow(root: HPath, f: HPath): Boolean =
    f.toUri.getPath.stripPrefix(root.toUri.getPath).split('/').exists(hiddenName)

  /** The `.parquet` files under `root` outside hidden segments: an
    * in-flight committer's `_temporary` task payload is not
    * data, and neither is a non-parquet file. Unless `rootMustExist`,
    * the root may vanish (it comes from a point-in-time listing): then
    * it holds nothing.
    */
  private def parquetUnder(
      root: HPath, rootMustExist: Boolean = false): Seq[org.apache.hadoop.fs.FileStatus] =
    walkFiles(root, rootMustExist).filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !hiddenBelow(root, st.getPath))

  /** The item's `_current` pointer object. */
  private def ptrPath(key: String): HPath =
    new HPath(new HPath(itemsRoot, validateKey(key)), Store.CurrentPtr)

  /** The active version id named by the pointer. */
  private def currentVersion(key: String): String = {
    val k = validateKey(key)
    val ptr = ptrPath(k)
    if (!fs.exists(ptr)) throw new ItemKeyError(s"no such item: $k")
    // a commit can move the pointer on, and delete the version it named,
    // between the read and the check: re-read while the pointer moves
    def resolve(v: String, moves: Int): String =
      if (v.nonEmpty && fs.exists(new HPath(new HPath(itemsRoot, k), v))) v
      else {
        val again = readUTF8(fs, ptr).trim
        // a torn pointer (empty, or naming a vanished dir) would
        // otherwise surface as a baffling FileNotFound deep inside a
        // scan; fail actionably instead — vacuum() repairs the pointer
        // to the newest complete version
        if (again == v || moves >= 5)
          throw new java.io.IOException(
            s"item $k: version pointer is torn or dangling " +
              s"('$v'); run vacuum() to repair it to the newest complete version")
        resolve(again, moves + 1)
      }
    resolve(readUTF8(fs, ptr).trim, 0)
  }

  /** The directory holding an item's live DATA — the `_current`-named
    * version dir; [[ItemKeyError]] when the item does not exist. Every
    * read/append/describe resolves through here.
    */
  private def dataPath(key: String): HPath =
    new HPath(new HPath(itemsRoot, validateKey(key)), currentVersion(key))

  /** Reference `_validate_key` (store.py:183-194): regex-check, then
    * case-fold to upper for the on-disk directory name.
    */
  def validateKey(key: String): String = key match {
    case KeyRegex() => key.toUpperCase
    case _ => throw new ItemKeyError(s"invalid item key: '$key'")
  }

  def exists(key: String): Boolean = fs.exists(ptrPath(key))

  /** An item dir without a pointer is a half-created or half-dropped
    * orphan — not an item (the pointer IS item existence).
    */
  def listItems(): Seq[String] =
    fs.listStatus(itemsRoot).iterator
      .map(_.getPath)
      .filter(p => fs.exists(new HPath(p, Store.CurrentPtr)))
      .map(_.getName).toVector.sorted

  /** The PRESENT versions of an item — the current one, plus
    * any orphans a crashed swap left behind (a completed swap deletes
    * its predecessor right after the pointer commit, so extras exist
    * only between a crash and the next [[vacuum]]). Maintenance
    * visibility: an operator can see exactly what `vacuum(0)` would
    * reclaim, and a post-incident read can open a listed orphan as raw
    * parquet (`spark.read.parquet(<item>/<version>)`) before sweeping
    * it. Metadata-only (one listing per version dir). External readers
    * (pyarrow, DuckDB) find the live data the same way: the current
    * entry's id names `items/<KEY>/<id>/`.
    */
  def versionsOf(key: String): Seq[Store.ItemVersion] = {
    val k = validateKey(key)
    val cur = currentVersion(k) // throws ItemKeyError when absent
    val itemDir = new HPath(itemsRoot, k)
    fs.listStatus(itemDir).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .map { st =>
        // the version dir comes from a point-in-time listing a
        // concurrent vacuum can invalidate: parquetUnder's root is tolerant
        val files = parquetUnder(st.getPath)
        Store.ItemVersion(
          id = st.getPath.getName,
          current = st.getPath.getName == cur,
          files = files.size.toLong,
          bytes = files.map(_.getLen).sum,
          modifiedMs = st.getModificationTime)
      }
      .sortBy(v => (!v.current, -v.modifiedMs))
  }

  /** Metadata-only item statistics: row count, index min/max, file
    * count and byte size — read from Parquet FOOTERS (row-group counts
    * + column min/max statistics), never the data pages. On a 100 TB
    * item this is O(files) footer reads instead of a full scan, through
    * the one footer sweep ([[sweepFooters]]: driver threads for small
    * file sets, executors past that) after one listing. The index column
    * is written as INT64 TIMESTAMP(micros) ([[requireMicrosTimestamps]]
    * guards every write), so footer min/max are epoch-µs longs, merged over the
    * row groups that carry stats.
    *
    * Rows are exact; min/max are None for an empty item (or if a writer
    * produced no stats). `files` and `bytes` count the [[files]]
    * listing, the one every read and [[compactIfNeeded]] use.
    */
  def describe(key: String): Store.ItemStats = {
    val listed = files(key)
    val idx = indexName
    // a file a concurrent compact swapped out since the listing
    // contributes nothing: describe is a point-in-time snapshot
    val (perFile, _) = sweepFooters(listed, Seq(idx), Set(idx))
    val ranges = perFile.flatMap(_.minMaxByCol.get(idx))
    Store.ItemStats(
      rows = perFile.map(_.rows).sum,
      minIndex = ranges.map(_._1).minOption.map(Store.microsToTimestamp),
      maxIndex = ranges.map(_._2).maxOption.map(Store.microsToTimestamp),
      files = listed.size.toLong,
      bytes = listed.map(_.getLen).sum
    )
  }

  /** THE listing of an item's data: every read of item data takes its
    * files from here, and every scan is built over exactly this list
    * ([[SparkInternals]] hands Spark the statuses). It resolves the
    * `_current` pointer once, lists the bucket dirs whose label falls in
    * the inclusive range [start, end] — all of them when unbounded, the
    * version dir on an unbucketed store — and keeps the `.parquet` files
    * outside hidden segments, sorted by path. Labels are rendered under
    * the PERSISTED store timezone ([[bucketLabel]]); no per-file
    * round-trip. A listing a concurrent landing rename, compaction or
    * prune invalidates is retaken ([[retryVanished]]). When readers take their
    * files from a manifest instead, this body is what changes.
    */
  private[sources] def files(
      key: String,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None): Seq[FileStatus] =
    filesWhere(key, bucketFmt.filter(_ => start.isDefined || end.isDefined).map { f =>
      val (lo, hi) = (start.map(bucketLabel(f, _)), end.map(bucketLabel(f, _)))
      (b: String) => lo.forall(b >= _) && hi.forall(b <= _)
    })

  /** [[files]] of the bucket dirs whose label passes `keep` (every bucket
    * dir when None; the whole version dir on an unbucketed store). A data
    * file of a bucketed item lies directly inside a bucket dir.
    */
  private def filesWhere(key: String, keep: Option[String => Boolean]): Seq[FileStatus] =
    retryVanished {
      val p = dataPath(key)
      val listed = keep match {
        case Some(k) if bucket.isDefined => bucketDirs(p)(k).flatMap(parquetUnder(_))
        // the version dir was just resolved: vanishing is a concurrent
        // swap, retaken above, never an empty item
        case _ => parquetUnder(p, rootMustExist = true)
      }
      listed.filter(st => bucket.isEmpty || st.getPath.getParent.getName.startsWith(BucketCol + "="))
        .sortBy(_.getPath.toString)
    }

  /** Runs `body`, retaking it (at most 5 more times) while it fails
    * because a path it listed vanished under it — a concurrent landing
    * rename, compaction or prune; the last failure is
    * rethrown (a persistent one is a real one).
    */
  private def retryVanished[T](body: => T): T = {
    // "vanished" shows up as FileNotFoundException on most FileSystems,
    // but RawLocalFileSystem surfaces it as a RuntimeException from its
    // shelled-out permission probe (`ls` exiting 2 on the removed dir)
    // — match the condition, not the wrapper class
    def vanished(e: Throwable): Boolean = e match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case e => Option(e.getMessage).exists(m =>
        m.contains("No such file or directory") || m.contains("does not exist")) ||
        vanished(e.getCause)
    }
    def attempt(retries: Int): T =
      try body
      catch { case e: Exception if retries > 0 && vanished(e) => attempt(retries - 1) }
    attempt(5)
  }

  /** Footer stats of every file of `listed`, for the unfiltered footer
    * answer; a vanished file refuses ([[footersOrRefuse]]).
    */
  private[graft] def footerFiles(listed: Seq[FileStatus]): Array[Store.FileFooterStats] =
    footersOrRefuse(listed, schema.fieldNames.toSeq, mmStatCols)

  /** THE footer sweep — every footer read of the store goes through
    * here: [[describe]], [[footerFiles]], [[footerFilesInRange]] and the
    * canonical file count of [[compact]]/[[compactBuckets]]. Up to 256
    * files read on DRIVER threads: a small set reads faster there than
    * the scheduling overhead of a cluster job (this sits on the
    * sub-second planning path of SQL count(*)), and threaded because
    * footer reads are latency-bound (~0.3-0.5 ms each locally through
    * [[Store$.readFooter]], a HEAD+ranged-GET on object stores). A larger set fans out over
    * executors so 100k footers never funnel through one machine.
    *
    * A file that vanished since the listing (a concurrent swap) is
    * returned in the second element rather than thrown: [[describe]],
    * a point-in-time snapshot, counts it as nothing; callers whose
    * answer must be exact refuse through [[footersOrRefuse]].
    */
  private def sweepFooters(
      files: Seq[FileStatus], cols: Seq[String], mmCols: Set[String])
      : (Array[Store.FileFooterStats], Seq[String]) = {
    val paths = files.map(_.getPath.toString)
    val read: Array[Option[Store.FileFooterStats]] =
      if (paths.size <= 256) {
        val conf = spark.sparkContext.hadoopConfiguration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(16, paths.size)))
        try {
          val futures = paths.map { f =>
            pool.submit(new java.util.concurrent.Callable[Option[Store.FileFooterStats]] {
              override def call() = Store.footerIfPresent(conf, f, cols, mmCols)
            })
          }
          // rethrow the reader's own exception: callers that degrade on
          // an IOException must not see it wrapped
          futures.map { fu =>
            try fu.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          }.toArray
        } finally pool.shutdown()
      } else {
        val confEntries = hadoopConfEntries
        spark.sparkContext
          .parallelize(paths, math.min(paths.size, spark.sparkContext.defaultParallelism))
          .mapPartitions { fs =>
            val conf = Store.confFrom(confEntries)
            fs.map(f => Store.footerIfPresent(conf, f, cols, mmCols))
          }
          .collect() // O(files) metadata tuples, not data; in path order
      }
    (read.flatten, paths.zip(read).collect { case (p, None) => p })
  }

  /** [[sweepFooters]] for callers whose answer must be exact: a file
    * that vanished mid-sweep refuses with FileNotFoundException (the
    * footer-answered SQL paths then plan the ordinary scan, which
    * re-lists).
    */
  private def footersOrRefuse(
      files: Seq[FileStatus], cols: Seq[String], mmCols: Set[String])
      : Array[Store.FileFooterStats] = {
    val (perFile, vanished) = sweepFooters(files, cols, mmCols)
    if (vanished.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"${vanished.size} file(s) vanished during the footer sweep, e.g. ${vanished.head}")
    perFile
  }

  /** The files of an INDEX-RANGE slice, with their footer stats — the
    * daily-report shape `SELECT count(*) FROM item WHERE ts >= a AND
    * ts < b`. Bounds are (epoch-µs, inclusive?) pairs so strict and
    * non-strict comparisons both stay exact. The sweep reads `listed`,
    * a bucket-pruned superset of the range; each row-bearing file
    * classifies by its footer min/max of the index:
    *
    *  - fully OUTSIDE the range → dropped;
    *  - fully INSIDE → returned in the first array;
    *  - STRADDLING a bound, or unclassifiable (index stats not
    *    footer-exact) → the answer depends on row-level data the footer
    *    cannot see: None, and the query plans the ordinary scan.
    *
    * The SECOND array returns the row-bearing files whose index is
    * provably ALL-NULL: a NULL index satisfies no range predicate, so
    * they never join the included set, but with `lo = hi = None` their
    * rows are real table rows forming SQL's NULL group, which an
    * unfiltered GROUP BY must account for. Consumed by
    * [[graft.plans.FooterRangeAggregates]] (reference lineage: the
    * footer-stat posture of oakstore store.py:255-264).
    */
  private[graft] def footerFilesInRange(
      listed: Seq[FileStatus],
      lo: Option[(Long, Boolean)],
      hi: Option[(Long, Boolean)])
      : Option[(Array[Store.FileFooterStats], Array[Store.FileFooterStats])] = {
    val perFile = footersOrRefuse(listed, schema.fieldNames.toSeq, mmStatCols)

    // a value v is in range iff aboveLo(v) && belowHi(v)
    def aboveLo(v: Long): Boolean = lo.forall {
      case (b, incl) => if (incl) v >= b else v > b }
    def belowHi(v: Long): Boolean = hi.forall {
      case (b, incl) => if (incl) v <= b else v < b }

    val idx = indexName
    val rowBearing = perFile.filter(_.rows > 0L)
    // the index's stats must be footer-exact to classify at all
    if (!rowBearing.forall(t => t.nullCountOkCols.contains(idx) && t.minMaxOkCols.contains(idx)))
      return None
    // non-null count 0: provably all-null index — no row matches any
    // range predicate, but the rows exist (SQL's NULL group)
    val (allNull, valued) = rowBearing.partition(_.nonNullByCol(idx) == 0L)
    val (included, rest) = valued.partition { t =>
      val (fmin, fmax) = t.minMaxByCol(idx); aboveLo(fmin) && belowHi(fmax) }
    // a file neither fully inside nor fully outside straddles a bound
    val straddles = rest.exists { t => val (fmin, fmax) = t.minMaxByCol(idx); belowHi(fmin) && aboveLo(fmax) }
    if (straddles) None else Some((included, allNull))
  }

  /** The prefix of `listed` whose footer row counts cover a pushed LIMIT
    * ([[coveringPrefix]]), so `SELECT * FROM item LIMIT 10` reads one
    * chunk file instead of 100 TB; all of `listed` when that takes over
    * 64 footer reads or a file vanished. Exactness never depends on it:
    * Spark re-applies the limit (`isPartiallyPushed`).
    */
  private[sources] def filesForLimit(listed: Seq[FileStatus], limit: Long): Seq[FileStatus] =
    coveringPrefix(listed.map(Seq(_)), limit).getOrElse(listed)

  /** The shortest prefix of `groups` whose footer row counts sum to at
    * least `k`, read group by group through the footer sweep — or None
    * when covering would take more than 64 footer reads, a file
    * vanished mid-walk (concurrent compaction), or all of `groups` hold
    * fewer than `k` rows. Shared by [[filesForLimit]] (one file per
    * group) and [[filesForTopN]] (one bucket per group); None means the
    * caller plans the unpruned listing.
    */
  private def coveringPrefix(groups: Seq[Seq[FileStatus]], k: Long): Option[Seq[FileStatus]] =
    try {
      var cum = 0L
      var reads = 0
      var i = 0
      while (i < groups.size && cum < k) {
        reads += groups(i).size
        if (reads > 64) return None
        cum += footersOrRefuse(groups(i), Nil, Set.empty).map(_.rows).sum
        i += 1
      }
      if (cum >= k) Some(groups.take(i).flatten) else None
    } catch { case _: java.io.IOException => None }

  /** A [[files]] listing grouped by bucket dir in CHRONOLOGICAL order —
    * or None when the layout is not order-prunable, which is what a
    * pushed `ORDER BY <index> LIMIT k` probes at plan time
    * ([[graft.sources.v2.GraftScanBuilder]]): unbucketed items, fewer
    * than two buckets (no pruning win), or any bucket value that isn't
    * the store's zero-padded date shape (this is also what rejects a
    * `__HIVE_DEFAULT_PARTITION__` null-index bucket — rows with a NULL
    * index must veto order pruning, since SQL sorts place them at an
    * end the bucket order knows nothing about). Zero-padded same-length
    * digit/dash labels make lexicographic order chronological
    * regardless of the store timezone (the mapping instant→label is
    * monotone under any fixed tz).
    */
  private[sources] def topNBuckets(files: Seq[FileStatus]): Option[Seq[Seq[FileStatus]]] = {
    val byBucket = files.groupBy(_.getPath.getParent.getName.stripPrefix(BucketCol + "="))
    val dated = byBucket.keys.forall(v =>
      v.nonEmpty && v.head.isDigit && v.forall(c => c.isDigit || c == '-'))
    if (bucket.isEmpty || byBucket.size < 2 || !dated ||
        byBucket.keys.map(_.length).toSet.size != 1) None // mixed shapes
    else Some(byBucket.toSeq.sortBy(_._1).map(_._2))
  }

  /** Bucket prefix (ASC) / suffix (DESC) of `buckets` (a [[topNBuckets]]
    * grouping) whose footer row counts cover a pushed
    * `ORDER BY <index> [DESC] LIMIT k`: bucket dirs partition time, so
    * every excluded file's index values lie strictly beyond every
    * included bucket's range — once the included rows number ≥ k, the
    * true top-k live inside the selection. `SELECT * FROM item ORDER BY
    * ts DESC LIMIT 100` on a 100 TB item reads the newest bucket(s)
    * instead of the corpus. Exactness never depends on the selection
    * (Spark re-sorts and re-limits above the scan —
    * `isPartiallyPushed`), so anything unprovable — > 64 footer reads,
    * vanished files, uncovered k — returns every file, which is merely
    * the unpruned plan.
    */
  private[sources] def filesForTopN(
      buckets: Seq[Seq[FileStatus]], k: Long, desc: Boolean): Seq[FileStatus] =
    coveringPrefix(if (desc) buckets.reverse else buckets, k).getOrElse(buckets.flatten)

  /** Schema normalization (reference `_to_internal_type`,
    * store.py:141-174): [[conform]]'s projection and cast, rows
    * range-partitioned + sorted by the index.
    */
  def normalize(df: DataFrame): DataFrame =
    conform(df)
      .repartitionByRange(col(indexName))
      .sortWithinPartitions(col(indexName))

  /** The projection and cast of [[normalize]], without its layout:
    * case-insensitive match of every schema column (missing →
    * [[SchemaError]]), extra columns silently dropped, names uppercased,
    * values cast to the declared types (the reference discards its
    * `astype` result at store.py:168 — a bug; we really cast), index
    * coerced to timestamp. Every mutation's batch ([[mutate]]) takes its
    * input through here: the kernel lays the rows out itself.
    */
  private def conform(df: DataFrame): DataFrame = {
    val byLower: Map[String, String] =
      df.columns.map(c => c.toLowerCase -> c).toMap
    val projected = schema.fields.map { f =>
      val src = byLower.getOrElse(
        f.name.toLowerCase,
        throw new SchemaError(
          s"input is missing required column '${f.name}' " +
            s"(have: ${df.columns.mkString(", ")})"
        )
      )
      val c = col(src)
      val castC =
        if (f.name == indexName) c.cast(TimestampType)
        else c.cast(f.dataType)
      castC.as(f.name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** Initial write — CREATE TABLE AS (reference `_write`,
    * store.py:196-212): fails with [[ItemExistsError]] if the item
    * exists; writes the conformed rows as snappy Parquet into a fresh
    * version ([[writeVersion]]) and commits it with the pointer PUT.
    */
  def write(key: String, df: DataFrame): Unit = withItemLock(key) {
    val k = validateKey(key)
    if (exists(k))
      throw new ItemExistsError(s"item $k already exists; use append")
    requireNoPendingMarkers(k)
    val id = "v-" + java.util.UUID.randomUUID().toString
    // register the version id like versionSwap does: before the
    // pointer exists every v-dir looks like an orphan, and a
    // concurrent same-JVM vacuum(0) must not sweep the one being
    // written this instant
    Store.activeStagingIds.add(id.stripPrefix("v-"))
    try {
      writeVersion(new HPath(new HPath(itemsRoot, k), id), MutationKernel.Write, Some(df), _ => Nil)
      // overwrite=false: the loser of a cross-JVM create race fails
      // here — first pointer wins
      writeUTF8(fs, ptrPath(k), id, overwrite = false)
    } finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** CTAS staging, step 1 of 2: write a COMPLETE version directory
    * for a not-yet-existing item WITHOUT its pointer. The item stays
    * invisible — the pointer IS existence — so a crash at any later
    * point before [[commitStagedVersion]] leaves only an orphan v-dir
    * for vacuum's sweep, never a visible partial item. The returned id
    * stays registered against same-JVM vacuum(0) until the
    * commit/abort that balances this call.
    */
  def writeStagedVersion(key: String, df: DataFrame): String = withItemLock(key) {
    val k = validateKey(key)
    if (exists(k))
      throw new ItemExistsError(s"item $k already exists; use append")
    val id = "v-" + java.util.UUID.randomUUID().toString
    Store.activeStagingIds.add(id.stripPrefix("v-"))
    try {
      writeVersion(new HPath(new HPath(itemsRoot, k), id), MutationKernel.Write, Some(df), _ => Nil)
      id
    } catch {
      case t: Throwable =>
        Store.activeStagingIds.remove(id.stripPrefix("v-"))
        throw t
    }
  }

  /** CTAS staging, step 2: make the staged version THE item — one
    * pointer PUT, atomic on every real backend; overwrite=false makes
    * the loser of a cross-JVM create race fail exactly like an
    * errorifexists write (first pointer wins).
    *
    * The staged dir is re-verified (dir + `_SUCCESS`, which
    * [[writeVersion]] writes last) immediately before the PUT: the
    * activeStagingIds vacuum guard is same-JVM only, so a vacuum in
    * ANOTHER process whose retention is shorter than this CTAS's insert
    * phase may have swept the pointer-less v-dir as an orphan —
    * committing blind would publish a visible item whose version dir is
    * gone. Failing the CTAS here is the correct outcome (the statement
    * reruns); the residual TOCTOU window between this check and the PUT
    * is the same one versionSwap documents: cross-process vacuum
    * retention MUST exceed the longest in-flight mutation.
    */
  def commitStagedVersion(key: String, id: String): Unit = withItemLock(key) {
    val k = validateKey(key)
    try {
      val vdir = new HPath(new HPath(itemsRoot, k), id)
      if (!fs.exists(vdir))
        throw new IllegalStateException(
          s"staged version $id for item $k is gone " +
            "(swept by a concurrent vacuum with retention shorter than " +
            "the CTAS insert?); the CTAS must be rerun")
      if (!fs.exists(new HPath(vdir, "_SUCCESS")))
        throw new IllegalStateException(
          s"staged version $id for item $k exists but has no _SUCCESS " +
            "marker — the staged write is incomplete; the CTAS must be rerun")
      Store.writeUTF8(fs, ptrPath(k), id, overwrite = false)
    } finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** CTAS staging abort: delete the orphan version dir. Best-effort —
    * anything left behind is invisible and vacuum-swept.
    */
  def abortStagedVersion(key: String, id: String): Unit = withItemLock(key) {
    val k = validateKey(key)
    try fs.delete(new HPath(new HPath(itemsRoot, k), id), true)
    finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** Staging entries (markers + staged dirs) belonging to `key`,
    * matched EXACTLY: the entry name must be `<KEY><token><id>` for one
    * of the marker tokens — a bare `startsWith(key + ".")` would let
    * key "A" claim key "A.B"'s entries (dots are legal in keys). The
    * tokens themselves are lowercase while on-disk keys are uppercased,
    * so a token can never occur inside a key.
    */
  private def stagingEntries(key: String): Seq[HPath] = {
    val k = validateKey(key)
    if (!fs.exists(stagingRoot)) Seq.empty
    else fs.listStatus(stagingRoot).iterator.map(_.getPath)
      .filter { p =>
        val n = p.getName
        Store.MarkerTokens.exists(t => n.startsWith(k + t))
      }
      .toSeq
  }

  /** The mutation gate shared by every writer entry point: an item
    * whose crash RECOVERY MARKERS (`.swap-`/`.mid-`/`.del-`) still pend
    * is in a HALF-MOVED state — an append could merge against the
    * partial live dir and re-insert rows whose only copy sits in trash
    * (duplicated on restore), and a rewrite would make the marker
    * manifests ambiguous. Recovery's correctness rests on mutations
    * being refused until [[vacuum]] finishes the interrupted op.
    *
    * Deliberately NARROWER than [[stagingEntries]]: a markerless
    * `.tmp-`/`.old-` orphan is NOT a half-moved state — the protocol
    * creates the swap marker before the first rename and deletes it
    * only after the live dir is whole again, so an orphan without its
    * marker means the live dir was never touched (a crash inside
    * writeTmp, or debris whose op completed). Blocking on those wedged
    * every later mutation behind one transient job failure until
    * vacuum's age guard; now they are just storage debris for vacuum's
    * orphan sweep.
    */
  private def requireNoPendingMarkers(key: String): Unit = {
    val k = validateKey(key)
    val recovery = Seq(".swap-", ".mid-", ".del-")
    val pending = stagingEntries(k).filter { p =>
      val n = p.getName
      recovery.exists(t => n.startsWith(k + t))
    }
    if (pending.nonEmpty)
      throw new PendingRecoveryError(
        s"item $k has pending crash-recovery state in .staging " +
          "(an interrupted compactBuckets/prune); run vacuum() " +
          "first — vacuum(0) if no other writer can be live")
  }

  /** Full scan of one item (reference `_Item`, store.py:49-71): the
    * item is listed once when this is called ([[files]]) and the
    * returned DataFrame is a lazy `GraftScan` of exactly those files,
    * never listed again. `count()` and `min`/`max` are answered from
    * their footers ([[graft.plans.FooterRangeAggregates]]), and
    * `limit(n)` reads a file prefix whose footer row counts cover `n`.
    *
    * `Dataset.inputFiles` of this frame (and of any Store frame not read
    * on the driver) is empty: Spark collects a DSv2 table's files only
    * for its own file tables. To find an item's files, take the current
    * entry of [[versionsOf]] and list `items/<KEY>/<id>/`, as an
    * external reader does.
    */
  def apply(key: String): DataFrame = pinnedFrame(key, files(key))

  /** A lazy DataFrame over the `graft` table of `key` pinned to `listed`. */
  private def pinnedFrame(key: String, listed: Seq[FileStatus]): DataFrame =
    SparkInternals.tableFrame(spark, new GraftTable(this, key, Some(listed)))

  /** Assignment sugar: `store("KEY") = df` — Scala's `update` desugaring
    * mirrors the reference's `store['KEY'] = df` (`__setitem__`,
    * store.py:130-139): initial write if the item is new; the
    * reference's `store[k] += df` no-op-setitem trick (append via
    * `__iadd__` on the same handle) maps to [[item]]`("KEY") += df`.
    */
  def update(key: String, df: DataFrame): Unit = write(key, df)

  /** Mutable-looking handle for the reference's `store[k] += df` append
    * idiom: `store.item("KEY") += df`. [[toDF]] is [[Store!.apply]]: the
    * item listed at the call, its data read lazily;
    * `store.item("KEY")(t0, t1)` mirrors the reference's item slicing
    * `store[k][t0:t1]` (`_Item.__getitem__`, store.py:61-68), including
    * its defaulted bounds (1678-01-01 .. now, via [[sliceCompat]]).
    */
  final class Item private[Store] (key: String) {
    def +=(df: DataFrame): Unit = append(key, df)
    def toDF: DataFrame = Store.this.apply(key)
    def apply(start: Timestamp, end: Timestamp): DataFrame =
      sliceCompat(key, Some(start), Some(end))
    def slice(
        start: Option[Timestamp] = None,
        end: Option[Timestamp] = None
    ): DataFrame = sliceCompat(key, start, end)
  }

  def item(key: String): Item = new Item(validateKey(key))

  /** Exact reference append semantics (`_append`, store.py:214-236):
    * union old+new, drop full-row duplicates with old rows winning
    * (`keep='first'`, store.py:230), rewrite atomically as a fresh
    * version ([[versionSwap]]). O(history) per append — kept for
    * small/compat use; the scalable path is [[appendNewOnly]]. Every
    * bucket is merged by [[MutationKernel]] ([[mutate]]: on the calling
    * thread or in tasks): one file per bucket, split at [[chunkRows]].
    *
    * Documented divergence: the dedup key here is the FULL row including
    * the time index; the reference dedups on value columns only (its
    * `drop_duplicates` runs after `set_index`, store.py:229-230), so two
    * rows with identical values at different times collapse there but
    * are both kept here. The reference behavior loses legitimately
    * repeated observations; ours is the safer contract for a time store.
    */
  def append(key: String, df: DataFrame): Unit = withItemLock(key) {
    requireAppendable(key)
    requireGroupable(df)
    val k = validateKey(key)
    versionSwap(k)(v => writeVersion(v, MutationKernel.Append, Some(df), _ => files(k)))
  }

  private def requireAppendable(key: String): Unit = {
    if (!exists(key))
      throw new ItemKeyError(
        s"item ${validateKey(key)} does not exist; write it first"
      )
    requireNoPendingMarkers(key)
  }

  /** Recursive (relative-path, byte-length) listing of `p` — the
    * manifest a staging marker records. Why it matters: on a raw object
    * store a directory "rename" is a per-object copy followed by a
    * per-object delete, so a crash can leave BOTH endpoints partial-
    * looking — but copy-before-delete guarantees exactly one side is
    * COMPLETE at every crash point. The manifest is how [[vacuum]]
    * tells which: a directory equal to its manifest is intact, a strict
    * subset is partially moved (restorable from the other side), and a
    * directory holding files OUTSIDE the manifest was re-created by a
    * later writer (parquet part names carry fresh UUIDs, so distinct
    * writes can never alias) and must not be touched. Metadata-only:
    * one recursive LIST, no data reads.
    */
  private def manifestOf(p: HPath): Set[(String, Long)] =
    if (!fs.exists(p)) Set.empty
    else {
      val root = p.toUri.getPath
      val b = Set.newBuilder[(String, Long)]
      // the exists() guard above can race a concurrent remover; absent
      // then = absent now = empty manifest, so the root stays tolerant
      walkFiles(p, rootMustExist = false).foreach { f =>
        // DATA files only: Spark-hidden entries ([[hiddenName]]) are
        // excluded — `_SUCCESS` is a constant-name zero-length file
        // present in every parquet dir of every incarnation, so
        // including it would alias across unrelated writes and defeat
        // the "manifests of distinct writes never intersect" property
        if (!hiddenBelow(p, f.getPath))
          b += ((f.getPath.toUri.getPath.stripPrefix(root).stripPrefix("/"), f.getLen))
      }
      b.result()
    }

  /** Marker wire format: line 1 the absolute path the marker is about,
    * then one `<bytes>\t<relative path>` line per file. Marker content
    * from older vintages (a bare note, or nothing) parses as an empty
    * manifest, downgrading recovery to the manifest-less protocol.
    */
  private def renderMarker(about: HPath, manifest: Set[(String, Long)]): String =
    (about.toString +: manifest.toSeq.sorted.map { case (r, l) => s"$l\t$r" })
      .mkString("\n")

  private def parseMarker(s: String): (Option[HPath], Set[(String, Long)]) = {
    val lines = s.split("\n").toVector
    val about = lines.headOption
      .filter(l => l.contains("/") && !l.contains("\t"))
      .map(new HPath(_))
    val man = lines.drop(1).iterator.flatMap { line =>
      val i = line.indexOf('\t')
      if (i <= 0) None
      else scala.util.Try(
        (line.substring(i + 1), line.substring(0, i).toLong)).toOption
    }.toSet
    (about, man)
  }

  /** The driver session's effective Hadoop conf as plain entries, for
    * shipping to executor-side metadata readers: a bare
    * `new Configuration()` on an executor loads only the deployment's
    * XML resources and silently drops everything injected via
    * `spark.hadoop.*` (s3a credentials/endpoints, custom scheme impls)
    * — exactly the settings an object-store deployment relies on.
    */
  private[sources] def hadoopConfEntries: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue))
      .toVector
  }

  /** Re-base a marker-recorded absolute path against THIS store's items
    * root. Markers record the swapped/doomed dir at write time; a store
    * relocated between crash and recovery (backup restored elsewhere,
    * mount point moved) must recover into its CURRENT location, not the
    * recorded one. The suffix below the last `/items/` segment
    * identifies the dir in any location (keys are uppercased and marker
    * tokens lowercase, so the literal lowercase segment can only be the
    * layout's own). Paths without one are kept as recorded.
    */
  private def rebase(recorded: HPath): HPath = {
    val s = recorded.toUri.getPath
    val i = s.lastIndexOf("/items/")
    val rel = if (i < 0) "" else s.substring(i + "/items/".length)
    if (rel.isEmpty) recorded else new HPath(itemsRoot, rel)
  }

  /** Idempotent per-file restore: copy every `expected` file that is
    * absent from (or size-mismatched in) `dst` over from `src`.
    * Re-runnable after any crash point — completeness is judged per
    * file against the manifest, never by whether some move "finished".
    */
  private def copyMissing(
      src: HPath, dst: HPath, expected: Set[(String, Long)]): Unit =
    expected.foreach { case (rel, len) =>
      val d = new HPath(dst, rel)
      val ok = fs.exists(d) && fs.getFileStatus(d).getLen == len
      if (!ok) {
        val in = fs.open(new HPath(src, rel))
        val out = fs.create(d, true)
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, true)
      }
    }

  /** Item-level rewrite ([[append]], [[compact]]): write a fresh
    * immutable version dir (`fill`, handed its path — [[writeVersion]],
    * which leaves a `_SUCCESS` marker there last), commit it by
    * overwriting the `_current`
    * pointer — ONE single-object PUT, atomic on every real object store,
    * no directory rename anywhere — then best-effort delete the
    * superseded version (a crash before the delete leaves an invisible
    * orphan for [[vacuum]]). A crash before the pointer write leaves
    * readers on the old complete version; there is no intermediate
    * state at all.
    */
  private def versionSwap(key: String)(fill: HPath => Unit): Unit = {
    val k = validateKey(key)
    val old = currentVersion(k)
    val id = "v-" + java.util.UUID.randomUUID().toString
    Store.activeStagingIds.add(id.stripPrefix("v-"))
    try {
      fill(new HPath(new HPath(itemsRoot, k), id))
      writeUTF8(fs, ptrPath(k), id) // the commit point
      fs.delete(new HPath(new HPath(itemsRoot, k), old), true)
    } finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** Replace bucket dir `p` (inside the current version) with what
    * `writeTmp` materializes, crash-safely, through the FileSystem
    * abstraction — the in-place rewrite of [[compactBuckets]], which
    * must not copy the item's other buckets into a fresh version. It
    * stages OUTSIDE items/ so a half-written directory is never visible
    * to readers, with a two-marker commit protocol:
    *
    *  1. write new data to `.staging/KEY.tmp-ID` (`writeTmp`, run
    *     INSIDE the in-flight id guard so a concurrent force-vacuum
    *     never sweeps a tmp mid-write)
    *  2. create marker `.staging/KEY.swap-ID`   (intent recorded)
    *  3. rename live -> `.staging/KEY.old-ID`
    *  4. create marker `.staging/KEY.mid-ID`    (old data is out)
    *  5. rename tmp -> live
    *  6. delete old dir, then both markers
    *
    * A crash at any point between steps is recoverable by [[vacuum]]
    * from the marker pair: `swap` without `mid` → the swap never
    * committed → roll BACK; `swap`+`mid` → the old data is already out
    * → roll FORWARD (promote tmp, drop old). Marker names encode
    * key+ID; marker CONTENT records `p` (line 1, so recovery targets the
    * swapped bucket, never its siblings) and a file manifest — the swap
    * marker lists the old live dir, the mid marker the staged tmp
    * ([[manifestOf]]) — and marker creation is a single
    * create-and-close, visible atomically on object stores too.
    *
    * Atomicity fine print: on HDFS/file: the renames themselves are
    * atomic, so marker-pair recovery alone covers every crash point.
    * On raw object stores (s3a:) a directory "rename" is a per-object
    * copy+delete, and a crash INSIDE step 3/5 leaves a split directory
    * — this is where the manifests close the protocol: copy-before-
    * delete guarantees one complete side at every crash point, and
    * recovery restores or resumes per file against the manifest
    * (roll-back refills a partially-moved live dir from the complete
    * trash copy; roll-forward resumes the promote from tmp), so the
    * bucket always lands byte-complete on one side of the swap. Files
    * OUTSIDE the manifest are never touched — a post-crash append's
    * rows survive recovery.
    */
  private def stagedSwap(key: String, p: HPath, writeTmp: String => Unit): Unit = {
    val k = validateKey(key)
    fs.mkdirs(stagingRoot)
    val id = java.util.UUID.randomUUID().toString
    val tmp = new HPath(stagingRoot, s"$k.tmp-$id")
    val swapMarker = new HPath(stagingRoot, s"$k.swap-$id")
    val midMarker = new HPath(stagingRoot, s"$k.mid-$id")
    val trash = new HPath(stagingRoot, s"$k.old-$id")
    Store.activeStagingIds.add(id) // vacuum in this JVM must not touch us
    // true once fs.rename MAY have moved live data: from just before
    // the first rename call — except when that call returned a CLEAN
    // false (the HDFS/file contract: nothing moved). A rename that
    // THREW instead may have partially executed on a copy+delete
    // filesystem, so it keeps the flag.
    var liveTouched = false
    try {
      writeTmp(tmp.toString)
      // swap marker carries the manifest of the OLD live dir, mid
      // marker the manifest of the staged tmp — between them vacuum can
      // reconstruct the intended end state of either move exactly, even
      // where "rename" is a crash-prone per-object copy+delete
      writeUTF8(fs, swapMarker, renderMarker(p, manifestOf(p)))
      liveTouched = true
      if (!fs.rename(p, trash)) {
        liveTouched = false
        throw new java.io.IOException(s"rename $p -> $trash failed")
      }
      writeUTF8(fs, midMarker, renderMarker(p, manifestOf(tmp)))
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"rename $tmp -> $p failed")
      fs.delete(trash, true)
      fs.delete(midMarker, false)
      fs.delete(swapMarker, false)
    } catch {
      case e: Throwable =>
        // a THROWN failure with the live dir still intact — a Spark job
        // failure inside writeTmp (executor OOM, transient FS error), a
        // failed marker write, or a cleanly-refused first rename — is
        // not a half-moved state: retire our own staging debris so one
        // transient error does not wedge the item behind
        // [[PendingRecoveryError]] until vacuum's age guard. Once the
        // first rename may have moved anything, hands off — the markers
        // are exactly what [[vacuum]] recovers from.
        if (!liveTouched) {
          try fs.delete(swapMarker, false) catch { case _: Throwable => () }
          try fs.delete(tmp, true) catch { case _: Throwable => () }
        }
        throw e
    } finally Store.activeStagingIds.remove(id)
  }

  /** Rewrite one item into the canonical layout, bucket by bucket: each
    * bucket's rows sorted by the time index and cut into its canonical
    * count of runs, ceil(rows / [[chunkRows]]), each at most
    * [[chunkRows]] rows ([[MutationKernel.Compact]]).
    * [[appendNewOnly]] trades the reference's O(history) rewrite-per-
    * append for small appended files; at scale those accumulate (more
    * footers to read, weaker row-group stats), and compaction is the
    * periodic maintenance step that restores the 1 M-row sorted-chunk
    * contract (store.py:27,174) without paying it on every append.
    * Atomic: same pointer swap as [[append]]. An item within the
    * driver-read limit is rewritten on the calling thread with no Spark
    * job ([[mutate]]).
    */
  def compact(key: String): Unit = withItemLock(key) {
    requireNoPendingMarkers(key)
    val k = validateKey(key)
    // rewrite exactly the listed files: the ones describe counts
    versionSwap(k)(v => writeVersion(v, MutationKernel.Compact, None, _ => files(k)))
  }

  /** Whether `files` already hold their rows in the layout
    * [[compactBuckets]] writes: at most the canonical count ceil(footer
    * rows / [[chunkRows]]) (at least 1) of files whose index ranges do
    * not overlap (NULL index values are not compared). When a row-bearing
    * file's index stats are not footer-exact, the overlap cannot be told
    * and the count decides alone.
    */
  private def isCanonical(files: Seq[FileStatus]): Boolean = {
    val idx = indexName
    val stats = footersOrRefuse(files, Seq(idx), Set(idx))
    val bearing = stats.filter(_.rows > 0L)
    files.size <= MutationKernel.canonicalCount(stats.map(_.rows).sum, chunkRows) &&
      (!bearing.forall(_.minMaxOkCols.contains(idx)) || {
        val ranges = bearing.flatMap(_.minMaxByCol.get(idx)).sortBy(_._1)
        ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo }
      })
  }

  /** The policy that decides WHEN [[compact]] runs: rewrite the item
    * only once [[appendNewOnly]]'s accumulated small files exceed
    * `maxFiles`, counted from ONE [[files]] listing — the files
    * [[describe]] counts and every read scans. The decision reads no footer and starts no Spark job, so
    * calling this after every append batch costs one LIST until the
    * threshold trips; a tripping call on a small item is a driver-side
    * [[compact]], still with no Spark job. Returns true when a compaction
    * ran. Typical loop:
    * `appendNewOnly(k, batch); compactIfNeeded(k)`.
    *
    * Same contract caveat as [[compact]]: a rewrite invalidates any live
    * [[readStream]] tail of this item (freshly-named files would be
    * re-ingested as new input) — run it only between streaming reads, or
    * restart the consumer with a fresh checkpoint after it trips.
    */
  def compactIfNeeded(key: String, maxFiles: Long = 64L): Boolean = {
    require(maxFiles > 0, "maxFiles must be positive")
    val needed = files(key).size > maxFiles
    if (needed) compact(key)
    needed
  }

  /** Bucket-granular compaction — the 100 TB shape of [[compact]].
    * [[compact]] rewrites the WHOLE item; on a multi-year time-series
    * store that is O(history) I/O to fix small files that only ever
    * accumulate in the buckets appends currently land in. This rewrites
    * ONLY buckets whose data-file count exceeds `maxFilesPerBucket`
    * AND that are not canonical yet: more files than the canonical
    * count ceil(rows / chunkRows), or files whose index ranges overlap
    * (appends each write canonical `chunkRows` files, but each covers
    * the whole range its batch spans). The rewrite emits at most that
    * canonical file count, in index ranges that do not overlap (no
    * per-file row cap, so a run nudged past `chunkRows` by equal index
    * keys cannot split an extra file), which makes the canonical layout
    * an exact fixed point: a bucket too large to ever fit under
    * `maxFilesPerBucket` is rewritten once and then skipped, never
    * re-rewritten forever — each rewrite through the two-marker
    * crash-safe [[stagedSwap]] (the markers record the bucket path;
    * [[vacuum]] finishes an interrupted bucket swap without touching
    * its siblings), so steady-state maintenance cost tracks the append
    * rate, not the item size.
    * Cold buckets are never read OR rewritten — the decision is one
    * [[files]] listing (one LIST per bucket: O(buckets) metadata, zero
    * data rows), and each rewrite reads exactly its bucket's listed
    * files.
    *
    * Returns the number of buckets rewritten. [[SchemaError]] on
    * non-bucketed stores (use [[compact]]/[[compactIfNeeded]]). This
    * rewrites inside the current version, in-place like [[prune]] —
    * copying the other 100 TB of buckets into a fresh version to
    * compact one directory would defeat the point. Same [[readStream]]
    * caveat as [[compact]]: a rewrite renames files, so restart
    * streaming tails with a fresh checkpoint after any bucket trips.
    *
    * `since` bounds even the metadata cost: only buckets at or after
    * the bucket containing it are LISTed at all (bucket names are
    * zero-padded, so the cutoff is one string compare per name from
    * the single item-dir listing). A steady-state maintenance loop
    * passes its append horizon here — e.g. yesterday — and the op
    * stops scaling with store age entirely.
    *
    * Cross-vintage caveat: bucket-swap markers are recovered correctly
    * only by binaries that read the marker's recorded path (this
    * vintage onward). In a mixed-version deployment, do not run an
    * OLDER binary's `vacuum()` against a newer writer's crash debris —
    * its recovery assumes item-level swaps and would mis-handle a
    * bucket-level one; recover with the writer's own version first.
    */
  def compactBuckets(
      key: String,
      maxFilesPerBucket: Long = 16L,
      since: Option[Timestamp] = None
  ): Long =
    withItemLock(key) {
      require(maxFilesPerBucket > 0, "maxFilesPerBucket must be positive")
      val fmt = bucketFmt.getOrElse(
        throw new SchemaError(
          s"store at $base is not bucketed; compactBuckets needs directory " +
            "buckets (open with bucket = day|month|year) — use compact()"))
      requireNoPendingMarkers(key)
      val cutoff = since.map(bucketLabel(fmt, _))
      val buckets = filesWhere(key, Some(b => cutoff.forall(b >= _))).groupBy(_.getPath.getParent)
      var rewritten = 0L
      buckets.toSeq.sortBy(_._1.toString).foreach { case (d, listed) =>
        val dataFiles = listed.size
        // convergence guard: a bucket holding more rows than
        // maxFilesPerBucket × chunkRows can never compact below the
        // threshold — without the canonical clamp it would be fully
        // rewritten on EVERY maintenance call, forever. Footers (read
        // only for over-threshold buckets, from the SAME listing)
        // decide: rewrite only when the bucket holds more files than
        // its rows canonically need, or files whose ranges overlap.
        if (dataFiles > maxFilesPerBucket && !isCanonical(listed)) {
          // bucket files store the data columns only (the bucket value
          // lives in the dir name), sorted by the index in at most the
          // canonical count of disjoint runs with no per-file row cap
          // ([[MutationKernel.CompactExact]]): a run nudged past
          // chunkRows by equal index keys must not split into an extra
          // file, so the next call finds the bucket canonical and skips
          // — an exact fixed point, no slack factor scaling debris with
          // bucket size
          stagedSwap(key, d, { tmp =>
            fs.mkdirs(new HPath(tmp))
            land(mutate(MutationKernel.CompactExact, None, _ => listed, _ => tmp))
          })
          rewritten += 1
        }
      }
      rewritten
    }

  /** Render `t` as the bucket-directory label under format `fmt` in the
    * store timezone — zero-padded, so string compare = time compare.
    */
  private def bucketLabel(fmt: String, t: Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern(fmt)
      .withZone(java.time.ZoneId.of(storeTz))
      .format(t.toInstant)

  /** Bucket directories of version dir `p` whose label satisfies
    * `pred` — the bucket-pruning step of [[files]], and [[prune]]'s
    * deletion unit.
    */
  private def bucketDirs(p: HPath)(pred: String => Boolean): Vector[HPath] =
    fs.listStatus(p).iterator
      .map(_.getPath)
      .filter { d =>
        val n = d.getName
        n.startsWith(BucketCol + "=") && pred(n.stripPrefix(BucketCol + "="))
      }
      .toVector

  /** Scalable append: [[append]]'s merge, but only the rows the item
    * does not hold yet are written, as new files in place (one per
    * bucket, split at [[chunkRows]]) — the write is O(new), instead of
    * the reference's O(history) rewrite. Equivalent end state to
    * [[append]] (duplicates never written; old rows untouched, so "old
    * wins" trivially holds; NULL-bearing rows match, so they never
    * re-append).
    *
    * Full-row dedup includes the index, so a duplicate can only live in
    * its own row's bucket: only the buckets the batch touches are read
    * ([[MutationKernel.NewOnly]]), wherever the merge runs ([[mutate]]),
    * and a batch with nothing new writes no file.
    */
  def appendNewOnly(key: String, df: DataFrame): Unit = withItemLock(key) {
    requireAppendable(key)
    requireGroupable(df)
    val k = validateKey(key)
    // registered so vacuum's staging sweep (job 4) never reclaims THIS
    // write's hidden files before they land
    val tag = Store.inPlaceTag(base, k)
    Store.activeInPlaceWrites.add(tag)
    try land(mutate(MutationKernel.NewOnly, Some(df),
      units => filesWhere(k, units.map(us => (l: String) => us(s"$BucketCol=$l"))),
      Store.dirsUnder(dataPath(k))))
    finally Store.activeInPlaceWrites.remove(tag)
  }

  /** Fills fresh version dir `v`: what [[mutate]] writes in `mode` lands
    * under it, then `_SUCCESS` marks it complete (vacuum's pointer repair
    * and [[commitStagedVersion]] trust only a marked version).
    */
  private def writeVersion(
      v: HPath,
      mode: MutationKernel.Mode,
      batch: Option[DataFrame],
      listing: Option[Set[String]] => Seq[FileStatus]): Unit = {
    fs.mkdirs(v)
    land(mutate(mode, batch, listing, Store.dirsUnder(v)))
    writeUTF8(fs, new HPath(v, "_SUCCESS"), "")
  }

  /** Runs [[MutationKernel]] in `mode` over the item's units — one per
    * bucket dir, "" on an unbucketed store — and returns the hidden files
    * it wrote, for the caller to [[land]] and commit. `listing` lists the
    * files the mutation reads (only the given units', when it is handed
    * the batch's units); `dirOf` maps a unit to the dir its files go to.
    *
    * One placement rule for every mutation: on the calling thread, with
    * no Spark job, when the batch is already on the driver
    * ([[batchOnDriver]]) or there is none, and the files it reads fit
    * the driver read ([[fitsDriver]]). Otherwise in Spark tasks
    * ([[MutationKernel.inTasks]]): the batch is evaluated once, shuffled
    * by bucket, and each task reads its units' files from this one
    * listing. A listed file that a concurrent rewrite swaps out before
    * it is read makes the mutation re-list and start over.
    */
  private def mutate(
      mode: MutationKernel.Mode,
      batch: Option[DataFrame],
      listing: Option[Set[String]] => Seq[FileStatus],
      dirOf: String => String): Seq[Written] = retryVanished {
    requireMicrosTimestamps()
    val fileSchema = StructType(schema.map(_.copy(nullable = true)))
    val (writer, conf) = SparkInternals.parquetWriter(spark, fileSchema, Map("compression" -> "snappy"), base)
    val kernel = new MutationKernel(mode, schema, chunkRows,
      SparkInternals.driverReaderFactory(spark, schema, schema, Array.empty, new StructType()), writer, conf)
    def units(listed: Seq[FileStatus]) = listed.groupBy(bucketOf).map { case (u, inUnit) =>
      u -> inUnit.map(f => UnitFile(f.getPath.toString, f.getLen, f.getModificationTime)) }
    val local = if (!driverMutable) None else batch.fold(Option(Seq.empty[(String, InternalRow)]))(batchOnDriver)
    local.flatMap { rows =>
      val listed = listing(Option.when(mode == MutationKernel.NewOnly)(rows.map(_._1).toSet))
      Option.when(fitsDriver(listed))(kernel.onDriver(units(listed), rows, dirOf))
    }.getOrElse {
      val rows = batch.map { df =>
        requireTzAligned() // withBucket's date_format renders in session tz
        withBucket(conform(df))
      }
      kernel.inTasks(spark, units(listing(None)), rows, bucketFmt.map(_ => BucketCol), dirOf)
    }
  }

  /** Renames every file [[mutate]] wrote from its hidden name to its own;
    * files of a failed or superseded task attempt stay hidden until
    * [[vacuum]] sweeps them.
    */
  private def land(written: Seq[Written]): Unit = written.foreach { w =>
    if (!fs.rename(w.hidden, w.landed))
      throw new java.io.IOException(s"rename ${w.hidden} -> ${w.landed} failed")
  }

  /** The refusal the merge's `GROUP BY` of every column gave a nested
    * schema: Spark's analysis of that grouping, which refuses a map
    * column. Atomic schemas always group.
    */
  private def requireGroupable(df: DataFrame): Unit =
    if (!schema.forall(f => Bridge.isAtomic(f.dataType)))
      conform(df).groupBy(schema.fieldNames.toIndexedSeq.map(col): _*).count()

  /** Whether mutations may run on the driver: the driver-read limit is
    * positive and every column is atomic (a nested column is merged in
    * tasks).
    */
  private def driverMutable: Boolean =
    SparkInternals.driverReadLimit(spark) > 0 && schema.forall(f => Bridge.isAtomic(f.dataType))

  /** The conformed batch, each row paired with its unit
    * ([[MutationKernel.unitOf]]), when the batch is already on the
    * driver: the optimized plan of `withBucket(conform(df))` is a
    * `LocalRelation`, so the bucket labels are [[withBucket]]'s own
    * `date_format`, evaluated by the optimizer.
    */
  private def batchOnDriver(df: DataFrame): Option[Seq[(String, InternalRow)]] = {
    requireTzAligned() // withBucket's date_format renders in session tz
    withBucket(conform(df)).queryExecution.optimizedPlan match {
      case LocalRelation(_, data, false, _) =>
        val (n, col) = (schema.length, bucketFmt.map(_ => BucketCol))
        Some(data.map(r => MutationKernel.unitOf(r, n, col) -> r))
      case _ => None
    }
  }

  /** Whether `files`, sized like the scan's estimate, fit the driver
    * read ([[SparkInternals.driverReadLimit]]; ≤ 0: nothing does). */
  private def fitsDriver(files: Seq[FileStatus]): Boolean = {
    val limit = SparkInternals.driverReadLimit(spark)
    limit > 0 && SparkInternals.scanSize(spark, files.map(_.getLen).sum) <= limit
  }

  /** The bucket dir name of data file `f` ("" on an unbucketed store). */
  private def bucketOf(f: FileStatus): String =
    if (bucket.isEmpty) "" else f.getPath.getParent.getName

  /** Drop one item entirely (maintenance op, like [[compact]]):
    * [[ItemKeyError]] if absent. The store itself (schema, other
    * items) is untouched. The pointer delete IS the atomic disappear:
    * after it the item is gone from [[listItems]]/[[exists]], and the
    * data tree left behind is invisible debris that [[vacuum]] sweeps
    * if the recursive delete is interrupted.
    */
  def drop(key: String): Unit = withItemLock(key) {
    // dropping an item also retires its crash-recovery debris: any
    // pending markers described a bucket dir that no longer exists, and
    // leaving them would refuse every mutation of a re-created item
    // ([[requireNoPendingMarkers]]) until vacuum. The item lock
    // excludes same-JVM WRITERS of this key; the vacuum pseudo-lock
    // (which vacuum holds for its whole sweep, taking no item locks)
    // excludes a same-JVM vacuum for the WHOLE drop — not just the
    // marker sweep. Holding it only around the sweep left a window
    // where vacuum, mid-recovery of this key's old markers, could
    // copyMissing stale files back under items/KEY right after our
    // delete — debris with no pending markers left to flag it.
    // Ordering is item-lock → vacuum-lock everywhere, vacuum only ever
    // tryLocks an item lock: no cycle. (A
    // concurrent OTHER-JVM writer racing a drop is already undefined;
    // writerLease serializes that.)
    val vl = Store.lockFor(base, "..vacuum")
    vl.lock()
    try dropLocked(key)
    finally vl.unlock()
  }

  private def dropLocked(key: String): Unit = {
    val k = validateKey(key)
    if (!exists(k)) throw new ItemKeyError(s"no such item: $k")
    fs.delete(ptrPath(k), false)
    fs.delete(new HPath(itemsRoot, k), true)
    stagingEntries(k).foreach(p => fs.delete(p, true))
  }

  /** Retention: drop every time bucket of `key` strictly OLDER than the
    * bucket containing `before` — pure directory deletes, no scan, no
    * rewrite (the other 100 TB housekeeping op next to [[compact]]).
    * Retention is bucket-granular by design: rows inside `before`'s own
    * bucket are kept (removing them would mean rewriting that bucket;
    * run with `before` on a bucket boundary for exact cuts). Bucket
    * names are zero-padded so the lexicographic compare below IS the
    * chronological compare. Crash-safe: each expired bucket writes a
    * `KEY.del-ID` intent marker and is renamed into .staging before
    * deletion, so a kill mid-prune leaves every bucket either fully
    * present, fully gone, or finished by [[vacuum]].
    *
    * Only valid on bucketed stores ([[SchemaError]] otherwise — an
    * unbucketed item has no sub-scan deletion unit). Returns the number
    * of buckets dropped. This deletes bucket dirs INSIDE the current
    * version (retention is in-place by design — copying 100 TB minus a
    * bucket into a fresh version to delete a directory would defeat the
    * point); a reader listing mid-prune can observe a bucket disappear.
    */
  def prune(key: String, before: Timestamp): Long = withItemLock(key) {
    val fmt = bucketFmt.getOrElse(
      throw new SchemaError(
        s"store at $base is not bucketed; prune needs directory buckets " +
          "(open with bucket = day|month|year)"
      )
    )
    requireNoPendingMarkers(key)
    val p = dataPath(key)
    val cutoff = bucketLabel(fmt, before)
    fs.mkdirs(stagingRoot)
    val expired: Seq[HPath] = bucketDirs(p)(_ < cutoff)
    expired.foreach { d =>
      val id = java.util.UUID.randomUUID().toString
      val trash = new HPath(stagingRoot, validateKey(key) + ".old-" + id)
      val del = new HPath(stagingRoot, validateKey(key) + ".del-" + id)
      Store.activeStagingIds.add(id)
      try {
        // deletion-intent marker (with the doomed bucket's manifest):
        // lets vacuum finish a bucket removal whose copy+delete rename
        // died partway, deleting exactly the manifest's files
        writeUTF8(fs, del, renderMarker(d, manifestOf(d)))
        if (!fs.rename(d, trash)) {
          fs.delete(del, false)
          throw new java.io.IOException(s"rename $d -> $trash failed")
        }
        fs.delete(trash, true)
        fs.delete(del, false)
      } finally Store.activeStagingIds.remove(id)
    }
    expired.size.toLong
  }

  /** Crash-recovery sweep, finishing the atomicity story of
    * [[append]]/[[compact]]/[[compactBuckets]]/[[drop]]/[[prune]].
    * Five jobs:
    *
    *  1. **Swap recovery** — an interrupted [[stagedSwap]] (a
    *     [[compactBuckets]] bucket rewrite) leaves its `KEY.swap-ID`
    *     (and possibly `KEY.mid-ID`) marker behind; the marker pair says
    *     exactly how far the swap got (protocol at [[stagedSwap]]).
    *     `swap` without `mid`: the swap never committed → roll BACK —
    *     and if the live dir lost files to a partially-executed
    *     copy+delete rename (strict subset of the swap marker's
    *     manifest), refill it per file from the complete trash copy
    *     first. `swap` + `mid`: the old data was already
    *     moved out → roll FORWARD by promoting the staged tmp per file
    *     against the mid marker's manifest (idempotent, resumes partial
    *     promotes) — unless the live dir holds files the manifest never
    *     listed, which means a later writer re-created the bucket and
    *     the stale swap is swept instead of promoted. Either way the
    *     bucket ends whole and the markers are cleared.
    *  1b. **Delete recovery** — an interrupted [[prune]] leaves its
    *     `KEY.del-ID` intent marker; recovery finishes the
    *     delete (leftover live files and the trash copy), guarded by
    *     the same manifest-subset rule so a re-created path is never
    *     touched.
    *  2. **Orphan sweep** — `*.tmp-*` / `*.old-*` dirs whose op died
    *     between its last rename and its delete: invisible to readers
    *     (staging lives outside items/) but occupying storage; swept.
    *  3. **Orphan-version sweep** — `v-<id>` dirs no `_current` pointer
    *     names (a [[versionSwap]] or [[write]] that died around its
    *     pointer write), after repairing a torn pointer; also the hidden
    *     temp a local pointer commit that died before its rename left
    *     beside the pointer ([[Store$.writeUTF8]]).
    *  4. **Hidden-file sweep** — the hidden [[Store$.DriverTmpPrefix]]
    *     files [[MutationKernel]] writes before they land, inside the
    *     current version: an in-place [[appendNewOnly]] that died before
    *     landing them, or a failed or superseded task attempt's files
    *     (a fresh version carries those along when it commits). Also the
    *     committer `_temporary` / `.spark-staging-*` dirs and hidden
    *     output dirs that writes of earlier vintages could leave in a
    *     live data dir. All hidden from every read, holding bytes
    *     nothing else reclaims. Skips items with a same-JVM in-place
    *     append in flight ([[Store$.activeInPlaceWrites]]).
    *
    * Two writer-safety layers: entries whose staging id belongs to an
    * op IN FLIGHT IN THIS JVM ([[Store$.activeStagingIds]]) are always
    * skipped — that makes even a force-sweep (`vacuum(0)`) safe against
    * same-driver concurrent appends/compacts — and `olderThanMillis`
    * (modification-time-based) guards against writers in OTHER JVMs,
    * which this process cannot see. The default sweeps only entries
    * older than one hour (longer than any plausible single write);
    * pass 0 only when no out-of-process writer exists. Returns entries
    * removed (markers not counted; a recovered swap counts its data
    * dirs). Vacuums of one store serialize on the item-lock of the
    * pseudo-item `..vacuum` (not a legal item key, so it can never
    * collide with a real item's lock).
    */
  def vacuum(olderThanMillis: Long = 3600000L): Long = {
    require(olderThanMillis >= 0, "olderThanMillis must be >= 0")
    val l = Store.lockFor(base, "..vacuum")
    l.lock()
    try vacuumLocked(olderThanMillis) finally l.unlock()
  }

  private def vacuumLocked(olderThanMillis: Long): Long = {
    val staging = stagingRoot
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // a store with only clean pointer swaps never creates .staging —
    // jobs 1-2 see no entries, but jobs 3-4 must still run
    val entries =
      if (fs.exists(staging)) fs.listStatus(staging).toVector
      else Vector.empty[org.apache.hadoop.fs.FileStatus]
    def inFlight(name: String): Boolean =
      Store.stagingId(name).exists(Store.activeStagingIds.contains)
    var removed = 0L
    // job 1: complete or roll back interrupted swaps, markers first —
    // their tmp/old dirs must not hit the age sweep below mid-recovery
    val swapMarkers = entries.filter { e =>
      val n = e.getPath.getName
      n.contains(".swap-") && e.getModificationTime <= cutoff && !inFlight(n)
    }
    val recovered = scala.collection.mutable.Set[String]()
    // Per-marker vanish-tolerance (both recovery loops): `inFlight` is
    // checked at FILTER time over a listing taken once, so a concurrent
    // same-store maintenance op can COMPLETE its swap/delete — removing
    // its staging id and then its marker — between that check and this
    // loop reaching the marker. A FileNotFoundException on the marker
    // family here therefore means "the owner finished; nothing left to
    // recover for this id" (owners delete their markers last), the same
    // principle as walkFiles' vanished-mid-walk tolerance. Every other
    // failure still propagates: a half-recovered swap must fail loudly.
    swapMarkers.foreach { m =>
      try {
      val n = m.getPath.getName
      val i = n.indexOf(".swap-")
      val k = n.substring(0, i)
      val id = n.substring(i + ".swap-".length)
      val tmp = new HPath(staging, s"$k.tmp-$id")
      val trash = new HPath(staging, s"$k.old-$id")
      val mid = new HPath(staging, s"$k.mid-$id")
      // the swapped bucket dir is recorded in the marker CONTENT (line
      // 1) — recovery targets it RE-BASED against this store's own
      // items root (see [[rebase]]: the marker records an absolute
      // path, but the store may have been relocated — backup restore,
      // mount move — between crash and recovery, and recovering into
      // the stale original location could orphan or destroy the trash
      // copy). Only the retired flat layout wrote markers without a
      // recorded path; guessing a target for one could clobber the
      // item, so recovery stops loudly instead.
      def liveOf(markerContent: String): HPath =
        parseMarker(markerContent)._1.map(rebase).getOrElse(
          throw new java.io.IOException(
            s"swap marker ${m.getPath} records no target path (flat-layout " +
              "vintage); recover or remove it by hand"))
      if (fs.exists(mid)) {
        // old data left the bucket before the crash — the swap
        // committed; roll FORWARD. A clobber of unrelated newer data is
        // structurally impossible here: mutations are refused while
        // crash markers pend ([[requireNoPendingMarkers]]), [[drop]]
        // sweeps them, and a re-created item lives in a fresh version
        // dir, so a live dir coexisting with these markers can only be
        // this swap's partial promote plus (at most) post-crash appends
        // — whose fresh-named files copyMissing leaves untouched.
        val midContent = readUTF8(fs, mid)
        val live = liveOf(midContent)
        val newMan = parseMarker(midContent)._2 // manifest of tmp
        if (newMan.nonEmpty) {
          // manifest-bearing marker: promote per file, idempotently —
          // exact even when the promote itself was a copy+delete rename
          // that died partway (a strict-subset live simply resumes).
          // Defense-in-depth guard: under this binary's write-refusal
          // discipline live can only hold a subset of the manifest
          // here, but a store last written by an UNGATED binary can
          // carry a re-created incarnation next to stale markers
          // (parquet part names bear fresh UUIDs, so its files fall
          // outside the manifest) — promoting into it would mix two
          // unrelated writes. Foreign names in live → sweep the stale
          // staging debris and leave live untouched.
          val liveForeign =
            !manifestOf(live).map(_._1).subsetOf(newMan.map(_._1))
          if (fs.exists(tmp)) {
            if (!liveForeign) copyMissing(tmp, live, newMan)
            fs.delete(tmp, true)
            removed += 1
          }
          if (fs.delete(trash, true)) removed += 1
        } else {
          // legacy manifest-less marker: single-rename promote
          if (fs.exists(tmp)) {
            if (fs.exists(live)) fs.delete(live, true) // partial promote
            if (!fs.rename(tmp, live) && !fs.exists(live))
              throw new java.io.IOException(s"swap recovery: rename $tmp -> $live failed")
            removed += 1
          }
          if (fs.delete(trash, true)) removed += 1
        }
        fs.delete(mid, false)
      } else {
        // the swap never committed (live never fully left items/) —
        // roll BACK. On a copy+delete rename the live dir may have lost
        // files mid-move; copy-before-delete guarantees trash holds a
        // complete copy then — restore the MISSING manifest files per
        // file before sweeping the staging debris. Files outside the
        // manifest are left alone (a post-crash append's rows survive
        // recovery), and the write-refusal/drop-sweep discipline (see
        // roll-forward above) guarantees live is never an unrelated
        // re-created item.
        val swapContent = readUTF8(fs, m.getPath)
        val live = liveOf(swapContent)
        val oldMan = parseMarker(swapContent)._2
        // same ungated-binary guard as roll-forward: a live dir holding
        // names outside the old manifest is a re-created incarnation,
        // not a partial move-out — never copy stale files into it
        val liveForeign = oldMan.nonEmpty &&
          !manifestOf(live).map(_._1).subsetOf(oldMan.map(_._1))
        if (oldMan.nonEmpty && fs.exists(trash) && !liveForeign &&
            !oldMan.subsetOf(manifestOf(live)))
          copyMissing(trash, live, oldMan)
        else if (oldMan.isEmpty && fs.exists(trash)) {
          // legacy manifest-less marker with the complete copy in trash
          // (crash between move-out and mid marker). live absent →
          // whole-dir rename back; live PRESENT but partially moved out
          // → refill the missing files from trash per trash's own
          // listing (without a manifest the trash copy is the only
          // record of what the item held; copy-before-delete guarantees
          // it is complete) — falling through to the sweep here used to
          // destroy the only complete copy.
          if (!fs.exists(live)) {
            if (!fs.rename(trash, live) && !fs.exists(live))
              throw new java.io.IOException(
                s"swap recovery: rename $trash -> $live failed")
          } else copyMissing(trash, live, manifestOf(trash))
        }
        if (fs.delete(tmp, true)) removed += 1
        if (fs.delete(trash, true)) removed += 1
      }
      fs.delete(m.getPath, false)
      recovered ++= Seq(tmp.getName, trash.getName, mid.getName)
      } catch { case _: java.io.FileNotFoundException => () }
    }
    // job 1b: finish interrupted deletes (prune). The del marker
    // records the doomed path and its manifest; recovery deletes
    // exactly the MANIFEST files still present there — files outside
    // the manifest belong to a later writer (an append that raced the
    // half-executed delete) and are preserved —
    // then removes the dir only once nothing is left in it.
    val delMarkers = entries.filter { e =>
      val n = e.getPath.getName
      n.contains(".del-") && e.getModificationTime <= cutoff && !inFlight(n)
    }
    delMarkers.foreach { m =>
      try {
      val n = m.getPath.getName
      val i = n.indexOf(".del-")
      val k = n.substring(0, i)
      val id = n.substring(i + ".del-".length)
      val trash = new HPath(staging, s"$k.old-$id")
      val (target, man) = parseMarker(readUTF8(fs, m.getPath))
      target.map(rebase).foreach { t => // relocation-safe, like liveOf
        if (fs.exists(t)) {
          man.foreach { case (rel, _) =>
            val f = new HPath(t, rel)
            if (fs.exists(f)) fs.delete(f, false)
          }
          if (manifestOf(t).isEmpty && fs.delete(t, true)) removed += 1
        }
      }
      if (fs.delete(trash, true)) removed += 1
      fs.delete(m.getPath, false)
      recovered += trash.getName
      } catch { case _: java.io.FileNotFoundException => () }
    }
    // job 2: age-based orphan sweep of unclaimed tmp/old dirs
    entries.foreach { e =>
      val n = e.getPath.getName
      if ((n.contains(".tmp-") || n.contains(".old-")) &&
          !recovered.contains(n) && e.getModificationTime <= cutoff &&
          !inFlight(n) && fs.delete(e.getPath, true))
        removed += 1
    }
    // job 3: sweep version dirs no pointer names —
    // a versionSwap that crashed before its pointer write (invisible
    // new version) or after it but before the old-version delete
    // (superseded data). Same in-flight + age guards as jobs 1-2.
    //
    // Pointer-integrity guard: a pointer file that EXISTS but is torn —
    // empty (a crash between its create and its write, on filesystems
    // where create is visible before close) or naming a vanished dir —
    // must never be read as "no version is current": that would turn
    // the item's entire data set into sweepable orphans. Repair it to
    // the newest COMPLETE version (`_SUCCESS` present) first; if none
    // exists, leave the item entirely alone. A pointer that is ABSENT
    // is different: that item never finished creating (or finished
    // dropping), and its versions are genuine orphans.
    if (fs.exists(itemsRoot)) {
      fs.listStatus(itemsRoot).foreach { item =>
        val ptr = new HPath(item.getPath, Store.CurrentPtr)
        // check-then-read tolerance: a concurrent drop() in another JVM
        // can delete the pointer between exists and read (same-JVM
        // drops now hold the vacuum lock). Read failure with the
        // pointer GONE is a completed drop — versions are orphans;
        // read failure with the pointer still present is a transient
        // FS error — hands off the whole item this round (sweeping on
        // a failed read could orphan live data).
        val raw: Option[Option[String]] = // None = unreadable, skip item
          if (!fs.exists(ptr)) Some(None)
          else (try Some(readUTF8(fs, ptr).trim) catch { case _: Throwable => None }) match {
            case Some(r) => Some(Some(r))
            case None => if (!fs.exists(ptr)) Some(None) else None
          }
        val current: Option[String] = raw match {
          case None => None // unreadable pointer: skip this item
          case Some(None) => Some("") // no pointer: all versions are orphans
          case Some(Some(r)) if r.nonEmpty &&
              fs.exists(new HPath(item.getPath, r)) => // fresh check, not
            Some(r) // a stale pre-listing snapshot (a swap may commit mid-walk)
          case Some(Some(_)) => // torn pointer: repair, never sweep blind
            // only under the item lock, and only if the pointer still
            // reads torn there: a same-JVM commit holds that lock while
            // its pointer overwrite is transiently empty, and "repairing"
            // such a pointer once the commit has finished truncates it
            // again under a concurrent reader. A lock held elsewhere is a
            // mutation in flight: hands off this round (tryLock — vacuum
            // never waits on an item lock, see drop)
            val l = Store.lockFor(base, item.getPath.getName)
            if (!l.tryLock()) None
            else try {
              val again = try readUTF8(fs, ptr).trim catch { case _: Throwable => "" }
              if (again.nonEmpty && fs.exists(new HPath(item.getPath, again))) Some(again)
              else {
                // re-list NOW: the version a concurrent swap in another
                // JVM is committing was created before its pointer
                // write, so a fresh listing sees it; skip the whole item
                // while any of its versions belongs to an op in flight
                // in this JVM
                val fresh = fs.listStatus(item.getPath)
                  .filter(_.getPath.getName.startsWith("v-"))
                val swapInFlight = fresh.exists(v => Store.activeStagingIds
                  .contains(v.getPath.getName.stripPrefix("v-")))
                val complete = fresh.filter(v =>
                  fs.exists(new HPath(v.getPath, "_SUCCESS")))
                if (swapInFlight || complete.isEmpty) None // hands off
                else {
                  val best = complete.maxBy(_.getModificationTime).getPath.getName
                  writeUTF8(fs, ptr, best)
                  Some(best)
                }
              }
            } finally l.unlock()
        }
        current.foreach { cur =>
          fs.listStatus(item.getPath).foreach { v =>
            val n = v.getPath.getName
            // a pointer commit that died between its temp write and its
            // rename leaves the hidden temp ([[Store$.writeUTF8]])
            if (n.startsWith(DriverTmpPrefix) && v.getModificationTime <= cutoff &&
                !Store.activeStagingIds.contains(n.stripPrefix(DriverTmpPrefix)) &&
                fs.delete(v.getPath, false))
              removed += 1
            else if (n.startsWith("v-") && n != cur && v.getModificationTime <= cutoff &&
                !Store.activeStagingIds.contains(n.stripPrefix("v-"))) {
              // last-instant re-read: a versionSwap that fully
              // committed between our pointer read and this delete has
              // already unregistered its id — the fresh pointer is the
              // only evidence left that n became current. (A swap still
              // BETWEEN its pointer write and its unregister is caught
              // by the in-flight check above.) A read failure here —
              // another JVM's drop deleting the pointer mid-read, or a
              // transient FS error — must not abort the whole vacuum:
              // treat the candidate as current (skip it this round).
              val freshCur =
                try { if (fs.exists(ptr)) readUTF8(fs, ptr).trim else cur }
                catch { case _: Throwable => n }
              if (n != freshCur && fs.delete(v.getPath, true))
                removed += 1
            }
          }
        }
      }
    }
    // job 4: sweep dead hidden files inside live data dirs — the
    // kernel's unlanded [[Store$.DriverTmpPrefix]] files (an in-place
    // appendNewOnly that died before landing them, a failed or
    // superseded task attempt's files) and, from stores written before
    // the kernel, the committer `_temporary`/`.spark-staging-<jobId>`
    // dirs and the hidden output dir of a distributed appendNewOnly.
    // Readers and metadata never see them (hidden-segment filters), but
    // nothing else reclaims their bytes. Same two writer-safety layers
    // as jobs 1-2: items with an in-place append IN FLIGHT IN THIS JVM
    // ([[Store$.activeInPlaceWrites]]) are skipped unconditionally, and
    // the age guard covers writers in other JVMs. Torn/absent version
    // pointers are job 3's territory — an unresolvable item is left
    // alone here.
    if (fs.exists(itemsRoot)) {
      fs.listStatus(itemsRoot).filter(_.isDirectory).foreach { item =>
        val k = item.getPath.getName
        val dataDir: HPath =
          try new HPath(item.getPath, currentVersion(k))
          catch { case _: Throwable => null }
        if (dataDir != null &&
            !Store.activeInPlaceWrites.contains(Store.inPlaceTag(base, k))) {
          val children =
            try fs.listStatus(dataDir).toSeq
            catch { case _: Throwable => Seq.empty } // vanished mid-walk
          children.foreach { st =>
            val n = st.getPath.getName
            if (st.isDirectory &&
                (n == "_temporary" || n.startsWith(".spark-staging") || n.startsWith(DriverTmpPrefix)) &&
                st.getModificationTime <= cutoff &&
                fs.delete(st.getPath, true))
              removed += 1
          }
          walkFiles(dataDir, rootMustExist = false).foreach { st =>
            if (st.getPath.getName.startsWith(DriverTmpPrefix) &&
                st.getModificationTime <= cutoff && fs.delete(st.getPath, false))
              removed += 1
          }
        }
      }
    }
    removed
  }

  /** Streaming ingestion into one item — the 24/7 form of the
    * reference's incremental `store[k] += df` loop (store.py:57-59):
    * every micro-batch lands through [[appendNewOnly]]. That makes the
    * sink IDEMPOTENT at the row level: after a crash between a batch
    * landing and its checkpoint commit, the replayed batch merges
    * to nothing new and appends zero files — effectively-once end-to-end
    * without a transactional sink, at any scale the merge handles.
    * First batch auto-creates the item if absent (same crash window:
    * a replayed creation batch dedups to a no-op).
    *
    * Returns the started [[org.apache.spark.sql.streaming.StreamingQuery]];
    * callers own its lifecycle. Default trigger drains what's available
    * and stops (batch-style backfill); pass a processing-time trigger
    * for a resident stream. Checkpoint location is required — that is
    * what makes restarts resume instead of re-reading history.
    */
  def ingestStream(
      key: String,
      source: DataFrame,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    validateKey(key)
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!exists(key)) write(key, batch) else appendNewOnly(key, batch)
      }
      .start()
  }

  /** Streaming tail-read of one item: every Parquet file appended to the
    * item after the stream starts becomes a micro-batch — the streaming
    * analogue of re-running `store[k][t0:]` forever, and the natural
    * consumer of [[appendNewOnly]]'s incremental files. Schema is the
    * store schema (bucket column hidden); pair with a watermark on the
    * index column for windowed aggregation downstream.
    *
    * CONTRACT: valid producers while a stream is live are [[write]] and
    * [[appendNewOnly]] (append-only files). [[append]] and [[compact]]
    * (including [[compactIfNeeded]] when it trips) REWRITE the item
    * into freshly-named files — a file source would
    * re-ingest the full history as new input (double-counting), and the
    * atomic swap briefly unlinks the path. [[prune]] DELETES bucket
    * directories — safe only once the stream has processed past them
    * (the source never re-reads processed files; an unprocessed deleted
    * file fails the batch). After a rewrite (or an unsafe prune),
    * restart the stream with a fresh checkpoint.
    *
    * A `file:` checkpoint is written without `.crc` files or forked
    * `chmod`/`readlink` ([[graft.sources.v2.GraftCheckpointFileManager]],
    * installed by [[Store.open]]); a manager class the session already
    * names is kept.
    */
  def readStream(key: String): DataFrame = {
    val p = dataPath(key)
    // recursiveFileLookup descends into __bucket=... directories; the
    // bucket value is directory metadata, not file content, so the
    // store schema (which never includes it) is the file schema
    spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(p.toString)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Inclusive time-range read (reference `_query`, store.py:238-267):
    * bounds inclusive on BOTH ends. `None` bounds = unbounded — the
    * reference's non-deterministic `datetime.now()` upper default
    * (store.py:253) lives only in [[sliceCompat]].
    *
    * The item is listed ONCE when `query` is called ([[files]]: the
    * bucket dirs inside the range), and that list both decides where the
    * slice is read and is what gets read. A SMALL slice — listed bytes,
    * sized like the SQL scan's estimate ([[SparkInternals.scanSize]]),
    * within `spark.sql.autoBroadcastJoinThreshold` (≤ 0: never) — is read
    * whole on this thread, like the reference's in-process pyarrow read,
    * into a `LocalRelation`: collecting it starts no Spark job. A larger
    * slice is a lazy `GraftScan` of exactly the listed files, as
    * [[apply]] is, the bounds pushed to Parquet row-group stats
    * (store.py:255-264): aggregates the footers prove exact (a
    * bucket-aligned count, say) are answered from them, and an unbounded
    * slice's LIMIT reads a covering file prefix. Both give the same rows
    * and schema (StoreProps). A listed file that a concurrent rewrite
    * swaps out before the driver read reaches it makes the read re-list
    * and start over (bounded), never return part of the slice.
    *
    * @param columns optional projection (case-insensitive names from
    *   the store schema; unknown names → [[SchemaError]], before any
    *   I/O). Only the index (for the range predicate) and these columns
    *   are decoded — on the distributed scan the pruned set reaches the
    *   Parquet ReadSchema, so a 2-column read of a wide store only
    *   decodes 2 columns (asserted in StoreSpec).
    */
  def query(
      key: String,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      columns: Option[Seq[String]] = None
  ): DataFrame = {
    val outCols = projection(columns)
    slice(Seq(validateKey(key)), start, end, outCols, None)
  }

  /** Store-schema names of a requested projection (all columns when
    * `None`); [[SchemaError]] for an unknown name. No I/O.
    */
  private def projection(columns: Option[Seq[String]]): Seq[String] =
    columns.fold(schema.fieldNames.toSeq) { cs =>
      cs.map { c =>
        schema.fieldNames
          .find(_.equalsIgnoreCase(c))
          .getOrElse(throw new SchemaError(
            s"unknown column '$c' (have: ${schema.fieldNames.mkString(", ")})"))
      }
    }

  /** The inclusive range predicates on the index column. */
  private def inRange(start: Option[Timestamp], end: Option[Timestamp]): Seq[Column] =
    start.map(s => col(indexName) >= lit(s)).toSeq ++ end.map(e => col(indexName) <= lit(e)).toSeq

  /** The slices of `keys` (see [[query]]): each key listed once, the
    * slices read on the driver when their total size fits, otherwise
    * one lazy scan per key over its listed files, unioned. With
    * `labelCol` set, a leading column of that name holds each row's key.
    */
  private def slice(
      keys: Seq[String],
      start: Option[Timestamp],
      end: Option[Timestamp],
      outCols: Seq[String],
      labelCol: Option[String]
  ): DataFrame = {
    val read = StructType(schema.filter(f => f.name == indexName || outCols.contains(f.name)))
    val pushed = start.map(GreaterThanOrEqual(indexName, _)).toSeq ++
      end.map(LessThanOrEqual(indexName, _)).toSeq
    // row-group pruning + residual exactness (reference store.py:255-266)
    def exact(df: DataFrame) = inRange(start, end).reduceOption(_ && _).fold(df)(df.filter)
    // a listed file swapped out by a concurrent rewrite fails the driver
    // read: re-resolve the version pointers and re-list
    retryVanished {
      val listed = keys.map(k => k -> files(k, start, end))
      if (fitsDriver(listed.flatMap(_._2)))
        exact(SparkInternals.readOnDriver(spark, listed.flatMap { case (k, kf) => kf.map(k -> _) },
          schema, read, pushed.toArray, labelCol))
          .select((labelCol.toSeq ++ outCols).map(col): _*)
      else listed.map { case (k, kf) =>
        val df = exact(pinnedFrame(k, kf)).select(outCols.map(col): _*)
        labelCol.fold(df)(l => df.select(lit(k).as(l) +: df.columns.map(col).toIndexedSeq: _*))
      }.reduce(_.unionByName(_))
    }
  }

  /** Multi-key union read (at-scale extension; the reference reads one
    * key per call — store.py:238). Returns the union of `query(k, …)`
    * over the resolved, deduplicated keys with a leading `ITEM` column
    * naming each row's origin. The driver-or-distributed choice of
    * [[query]] is made ONCE, on the slices' total size, so many small
    * keys never add up to an unbounded driver read: a small total is
    * read on the driver when `queryMany` is called; otherwise a
    * portfolio-style range read is ONE Spark job over N `GraftScan`s,
    * each pinned to its key's listed files as in [[query]], instead of N
    * driver round-trips. Rejects stores whose
    * schema already carries an `ITEM` column — the origin column would
    * silently duplicate the name otherwise.
    */
  def queryMany(
      keys: Seq[String],
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      columns: Option[Seq[String]] = None
  ): DataFrame = {
    if (schema.fieldNames.contains("ITEM"))
      throw new SchemaError(
        "queryMany adds an ITEM origin column but the store schema already has " +
          "a column named ITEM; query the keys individually instead")
    val resolved = keys.map(validateKey).distinct
    if (resolved.isEmpty)
      throw new SchemaError("queryMany requires at least one key")
    slice(resolved, start, end, projection(columns), Some("ITEM"))
  }

  /** Reference-default bounds: start=1678-01-01 (store.py:250-251),
    * end=now (store.py:252-253) — future-dated rows invisible, as
    * asserted by the reference's tests (tests/test_store.py:62).
    */
  def sliceCompat(
      key: String,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None
  ): DataFrame =
    query(
      key,
      Some(start.getOrElse(MinStart)),
      Some(end.getOrElse(new Timestamp(System.currentTimeMillis())))
    )
}
