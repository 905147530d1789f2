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

  /** A unit's data files: (path relative to the item dir, bytes). */
  private[sources] type Entries = Seq[(String, Long)]

  /** One version of item `key`: its manifest's name `v-<id>`, and each
    * of its units with the name of that unit's manifest.
    */
  private[sources] final case class Version(key: String, id: String, units: Seq[(String, String)])

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
  private val VersionedMarker = "versioned"
  /** Content of [[VersionedMarker]] in the layout this build reads and
    * writes: versions are manifest files (see [[Store]]).
    */
  private val LayoutVintage = "2"
  private[sources] val CurrentPtr = "_current"
  private val LeaseDir = ".lease"

  /** JVM-wide per-(store, item) mutation locks. Every mutating control-
    * plane op runs on the DRIVER (they orchestrate Spark jobs, they
    * don't run inside them), so one JVM is the natural mutual-exclusion
    * domain: serializing same-item mutations here closes the real
    * single-driver races — two commits built on one version would lose
    * one's update, and two appendNewOnly calls merging one batch
    * concurrently would both write it. Different items lock
    * independently, so parallel multi-item ingest keeps its concurrency.
    * [[Store!.vacuum]] only `tryLock`s them, skipping an item a mutation
    * holds. Writers in OTHER JVMs are outside this domain — for them the
    * writer lease ([[Store!.withLease]]) or vacuum's age guard is the
    * protection.
    */
  private val itemLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()
  private[sources] def lockFor(base: HPath, key: String): java.util.concurrent.locks.ReentrantLock =
    itemLocks.computeIfAbsent(
      base.toString + "#" + key,
      _ => new java.util.concurrent.locks.ReentrantLock())

  /** Ids (the UUID after `v-`) of staged CTAS versions written in THIS
    * JVM and not yet committed or aborted ([[Store!.writeStagedVersion]]).
    * [[Store!.vacuum]] marks every file such a version names, so even a
    * force-sweep (`vacuum(0)`) keeps it; the age guard covers stagings
    * in other JVMs.
    */
  private[sources] val activeStagingIds: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Name prefix of the temp a local control-file write renames over its
    * target ([[writeUTF8]]).
    */
  private[sources] val DriverTmpPrefix = ".graft-tmp-"

  /** The dir of unit `u`'s data files, relative to its item's dir:
    * `data/<unit>`, or `data` for the unbucketed unit "".
    */
  private[sources] def unitDir(u: String): String = if (u.isEmpty) "data" else s"data/$u"

  /** A manifest: a header `entries <n>`, then n `<a>\t<b>` lines, every
    * line ending in a newline. A version manifest's lines are
    * `<unit>\t<unit manifest name>`; a unit manifest's are
    * `<bytes>\t<data file path relative to the item dir>`.
    */
  private[graft] def renderManifest(entries: Seq[(String, String)]): String =
    (s"entries ${entries.size}" +: entries.map { case (a, b) => s"$a\t$b" })
      .map(_ + "\n").mkString

  /** The entries of a manifest, or None when it is not whole: a header
    * and exactly its count of tab-separated lines, each newline-ended. A
    * create is visible before its close on HDFS, so a reader can meet a
    * truncated one.
    */
  private[graft] def parseManifest(s: String): Option[Seq[(String, String)]] =
    if (!s.endsWith("\n")) None
    else {
      val lines = s.stripSuffix("\n").split("\n", -1).toSeq
      val entries = lines.drop(1).map(_.split("\t", 2)).collect { case Array(a, b) => (a, b) }
      Option.when(lines.head == s"entries ${entries.size}" && entries.size == lines.size - 1)(entries)
    }

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
    * manifests and commits, retention, vacuum) runs through
    * `org.apache.hadoop.fs.FileSystem` resolved from the path scheme, the
    * same abstraction the Spark data plane already uses, so a 100 TB
    * store can live on the object store next to its compute. This closes
    * the reference's own unmet TODO (cloud storage, store.py:86).
    *
    * `bucket` (None | "day" | "month" | "year") selects directory-level
    * time partitioning: items are written one unit per bucket
    * (`__bucket=<label>`, its files in one directory) so range reads open
    * only the in-range units' manifests, before any file I/O — the
    * at-scale complement of the reference's
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
    * Item layout: an item's version is a manifest file under
    * `items/<KEY>/`, and the current one is named by a single `_current`
    * pointer object (see [[Store]]). Every mutation writes its data
    * files and manifests, then commits with ONE pointer overwrite — a
    * single-object PUT, atomic on every real object store — so nothing
    * is ever renamed and a crash at any point leaves readers on the old
    * complete version (files no version names are swept by
    * [[Store!.vacuum]]). A store of an older item layout (the flat one,
    * or versions as directories) is refused with [[SchemaError]]; there
    * is no migration.
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
      writeUTF8(fs, new HPath(base, VersionedMarker), LayoutVintage)
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
    * (NOT "skip the check"). A store of an older item layout is refused,
    * so no read or write ever misreads its items: without the
    * `versioned` marker file it was written by the flat layout (item
    * data directly in `items/<KEY>/`), and with marker content `1` by
    * the layout whose versions were directories. There is no migration.
    */
  private def readLayout(fs: FileSystem, base: HPath): (Option[String], String) = {
    val marker = new HPath(base, VersionedMarker)
    if (!fs.exists(marker))
      throw new SchemaError(
        s"store at $base uses the flat item layout (no '$VersionedMarker' " +
          "marker), which this version no longer reads or writes; only " +
          "the manifest layout is supported")
    val vintage = readUTF8(fs, marker).trim
    if (vintage != LayoutVintage)
      throw new SchemaError(
        s"store at $base uses item layout $VersionedMarker=$vintage (version " +
          "directories), which this version no longer reads or writes; only " +
          s"the manifest layout ($VersionedMarker=$LayoutVintage) is supported, " +
          "and there is no migration")
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

  /** All-or-nothing write of a pointer, manifest or metadata file — the
    * property every commit leans on. An object store gets one
    * create-and-close: the object becomes visible at close. On the local
    * filesystem, where a create truncates in place, the content goes to a
    * hidden temp beside `p` (created through
    * [[graft.sources.v2.NioLocalFileSystem]]: no `chmod` fork, no `.crc`)
    * that is renamed over `p` — or, when `overwrite` is false, renamed
    * only if `p` does not exist yet. Readers see the old content or the
    * new, never a torn file. A `.crc` an older checksummed write left
    * beside `p` is removed first (it would fail a checksummed reader of
    * the new content); [[Store!.vacuum]] sweeps a temp a crash left.
    */
  private[graft] def writeUTF8(
      fs: FileSystem, p: HPath, s: String, overwrite: Boolean = true): Unit = {
    val local = Option.when(fs.getScheme == "file")(graft.sources.v2.NioLocalFileSystem.shared)
    val tmp = local.fold(p)(_ => new HPath(p.getParent, DriverTmpPrefix + java.util.UUID.randomUUID()))
    try {
      val out = local.getOrElse(fs).create(tmp, overwrite)
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
      local.foreach { l =>
        val (src, dst) = (l.pathToFile(tmp).toPath, l.pathToFile(p).toPath)
        java.nio.file.Files.deleteIfExists(dst.resolveSibling(s".${p.getName}.crc"))
        if (overwrite) java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        else java.nio.file.Files.move(src, dst)
      }
    } finally local.foreach(l => java.nio.file.Files.deleteIfExists(l.pathToFile(tmp).toPath))
  }
}

/** A keyed, schema-enforced, append-only, time-partitioned Parquet store —
  * the reference's single abstraction (oakstore/store.py) re-expressed on
  * Spark. Reads are lazy DataFrames; the time index is an ordinary
  * TimestampType column used for range-partitioned writes and pushdown
  * range queries.
  *
  * On disk, under `items/<KEY>/` (manifest format at
  * [[Store$.renderManifest]]):
  *  - `_current` names the current version `v-<id>`;
  *  - `v-<id>`, the version manifest, names one unit manifest per unit —
  *    a bucket `__bucket=<label>`, or "" for an unbucketed item;
  *  - `u-<id>`, a unit manifest, names the unit's data files with their
  *    bytes;
  *  - the data files live under `data/<unit>/`, written once under
  *    unique names and never renamed.
  *
  * A read follows the pointer to the version manifest and opens only the
  * in-range units' manifests ([[files]]); every mutation commits a new
  * version by one pointer PUT ([[commit]]), so a reader sees the old
  * version or the new one, never a mix.
  *
  * Scale posture: every mutation writes through one kernel per bucket
  * ([[MutationKernel]]: on the calling thread when small, in Spark tasks
  * otherwise, never through Spark's committer), rows sorted by the index
  * in files of at most [[chunkRows]] rows so Parquet row-group min/max
  * stats are selective (the reference's 1M-row sorted chunks,
  * store.py:27,174); a read resolves the item's files once ([[files]]:
  * only the in-range units) and scans exactly those files, with the
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
    * covers the codec and calendar modes), so [[Store.open]] pins the session conf
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

  /** The item's `_current` pointer object. */
  private def ptrPath(key: String): HPath = itemFile(validateKey(key), Store.CurrentPtr)

  /** `name` directly under the dir of item `k` (a validated key). */
  private def itemFile(k: String, name: String): HPath =
    new HPath(new HPath(itemsRoot, k), name)

  /** Manifest `name` of item `k`: None when it is absent or not whole. */
  private def readManifest(k: String, name: String): Option[Seq[(String, String)]] =
    if (name.isEmpty) None
    else try parseManifest(readUTF8(fs, itemFile(k, name)))
    catch { case _: java.io.FileNotFoundException => None }

  /** The data files unit manifest `name` of item `k` names: (path
    * relative to the item dir, bytes). A missing one throws
    * FileNotFoundException — a commit deleted it after the reader
    * resolved its version ([[retryVanished]] retakes the read).
    */
  private def entriesOf(k: String, name: String): Entries =
    parseManifest(readUTF8(fs, itemFile(k, name))).getOrElse(
      throw new java.io.IOException(s"item $k: unit manifest $name is not whole"))
      .map { case (len, rel) => (rel, len.toLong) }

  /** The current version of `key`: the `_current` pointer and the
    * version manifest it names. A commit can move the pointer on, and
    * delete the manifest it named, between the two reads; and where a
    * create is visible before its close (HDFS), a reader can meet the
    * pointer half-written. Either way the pointer is read again, a few
    * times over about 150 ms.
    */
  private def current(key: String): Version = {
    val k = validateKey(key)
    def pointer(): String =
      try readUTF8(fs, ptrPath(k)).trim
      catch { case _: java.io.FileNotFoundException => throw new ItemKeyError(s"no such item: $k") }
    def resolve(v: String, tries: Int): Version =
      readManifest(k, v) match {
        case Some(units) => Version(k, v, units)
        // a torn pointer (empty, or naming a missing or partial
        // manifest) would otherwise surface as a baffling error deep
        // inside a scan; fail actionably instead — vacuum() repairs the
        // pointer to the newest complete version
        case None if tries >= 8 =>
          throw new java.io.IOException(
            s"item $k: version pointer is torn or dangling " +
              s"('$v'); run vacuum() to repair it to the newest complete version")
        case None =>
          Thread.sleep(5L * tries)
          resolve(pointer(), tries + 1)
      }
    resolve(pointer(), 0)
  }

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

  /** The PRESENT versions of an item — the current one, plus any
    * orphans a crashed commit left behind (a completed commit deletes
    * its predecessor's manifest right after the pointer PUT, so extras
    * exist only between a crash and the next [[vacuum]]). Maintenance
    * visibility: an operator can see exactly what `vacuum(0)` would
    * reclaim. Metadata-only: one listing of the item dir for its version
    * manifests, then each version's unit manifests (a unit manifest a
    * later commit deleted counts nothing). External readers (pyarrow,
    * DuckDB) find the live data the same way: `_current` names the
    * version manifest, whose unit manifests name the data files.
    */
  def versionsOf(key: String): Seq[Store.ItemVersion] = {
    val cur = current(key) // throws ItemKeyError when absent
    val k = cur.key
    fs.listStatus(new HPath(itemsRoot, k)).toIndexedSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("v-"))
      .flatMap { st =>
        val id = st.getPath.getName
        readManifest(k, id).map { units =>
          val files = units.flatMap { case (_, m) => readManifest(k, m).getOrElse(Nil) }
          Store.ItemVersion(id = id, current = id == cur.id, files = files.size.toLong,
            bytes = files.map(_._1.toLong).sum, modifiedMs = st.getModificationTime)
        }
      }
      .sortBy(v => (!v.current, -v.modifiedMs))
  }

  /** Metadata-only item statistics: row count, index min/max, file
    * count and byte size — read from Parquet FOOTERS (row-group counts
    * + column min/max statistics), never the data pages. On a 100 TB
    * item this is O(files) footer reads instead of a full scan, through
    * the one footer sweep ([[sweepFooters]]: driver threads for small
    * file sets, executors past that) after one [[files]] read. The index column
    * is written as INT64 TIMESTAMP(micros) ([[requireMicrosTimestamps]]
    * guards every write), so footer min/max are epoch-µs longs, merged over the
    * row groups that carry stats.
    *
    * Rows are exact; min/max are None for an empty item (or if a writer
    * produced no stats). `files` and `bytes` count the [[files]]
    * listing, the one every read and [[compactIfNeeded]] use. All of
    * them describe one version: a file that a concurrent commit deleted
    * after the listing retakes the listing and the sweep
    * ([[retryVanished]]).
    */
  def describe(key: String): Store.ItemStats = retryVanished {
    val listed = files(key)
    val idx = indexName
    val perFile = sweepFooters(listed, Seq(idx), Set(idx))
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
    * ([[SparkInternals]] hands Spark the statuses). It follows the
    * `_current` pointer to the version manifest, reads the unit manifests
    * of the bucket units whose label falls in the inclusive range
    * [start, end] — all of them when unbounded, the one unit of an
    * unbucketed store — and returns their data files, sorted by path. No
    * data dir is listed. Labels are rendered under the PERSISTED store
    * timezone ([[bucketLabel]]). A read that a concurrent commit
    * invalidates (it deletes the manifests it replaced) is retaken
    * ([[retryVanished]]).
    */
  private[graft] def files(
      key: String,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None): Seq[FileStatus] =
    filesWhere(key, bucketFmt.filter(_ => start.isDefined || end.isDefined).map { f =>
      val (lo, hi) = (start.map(bucketLabel(f, _)), end.map(bucketLabel(f, _)))
      (b: String) => lo.forall(b >= _) && hi.forall(b <= _)
    })

  /** [[files]] of the bucket units whose label passes `keep` (every unit
    * when None; the one unit of an unbucketed store).
    */
  private def filesWhere(key: String, keep: Option[String => Boolean]): Seq[FileStatus] =
    retryVanished {
      val v = current(key)
      val unit = keep.filter(_ => bucket.isDefined).fold((_: String) => true)(k => u => k(labelOf(u)))
      statuses(v.key, unitsOf(v, unit))
    }

  /** The units of version `v` that pass `keep`, each with its files. */
  private def unitsOf(v: Version, keep: String => Boolean): Seq[(String, Entries)] =
    v.units.collect { case (u, m) if keep(u) => u -> entriesOf(v.key, m) }

  /** The bucket label of unit `u` (the unit itself on an unbucketed store). */
  private def labelOf(u: String): String = u.stripPrefix(BucketCol + "=")

  /** `FileStatus`es of the files of item `k`'s `units`, sorted by path. */
  private def statuses(k: String, units: Seq[(String, Entries)]): Seq[FileStatus] = {
    val dir = new HPath(itemsRoot, k)
    val blockSize = fs.getDefaultBlockSize(dir)
    units.flatMap(_._2).map { case (rel, len) =>
      new FileStatus(len, false, 1, blockSize, 0L, new HPath(dir, rel)) }.sortBy(_.getPath.toString)
  }

  /** Runs `body`, retaking it (at most 5 more times) while it fails
    * because a file it resolved vanished under it — a manifest or data
    * file a concurrent commit deleted after replacing it; the last
    * failure is rethrown (a persistent one is a real one).
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
    * answer; a vanished file refuses ([[sweepFooters]]).
    */
  private[graft] def footerFiles(listed: Seq[FileStatus]): Array[Store.FileFooterStats] =
    sweepFooters(listed, schema.fieldNames.toSeq, mmStatCols)

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
    * A file that vanished since the listing (a concurrent commit
    * deleted it) refuses the whole sweep with FileNotFoundException:
    * [[describe]] then retakes its listing, and the footer-answered SQL
    * paths plan the ordinary scan, which re-lists.
    */
  private def sweepFooters(
      files: Seq[FileStatus], cols: Seq[String], mmCols: Set[String])
      : Array[Store.FileFooterStats] = {
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
    val vanished = paths.zip(read).collect { case (p, None) => p }
    if (vanished.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"${vanished.size} file(s) vanished during the footer sweep, e.g. ${vanished.head}")
    read.flatten
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
    val perFile = sweepFooters(listed, schema.fieldNames.toSeq, mmStatCols)

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
        cum += sweepFooters(groups(i), Nil, Set.empty).map(_.rows).sum
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
    * exists; writes the conformed rows as snappy Parquet, then the first
    * version's manifests, and commits it by creating the pointer.
    */
  def write(key: String, df: DataFrame): Unit = withItemLock(key) {
    val k = validateKey(key)
    if (exists(k))
      throw new ItemExistsError(s"item $k already exists; use append")
    val id = newVersionId()
    writeVersion(k, id, Nil, freshUnits(mutate(k, MutationKernel.Write, Some(df), _ => Nil)._2))
    // overwrite=false: the loser of a cross-JVM create race fails
    // here — first pointer wins
    writeUTF8(fs, ptrPath(k), id, overwrite = false)
  }

  /** CTAS staging, step 1 of 2: write a COMPLETE version (data files
    * and manifests) for a not-yet-existing item WITHOUT its pointer.
    * The item stays invisible — the pointer IS existence — so a crash at
    * any later point before [[commitStagedVersion]] leaves only files no
    * pointer names for vacuum's sweep, never a visible partial item. The
    * returned id stays registered against same-JVM vacuum(0) until the
    * commit/abort that balances this call.
    */
  def writeStagedVersion(key: String, df: DataFrame): String = withItemLock(key) {
    val k = validateKey(key)
    if (exists(k))
      throw new ItemExistsError(s"item $k already exists; use append")
    val id = newVersionId()
    Store.activeStagingIds.add(id.stripPrefix("v-"))
    try {
      writeVersion(k, id, Nil, freshUnits(mutate(k, MutationKernel.Write, Some(df), _ => Nil)._2))
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
    * The staged version is re-verified (its manifest and every unit
    * manifest it names are whole) immediately before the PUT: the
    * activeStagingIds vacuum guard is same-JVM only, so a vacuum in
    * ANOTHER process whose retention is shorter than this CTAS's insert
    * phase may have swept the pointer-less version as debris —
    * committing blind would publish a visible item whose files are gone.
    * Failing the CTAS here is the correct outcome (the statement reruns);
    * the residual window between this check and the PUT is why
    * cross-process vacuum retention MUST exceed the longest in-flight
    * mutation.
    */
  def commitStagedVersion(key: String, id: String): Unit = withItemLock(key) {
    val k = validateKey(key)
    try {
      if (namedBy(k, id).isEmpty)
        throw new IllegalStateException(
          s"staged version $id for item $k is gone or incomplete (swept by a " +
            "concurrent vacuum with retention shorter than the CTAS insert?); " +
            "the CTAS must be rerun")
      writeUTF8(fs, ptrPath(k), id, overwrite = false)
    } finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** CTAS staging abort: delete what the staged version names.
    * Best-effort — anything left behind is invisible and vacuum-swept.
    */
  def abortStagedVersion(key: String, id: String): Unit = withItemLock(key) {
    val k = validateKey(key)
    try namedBy(k, id).foreach(deleteFiles(k, _))
    finally Store.activeStagingIds.remove(id.stripPrefix("v-"))
  }

  /** Every file version `id` of item `k` names — its manifest, its unit
    * manifests and their data files, relative to the item dir — or None
    * when the version is not complete: a manifest missing or not whole.
    */
  private def namedBy(k: String, id: String): Option[Set[String]] =
    readManifest(k, id).flatMap { units =>
      val parts = units.map { case (_, m) => readManifest(k, m).map(m +: _.map(_._2)) }
      Option.when(parts.forall(_.isDefined))(parts.flatMap(_.get).toSet + id)
    }

  /** Deletes `rels` (paths relative to item `k`'s dir: files, or unit
    * dirs already emptied), best effort: whatever a failure leaves is
    * vacuum's. On the local filesystem each is one `java.nio` delete,
    * as [[Store$.writeUTF8]] writes: the checksummed filesystem would
    * stat every path and probe for a `.crc` twin that no store write
    * leaves.
    */
  private def deleteFiles(k: String, rels: Iterable[String]): Unit = {
    val local = Option.when(fs.getScheme == "file")(graft.sources.v2.NioLocalFileSystem.shared)
    rels.foreach { r =>
      val p = itemFile(k, r)
      try local.fold(fs.delete(p, false))(l => java.nio.file.Files.deleteIfExists(l.pathToFile(p).toPath))
      catch { case scala.util.control.NonFatal(_) => () }
    }
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
    * for its own file tables. To find an item's files, follow `_current`
    * to its version manifest and that to the unit manifests, as an
    * external reader does (see [[Store]]).
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
    * (`keep='first'`, store.py:230), rewrite every unit and commit the
    * result as a fresh version ([[commit]]). O(history) per append —
    * kept for small/compat use; the scalable path is [[appendNewOnly]].
    * Every bucket is merged by [[MutationKernel]] ([[mutate]]: on the
    * calling thread or in tasks): one file per bucket, split at
    * [[chunkRows]].
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
    rewrite(validateKey(key), MutationKernel.Append, Some(df))
  }

  private def requireAppendable(key: String): Unit =
    if (!exists(key))
      throw new ItemKeyError(
        s"item ${validateKey(key)} does not exist; write it first"
      )

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

  /** A fresh version manifest name. */
  private def newVersionId(): String = "v-" + java.util.UUID.randomUUID()

  /** The files [[mutate]] wrote, per unit, as manifest entries. */
  private def freshUnits(written: Seq[Written]): Map[String, Entries] =
    written.groupBy(_.unit).map { case (u, ws) =>
      u -> ws.map(w => (s"${unitDir(u)}/${w.name}", w.len)) }

  /** Writes version manifest `id` of item `k`: a unit manifest for each
    * unit of `fresh` that has files, and the version manifest naming
    * them and the unit manifests `carried` over unchanged. Nothing is
    * visible until a pointer names `id`.
    */
  private def writeVersion(
      k: String, id: String, carried: Seq[(String, String)], fresh: Map[String, Entries]): Unit = {
    val units = carried ++ fresh.toSeq.filter(_._2.nonEmpty).map { case (u, es) =>
      val m = "u-" + java.util.UUID.randomUUID()
      writeUTF8(fs, itemFile(k, m), renderManifest(es.sortBy(_._1).map { case (r, l) => (l.toString, r) }))
      u -> m
    }
    writeUTF8(fs, itemFile(k, id), renderManifest(units.sortBy(_._1)))
  }

  /** THE commit of every mutation of an existing item: writes the next
    * version ([[writeVersion]]: `prev`'s units in `carried` unchanged, a
    * fresh manifest per unit in `fresh`), moves the `_current` pointer to
    * it — ONE single-object PUT, atomic on every real object store, and
    * no rename anywhere — then deletes, best effort, what `prev` named
    * and the new version does not: `prev`'s manifest, its unit manifests
    * not carried, the `obsolete` data files, and the dir of a unit that
    * left the item. A crash before the PUT leaves readers on `prev`,
    * complete; a crash after it leaves only files no manifest names, for
    * [[vacuum]]. Runs under the item lock (and the writer lease where
    * configured), so no other commit of this item can interleave.
    */
  private def commit(
      prev: Version, carried: Seq[(String, String)], fresh: Map[String, Entries],
      obsolete: Iterable[String]): Unit = {
    val k = prev.key
    val id = newVersionId()
    writeVersion(k, id, carried, fresh)
    writeUTF8(fs, ptrPath(k), id) // the commit point
    val kept = carried.map(_._2).toSet
    deleteFiles(k, prev.id +: prev.units.map(_._2).filterNot(kept) ++: obsolete.toSeq)
    val left = carried.map(_._1).toSet ++ fresh.filter(_._2.nonEmpty).keySet
    deleteFiles(k, prev.units.map(_._1).filterNot(left).map(unitDir))
  }

  /** Rewrites every unit of item `k` in `mode` and commits the result
    * ([[append]], [[compact]]).
    */
  private def rewrite(k: String, mode: MutationKernel.Mode, batch: Option[DataFrame]): Unit = {
    val prev = current(k)
    val (listed, written) = mutate(k, mode, batch, _ => unitsOf(prev, _ => true))
    commit(prev, Nil, freshUnits(written), listed.flatMap(_._2.map(_._1)))
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
    * Atomic: the same one commit as [[append]]. An item within the
    * driver-read limit is rewritten on the calling thread with no Spark
    * job ([[mutate]]).
    */
  def compact(key: String): Unit = withItemLock(key) {
    rewrite(validateKey(key), MutationKernel.Compact, None)
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
    val stats = sweepFooters(files, Seq(idx), Set(idx))
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
    * [[describe]] counts and every read scans, read from the manifests.
    * The decision reads no footer and starts no Spark job, so calling
    * this after every append batch costs a few small manifest reads
    * until the threshold trips; a tripping call on a small item is a
    * driver-side [[compact]], still with no Spark job. Returns true when
    * a compaction ran. Typical loop:
    * `appendNewOnly(k, batch); compactIfNeeded(k)`.
    *
    * Same contract caveat as [[compact]]: a rewrite gives every row a new
    * file, which a live [[readStream]] tail would re-ingest as new input
    * — run it only between streaming reads, or restart the consumer with
    * a fresh checkpoint after it trips.
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
    * re-rewritten forever. All rewritten buckets commit together: the
    * next version carries every other bucket's unit manifest unchanged
    * and names a fresh one for each rewritten bucket ([[commit]]), so
    * a reader sees every bucket old or every bucket new, and
    * steady-state maintenance cost tracks the append rate, not the item
    * size. Cold buckets are never read OR rewritten — the decision reads
    * the unit manifests (O(buckets) metadata, zero data rows) and the
    * footers of over-threshold buckets only, and each rewrite reads
    * exactly its bucket's files.
    *
    * Returns the number of buckets rewritten. [[SchemaError]] on
    * non-bucketed stores (use [[compact]]/[[compactIfNeeded]]). Same
    * [[readStream]] caveat as [[compact]]: a rewritten bucket's rows are
    * in new files, so restart streaming tails with a fresh checkpoint
    * after any bucket trips.
    *
    * `since` bounds even the metadata cost: only the manifests of
    * buckets at or after the bucket containing it are read at all
    * (bucket labels are zero-padded, so the cutoff is one string compare
    * per unit of the version manifest). A steady-state maintenance loop
    * passes its append horizon here — e.g. yesterday — and the op stops
    * scaling with store age entirely.
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
      val prev = current(key)
      val cutoff = since.map(bucketLabel(fmt, _))
      // convergence guard: a bucket holding more rows than
      // maxFilesPerBucket × chunkRows can never compact below the
      // threshold — without the canonical clamp it would be fully
      // rewritten on EVERY maintenance call, forever. Footers (read only
      // for over-threshold buckets) decide: rewrite only when the bucket
      // holds more files than its rows canonically need, or files whose
      // ranges overlap.
      val chosen = unitsOf(prev, u => cutoff.forall(labelOf(u) >= _)).filter { case (u, es) =>
        es.size > maxFilesPerBucket && !isCanonical(statuses(prev.key, Seq(u -> es)))
      }
      if (chosen.nonEmpty) {
        // bucket files store the data columns only (the bucket value
        // lives in the dir name), sorted by the index in at most the
        // canonical count of disjoint runs with no per-file row cap
        // ([[MutationKernel.CompactExact]]): a run nudged past chunkRows
        // by equal index keys must not split into an extra file, so the
        // next call finds the bucket canonical and skips — an exact fixed
        // point, no slack factor scaling debris with bucket size
        val out = freshUnits(mutate(prev.key, MutationKernel.CompactExact, None, _ => chosen)._2)
        val rewritten = chosen.map(_._1).toSet
        commit(prev, prev.units.filterNot(u => rewritten(u._1)),
          rewritten.map(u => u -> out.getOrElse(u, Nil)).toMap, chosen.flatMap(_._2.map(_._1)))
      }
      chosen.size.toLong
    }

  /** Render `t` as the bucket-directory label under format `fmt` in the
    * store timezone — zero-padded, so string compare = time compare.
    */
  private def bucketLabel(fmt: String, t: Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern(fmt)
      .withZone(java.time.ZoneId.of(storeTz))
      .format(t.toInstant)

  /** Scalable append: [[append]]'s merge, but only the rows the item
    * does not hold yet are written, as new files — the write is O(new),
    * instead of the reference's O(history) rewrite. Equivalent end state
    * to [[append]] (duplicates never written; old rows untouched, so "old
    * wins" trivially holds; NULL-bearing rows match, so they never
    * re-append).
    *
    * Full-row dedup includes the index, so a duplicate can only live in
    * its own row's bucket: only the buckets the batch touches are read
    * ([[MutationKernel.NewOnly]]), wherever the merge runs ([[mutate]]).
    * The commit gives each bucket that got new files a fresh unit
    * manifest — its old entries plus the new files — and carries every
    * other unit manifest over ([[commit]]): a reader sees the whole batch
    * or none of it. A batch with nothing new writes and commits nothing.
    */
  def appendNewOnly(key: String, df: DataFrame): Unit = withItemLock(key) {
    requireAppendable(key)
    requireGroupable(df)
    val prev = current(key)
    val (listed, written) = mutate(prev.key, MutationKernel.NewOnly, Some(df),
      units => unitsOf(prev, u => units.forall(_(u))))
    val fresh = freshUnits(written)
    if (fresh.nonEmpty) {
      val old = listed.toMap
      commit(prev, prev.units.filterNot(u => fresh.contains(u._1)),
        fresh.map { case (u, es) => u -> (old.getOrElse(u, Nil) ++ es) }, Nil)
    }
  }

  /** Runs [[MutationKernel]] in `mode` over units of item `k` — one per
    * bucket, "" on an unbucketed store — and returns the units it read,
    * each with its files, and what it wrote: every file under its final
    * name in its unit's data dir, for the caller to commit. `listing`
    * gives the units the mutation reads (only the given units, when it
    * is handed the batch's units).
    *
    * One placement rule for every mutation: on the calling thread, with
    * no Spark job, when the batch is already on the driver
    * ([[batchOnDriver]]) or there is none, and the files it reads fit
    * the driver read ([[fitsDriver]]). Otherwise in Spark tasks
    * ([[MutationKernel.inTasks]]): the batch is evaluated once, shuffled
    * by bucket, and each task reads its units' files from this one
    * listing. A file of a failed or superseded task attempt is named by
    * no manifest; [[vacuum]] sweeps it.
    */
  private def mutate(
      k: String,
      mode: MutationKernel.Mode,
      batch: Option[DataFrame],
      listing: Option[Set[String]] => Seq[(String, Entries)]): (Seq[(String, Entries)], Seq[Written]) = {
    requireMicrosTimestamps()
    val fileSchema = StructType(schema.map(_.copy(nullable = true)))
    val (writer, conf) = SparkInternals.parquetWriter(spark, fileSchema, Map("compression" -> "snappy"), base)
    val dir = new HPath(itemsRoot, k).toString
    val kernel = new MutationKernel(mode, schema, chunkRows,
      SparkInternals.driverReaderFactory(spark, schema, schema, Array.empty, new StructType()), writer, conf, dir)
    def units(listed: Seq[(String, Entries)]) = listed.map { case (u, es) =>
      u -> es.map { case (rel, len) => UnitFile(s"$dir/$rel", len) } }.toMap
    val local = if (!driverMutable) None else batch.fold(Option(Seq.empty[(String, InternalRow)]))(batchOnDriver)
    local.flatMap { rows =>
      val listed = listing(Option.when(mode == MutationKernel.NewOnly)(rows.map(_._1).toSet))
      Option.when(fitsDriver(listed.flatMap(_._2).map(_._2).sum))(
        listed -> kernel.onDriver(units(listed), rows))
    }.getOrElse {
      val rows = batch.map { df =>
        requireTzAligned() // withBucket's date_format renders in session tz
        withBucket(conform(df))
      }
      val listed = listing(None)
      listed -> kernel.inTasks(spark, units(listed), rows, bucketFmt.map(_ => BucketCol))
    }
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

  /** Whether files of `bytes` in all, sized like the scan's estimate,
    * fit the driver read ([[SparkInternals.driverReadLimit]]; ≤ 0:
    * nothing does). */
  private def fitsDriver(bytes: Long): Boolean = {
    val limit = SparkInternals.driverReadLimit(spark)
    limit > 0 && SparkInternals.scanSize(spark, bytes) <= limit
  }

  /** Drop one item entirely (maintenance op, like [[compact]]):
    * [[ItemKeyError]] if absent. The store itself (schema, other
    * items) is untouched. The pointer delete IS the atomic disappear:
    * after it the item is gone from [[listItems]]/[[exists]], and the
    * files left behind if the recursive delete is interrupted are named
    * by no pointer: [[vacuum]] sweeps them. The item lock keeps a
    * same-JVM vacuum off the item meanwhile (a concurrent OTHER-JVM
    * writer racing a drop is undefined; writerLease serializes that).
    */
  def drop(key: String): Unit = withItemLock(key) {
    val k = validateKey(key)
    if (!exists(k)) throw new ItemKeyError(s"no such item: $k")
    fs.delete(ptrPath(k), false)
    fs.delete(new HPath(itemsRoot, k), true)
  }

  /** Retention: drop every time bucket of `key` strictly OLDER than the
    * bucket containing `before` — no scan, no rewrite (the other 100 TB
    * housekeeping op next to [[compact]]). Retention is bucket-granular
    * by design: rows inside `before`'s own bucket are kept (removing them
    * would mean rewriting that bucket; run with `before` on a bucket
    * boundary for exact cuts). Bucket labels are zero-padded so the
    * lexicographic compare below IS the chronological compare.
    *
    * The next version leaves the expired units out and carries every
    * other unit manifest unchanged, committed by one pointer PUT
    * ([[commit]]): a reader sees every expired bucket or none, and no
    * data moves. The expired buckets' files are deleted after the PUT.
    *
    * Only valid on bucketed stores ([[SchemaError]] otherwise — an
    * unbucketed item has no sub-scan deletion unit). Returns the number
    * of buckets dropped.
    */
  def prune(key: String, before: Timestamp): Long = withItemLock(key) {
    val fmt = bucketFmt.getOrElse(
      throw new SchemaError(
        s"store at $base is not bucketed; prune needs directory buckets " +
          "(open with bucket = day|month|year)"
      )
    )
    val prev = current(key)
    val cutoff = bucketLabel(fmt, before)
    val expired = unitsOf(prev, u => u.startsWith(BucketCol + "=") && labelOf(u) < cutoff)
    if (expired.nonEmpty) {
      val gone = expired.map(_._1).toSet
      commit(prev, prev.units.filterNot(u => gone(u._1)), Map.empty, expired.flatMap(_._2.map(_._1)))
    }
    expired.size.toLong
  }

  /** Garbage collection, one mark-and-sweep per item dir. The mark is
    * every file the current version names ([[namedBy]]: its manifest,
    * its unit manifests and their data files) plus the pointer, and
    * every file of a staged CTAS version of this JVM not yet committed
    * or aborted ([[Store$.activeStagingIds]]). The sweep deletes every
    * other file under `items/<KEY>/` older than `olderThanMillis`: what
    * a commit superseded and did not get to delete, the files a crashed
    * mutation or a failed task attempt wrote, a version no pointer
    * names, a local pointer temp ([[Store$.writeUTF8]]), and the whole
    * tree of an item whose pointer is gone (a dropped item, or a write
    * that died before its pointer). Emptied data dirs go too, and so
    * does the dir of an item without a pointer once it is empty.
    *
    * Pointer repair: a pointer that EXISTS but names no complete version
    * — empty, or naming a missing or partial manifest (on HDFS a create
    * is visible before its close) — must never be read as "no version is
    * current": that would turn the item's data into garbage. A version
    * found incomplete is first checked against the pointer read again —
    * a commit in another JVM may have moved the pointer on and deleted
    * that version meanwhile, and then the mark is the version the
    * pointer names now. A pointer that still names it is repaired to the
    * newest complete version manifest of a fresh listing of the item
    * dir; with none, the item is left alone. A pointer that cannot be
    * read is left alone this round too. A dir that a commit or drop in
    * another JVM deletes while the sweep lists the item counts as empty.
    *
    * Two writer-safety layers: an item whose lock a mutation holds IN
    * THIS JVM is skipped (`tryLock`), which makes even a force-sweep
    * (`vacuum(0)`) safe against same-driver concurrent mutations, and the
    * modification-time guard covers writers in OTHER JVMs, which this
    * process cannot see. The default sweeps only files older than one
    * hour (longer than any plausible single write); pass 0 only when no
    * out-of-process writer exists. Returns the files removed (dirs not
    * counted). Vacuums of one store serialize on the item-lock of the
    * pseudo-item `..vacuum` (not a legal item key, so it can never
    * collide with a real item's lock).
    */
  def vacuum(olderThanMillis: Long = 3600000L): Long = {
    require(olderThanMillis >= 0, "olderThanMillis must be >= 0")
    val l = Store.lockFor(base, "..vacuum")
    l.lock()
    try {
      val cutoff = System.currentTimeMillis() - olderThanMillis
      val items = if (fs.exists(itemsRoot)) fs.listStatus(itemsRoot).toSeq.filter(_.isDirectory) else Nil
      items.map { item =>
        val il = Store.lockFor(base, item.getPath.getName)
        if (!il.tryLock()) 0L else try sweep(item.getPath.getName, cutoff) finally il.unlock()
      }.sum
    } finally l.unlock()
  }

  /** [[vacuum]]'s mark-and-sweep of item dir `k`, under its item lock. */
  private def sweep(k: String, cutoff: Long): Long = {
    val dir = new HPath(itemsRoot, k)
    val root = dir.toUri.getPath + "/"
    // a dir a commit or drop in another JVM deletes mid-walk lists empty
    def list(d: HPath): Seq[FileStatus] =
      try fs.listStatus(d).toSeq catch { case _: java.io.FileNotFoundException => Nil }
    def walk(d: HPath): Seq[FileStatus] = list(d).flatMap(st =>
      if (st.isDirectory) walk(st.getPath) :+ st else Seq(st))
    val (dirs, files) = walk(dir).partition(_.isDirectory)
    def rel(st: FileStatus) = st.getPath.toUri.getPath.stripPrefix(root)
    def isStaged(v: String) = Store.activeStagingIds.contains(v.stripPrefix("v-"))
    val staged = files.map(rel).filter(v => v.startsWith("v-") && isStaged(v))
      .flatMap(namedBy(k, _).getOrElse(Set.empty[String]))
    val ptr = itemFile(k, Store.CurrentPtr)
    // the pointer's content, None when absent; None outside when it
    // exists but cannot be read
    def pointer(): Option[Option[String]] =
      try Some(Option.when(fs.exists(ptr))(readUTF8(fs, ptr).trim))
      catch { case _: java.io.IOException => Option.when(!fs.exists(ptr))(None) }
    // torn or dangling: repair to the newest complete version of a fresh
    // listing (a version another JVM is committing was created before
    // its pointer PUT, so a fresh listing sees it)
    def repair(): Option[Set[String]] =
      list(dir).filter(st => st.getPath.getName.startsWith("v-") && !isStaged(st.getPath.getName))
        .sortBy(-_.getModificationTime).iterator
        .map(st => st.getPath.getName -> namedBy(k, st.getPath.getName))
        .collectFirst { case (c, Some(n)) => writeUTF8(fs, ptr, c); n }
    // what the current version names; None: hands off this item. A
    // commit in another JVM can move the pointer on and delete the
    // version it named between the pointer read and the manifest read,
    // so an incomplete version is checked against the pointer read
    // again: only a pointer that still names it (ids are never reused)
    // is torn or dangling
    def mark(p: Option[Option[String]], tries: Int): Option[Set[String]] = p.flatMap {
      case None => Some(Set.empty) // no pointer: nothing is current
      case Some(v) => namedBy(k, v).orElse(pointer() match {
        case Some(Some(`v`)) => repair()
        case again => if (tries < 8) mark(again, tries + 1) else None
      }).map(_ + Store.CurrentPtr)
    }
    mark(pointer(), 0).fold(0L) { named =>
      val keep = named ++ staged
      val removed = files.count(f =>
        !keep(rel(f)) && f.getModificationTime <= cutoff && fs.delete(f.getPath, false)).toLong
      val self = if (fs.exists(ptr)) None
        else try Some(fs.getFileStatus(dir)) catch { case _: java.io.FileNotFoundException => None }
      // deepest first, so a parent sees its children gone
      (dirs ++ self).filter(_.getModificationTime <= cutoff)
        .foreach(d => try if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () })
      removed
    }
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

  /** Streaming tail-read of one item: every data file a commit adds to
    * the item after the stream starts becomes a micro-batch — the
    * streaming analogue of re-running `store[k][t0:]` forever, and the
    * natural consumer of [[appendNewOnly]]'s incremental files. It is
    * the `graft` stream source (`spark.readStream.format("graft")`, see
    * [[graft.sources.v2.GraftMicroBatchStream]]), which takes each
    * trigger's files from [[files]], so it only ever reads committed
    * files. Schema is the store schema; pair with a watermark on the
    * index column for windowed aggregation downstream.
    *
    * CONTRACT: valid producers while a stream is live are [[write]] and
    * [[appendNewOnly]] (new files only). [[append]], [[compact]]
    * (including [[compactIfNeeded]] when it trips) and [[compactBuckets]]
    * REWRITE rows into new files, which the stream would re-ingest as new
    * input (double-counting); [[prune]] removes files, which is safe
    * once the stream has read them. After a rewrite, restart the stream
    * with a fresh checkpoint.
    *
    * A `file:` checkpoint is written without `.crc` files or forked
    * `chmod`/`readlink` ([[graft.sources.v2.GraftCheckpointFileManager]],
    * installed by [[Store.open]]); a manager class the session already
    * names is kept.
    */
  def readStream(key: String): DataFrame = {
    val k = validateKey(key)
    if (!exists(k)) throw new ItemKeyError(s"no such item: $k")
    spark.readStream.format("graft").option("item", k).load(base.toString)
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
      if (fitsDriver(listed.flatMap(_._2).map(_.getLen).sum))
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
