package graft.sources.v2

import graft.sources.{SchemaError, Store}

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder => V2SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.sql.Timestamp

/** SQL/catalog front door for Store items: a DataSource V2 table
  * provider registered as format `graft`, so ANY Spark binding — SQL,
  * Python, R — can read an item as a table with the same pruning the
  * Scala `store.query(...)` helper applies (which, unlike this lazy
  * scan, reads a small slice on the driver when it is called):
  *
  * {{{
  *   spark.read.format("graft")
  *     .option("item", "EVENTS").load("/path/to/store")
  *
  *   CREATE TABLE events USING graft
  *     OPTIONS (path '/path/to/store', item 'EVENTS');
  *   SELECT * FROM events WHERE TS BETWEEN '...' AND '...';
  * }}}
  *
  * Why it exists: reading the item's parquet directory directly
  * (`spark.read.parquet(itemPath)`) silently loses bucket-directory
  * pruning — the range predicate is on the TIME column, while the
  * directories are named by the derived `__bucket` string only
  * `Store.query` knew to translate into. This provider does that
  * translation inside the Spark pushdown contract: range filters on
  * the index column reach [[GraftScanBuilder]] via
  * `SupportsPushDownFilters`, are mapped to the store's zero-padded
  * bucket-label range, and the scan is assembled over ONLY the files
  * of the matching bucket directories (plus the same filters pushed on
  * to parquet row-group stats) — `SELECT … WHERE ts BETWEEN` prunes
  * directories before any file I/O, exactly like `store.query`: both
  * take their files from the one listing `Store.files` (reference
  * contract oakstore/store.py:255-264 generalized to the SQL surface).
  *
  * Writes: `INSERT INTO` is supported with the store's `+=` contract
  * (see [[GraftTable]] — appendNewOnly, idempotent re-runs, creation
  * on first insert, a `writerLease` option for leased deployments).
  * Everything more destructive — INSERT OVERWRITE, compaction,
  * retention, drop — stays behind the Store API, whose commit and
  * lease semantics SQL cannot express.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def spark: SparkSession = SparkSession.active

  private def basePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    if (p == null || p.isEmpty)
      throw new SchemaError(
        "graft source requires a store path: .load(\"/store\") or OPTIONS (path '/store')")
    p
  }

  private def itemKey(options: CaseInsensitiveStringMap): String = {
    val k = options.get("item")
    if (k == null || k.isEmpty)
      throw new SchemaError(
        "graft source requires an item key: .option(\"item\", \"EVENTS\") " +
          "or OPTIONS (item 'EVENTS')")
    k
  }

  /** One attach per (path, lease) per provider instance: Spark calls
    * inferSchema and then getTable on the SAME provider for one read,
    * and each attach is several metadata round-trips (schema + layout +
    * marker probes) — measurable latency per query on an object store.
    * The memo is per-READ, not long-lived (providers are created per
    * load), so a store's persisted metadata is still re-read by the
    * next query.
    */
  private val attached =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean), Store]()
  private def attachOnce(options: CaseInsensitiveStringMap): Store = {
    val lease = options.getBoolean("writerLease", false)
    attached.computeIfAbsent((basePath(options), lease),
      { case (p, l) => Store.attach(spark, p, writerLease = l) })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = attachOnce(options)
    store.validateKey(itemKey(options)) // fail fast on an invalid key
    store.schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val store = attachOnce(options)
    // before a stream over this table clones the session
    SparkInternals.useCheckpointFileManager(spark)
    val key = store.validateKey(itemKey(options))
    // a catalog-persisted schema (CREATE TABLE round-trip) must agree
    // with the store's source of truth — a store whose schema changed
    // out from under the catalog entry fails loudly, never reads
    // misaligned columns
    if (schema != null && schema.length > 0 && schema.json != store.schema.json)
      throw new SchemaError(
        s"table schema ${schema.catalogString} does not match the store's " +
          s"persisted schema ${store.schema.catalogString} at ${basePath(options)}")
    new GraftTable(store, key)
  }
}

/** One Store item as a DSv2 table. Existence is checked lazily at scan
  * build (the catalog may hold entries for items created later).
  *
  * Reads take their files from [[files]]: a fresh listing per read, or
  * the `pinned` listing a Store DataFrame was made over ([[Store!.apply]],
  * a distributed slice or merge), which is never listed again.
  *
  * Writes: `INSERT INTO` carries the reference's `store[k] += df`
  * semantics — [[Store.appendNewOnly]] (creation on first insert, like
  * [[Store.ingestStream]]'s first batch), so re-running the same INSERT
  * appends ZERO rows instead of duplicating; SQL users get the store's
  * dedup contract, not blind file appends. Implemented through the V1
  * write bridge (`V1Write` → `InsertableRelation`): the insert arrives
  * as one driver-side DataFrame, exactly what the append path wants —
  * an `INSERT … VALUES` batch is a `LocalRelation`, merged and written
  * on the driver with no Spark job; any other query's rows are merged
  * by appendNewOnly's distributed dedup — and the write inherits the
  * store's lease machinery for free.
  * `INSERT OVERWRITE` is refused: the destructive rewrite has richer
  * semantics (drop + write) that belong behind the Store API.
  *
  * Timestamp encoding: the first INSERT that finds the session off
  * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` pins it
  * there — session-wide, like [[Store.open]] — and logs a WARNING
  * saying so (that is what gives store files their pruning
  * statistics). Not a scoped set/restore: a restore racing a
  * concurrent write can land stat-less INT96 store files after the
  * per-write guard passed, which is silent data degradation; a
  * visible, warned, permanent pin is the safe shape.
  *
  * Multi-driver deployments where writers lease
  * (`Store.open(writerLease = true)`): pass the `writerLease` table
  * option (`OPTIONS (..., writerLease 'true')`) so SQL INSERTs take
  * the same cross-JVM lease — without it an INSERT mutates under only
  * the in-JVM item lock.
  */
class GraftTable(
    private[graft] val store: Store,
    private[graft] val key: String,
    private[v2] val pinned: Option[Seq[FileStatus]] = None)
    extends Table with SupportsRead with SupportsWrite {

  /** The pinned listing, else [[Store.files]] of the bucket dirs in [start, end]. */
  private[graft] def files(
      start: Option[Timestamp] = None, end: Option[Timestamp] = None): Seq[FileStatus] =
    pinned.getOrElse(store.files(key, start, end))

  override def name(): String = s"graft.`${store.base}`.$key"
  override def schema(): StructType = store.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, options)

  /** Batch INSERT rides the V1 bridge (the driver-side frame is exactly
    * what appendNewOnly wants); streaming writes are the public DSv2
    * [[GraftStreamingWrite]] (executor-staged parquet + driver-side
    * idempotent ingest). Complete/Update output modes surface here as
    * truncate(), refused by contract.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder =
        throw new SchemaError(
          s"graft sink supports Append output mode only — the ingest " +
            s"contract is appendNewOnly; Complete/Update would truncate " +
            s"item $key (a destructive rewrite belongs to the Store API)")
      override def build(): org.apache.spark.sql.connector.write.Write =
        new V1Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new GraftStreamingWrite(store, key, info.schema(), info.queryId())
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(
                  data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                if (overwrite)
                  throw new SchemaError(
                    s"INSERT OVERWRITE is not supported on graft item $key — " +
                      "a destructive rewrite is drop() + write() through the Store API")
                // the provider attaches read-only (no session conf
                // pinned); an INSERT is a WRITE entry point, so the
                // micros-timestamp invariant must hold. Pin it like
                // Store.open does — session-wide, ONCE, with a
                // logged warning when it actually changes something —
                // NOT a scoped set/restore: a restore racing a
                // concurrent write (another INSERT, a resident
                // ingestStream) can land stat-less INT96 files after
                // the guard passed, the exact interleaving
                // requireMicrosTimestamps' scaladoc declares unsafe.
                // The warning gives the SQL-only user the visibility
                // the old silent repoint lacked.
                Store.pinMicros(data.sparkSession, s"graft INSERT into $key")
                // the store's OWN session too: appendNewOnly validates
                // requireMicrosTimestamps against store.spark, which
                // can be a DIFFERENT session than the INSERT's in a
                // multi-session JVM (catalog CTAS pins both for the
                // same reason) — pinning only the data session fails
                // the write with the misleading "pinned by Store.open"
                // error this pin exists to prevent
                Store.pinMicros(store.spark, s"graft INSERT into $key")
                if (store.exists(key)) store.appendNewOnly(key, data)
                else store.write(key, data)
              }
            }
        }
    }
}

/** Pushdown → pruning translation. `pushFilters` keeps every filter as
  * a residual (Spark re-applies them after the scan — bucket pruning
  * and row-group stats are PERFORMANCE layers, exactness never depends
  * on them), while the accepted set drives two scan-time decisions:
  *
  *  - index-column range bounds → bucket-directory pruning
  *    ([[Store.files]]): only the matching bucket dirs are LISTed, and
  *    the scan's file index is exactly the files that listing returned
  *    — Spark lists nothing itself;
  *  - the same filters ride into the parquet scan's `pushedFilters`,
  *    where row-group min/max stats skip non-matching groups inside
  *    the surviving files (the store writes INT64-micros timestamps
  *    precisely so these stats exist).
  *
  * Column pruning (`SupportsPushDownRequiredColumns`) flows into the
  * parquet ReadSchema — a 2-column projection of a wide item decodes 2
  * columns. The heavy lifting — vectorized parquet reading, whole-stage
  * codegen compatibility, split planning — is delegated to Spark's own
  * [[ParquetScan]], assembled over the listed files: this provider
  * adds knowledge, not a reader.
  *
  * Aggregates are not pushed here: the footer-answerable ones, filtered
  * or not, are answered one level up by the
  * [[graft.plans.FooterRangeAggregates]] optimizer rule, which sees the
  * Filter that Spark keeps above this scan.
  */
class GraftScanBuilder(table: GraftTable, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private val (store, key) = (table.store, table.key)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = store.schema
  private var limit: Option[Int] = None
  private var topN: Option[(Int, Boolean, Seq[Seq[FileStatus]])] = None // (k, desc, buckets)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies, pushdown is never load-bearing
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- limit pushdown: read only a row-covering file prefix ----

  /** PARTIAL limit pushdown (Spark re-applies the limit above the
    * scan): accept only the filterless shape, and serve the scan from a
    * file PREFIX whose footer row counts cover the limit
    * ([[Store.filesForLimit]]) — `LIMIT 10` against a 100 TB item reads
    * one chunk file. Filters make the residual-filtered row yield
    * unpredictable, so any pushed filter refuses (Spark's own planner
    * already never pushes a limit below a post-scan filter — this is
    * defense in depth).
    */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.nonEmpty || n <= 0) false
    else { limit = Some(n); true }
  }

  // ---- TopN pushdown: ORDER BY <index> [DESC] LIMIT k reads only a
  // bucket prefix/suffix ----

  /** PARTIAL TopN pushdown (Spark re-sorts and re-limits above the
    * scan): accept `ORDER BY <index> [ASC|DESC] LIMIT k` with no
    * filters, and only when the item's bucket layout is order-prunable
    * ([[Store.topNBuckets]]: one listing, which the scan selects from,
    * and the probe that also vetoes NULL-index
    * buckets, whose sort position the bucket order cannot know). The
    * flagship time-series shape — "the newest k rows of a 100 TB item"
    * — becomes a read of the newest bucket(s): bucket dirs partition
    * time, so once the selected buckets' footer row counts cover k,
    * every excluded row's index lies strictly beyond the selection and
    * the true top-k are inside it. Filters refuse for the same reason
    * as pushLimit: the residual-filtered yield of a file prefix is
    * unpredictable (Spark keeps the Filter node above the scan for our
    * all-residual pushFilters, so this path is defense in depth).
    */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean = {
    if (pushed.nonEmpty || limit.isDefined || n <= 0 || orders.length != 1) false
    else {
      val o = orders(0)
      val onIndex = o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
          nr.fieldNames()(0).equalsIgnoreCase(store.indexName) => true
        case _ => false
      }
      if (!onIndex) false
      else store.topNBuckets(table.files()) match {
        case None => false
        case Some(buckets) =>
          topN = Some((n, o.direction() == SortDirection.DESCENDING, buckets))
          true
      }
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = {
    val (start, end) = GraftBounds.tsBounds(pushed.toIndexedSeq, store.indexName)
    // batch: the pruning decision — the files of the bucket dirs the
    // bounds allow (or a row-covering prefix under a pushed LIMIT or
    // TopN), taken at first batch use so a streaming read never pays
    // for it; only an unpinned, unprefixed scan re-lists under a runtime
    // filter. The scan assembly itself is Spark-internal API,
    // quarantined in [[SparkInternals]]. Streaming:
    // [[GraftScan.toMicroBatchStream]].
    val (files, bounds, tag) = (topN, limit) match {
      case (Some((k, desc, buckets)), _) =>
        // pushTopN's listing; an uncoverable k degrades to all of it
        (() => store.filesForTopN(buckets, k.toLong, desc), None,
          s"pushedTopN=[${store.indexName} ${if (desc) "DESC" else "ASC"} LIMIT $k]")
      case (None, Some(n)) =>
        (() => store.filesForLimit(table.files(), n.toLong), None, s"pushedLimit=$n")
      case (None, None) =>
        (() => table.files(start, end), Option.when(table.pinned.isEmpty)((start, end)), "")
    }
    new GraftScan(store, key, required, pushed, files,
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt),
      bounds = bounds,
      // streaming seen-log snapshot cadence (tests shrink it; 0 disables)
      snapshotEvery = Option(options.get("snapshotEvery")).map(_.trim.toInt)
        .getOrElse(GraftMicroBatchStream.DefaultSnapshotEvery),
      tag = tag)
  }
}

/** Index-bound extraction shared by the build-time pushdown and the
  * runtime (DPP) filter path.
  */
private[v2] object GraftBounds {

  def later(a: Option[Timestamp], b: Option[Timestamp]): Option[Timestamp] =
    (a ++ b).reduceOption((x, y) => if (x.after(y)) x else y)
  def earlier(a: Option[Timestamp], b: Option[Timestamp]): Option[Timestamp] =
    (a ++ b).reduceOption((x, y) => if (x.before(y)) x else y)

  /** Inclusive [start, end] bounds on the index column implied by the
    * filters. Conjunctions tighten; anything else (Or, Not, non-index
    * columns) contributes nothing — pruning stays a superset of the
    * true result, the residual filters make it exact. Filter values
    * arrive as [[java.sql.Timestamp]] (default) or
    * [[java.time.Instant]] (datetimeJava8API); both are handled. An
    * `In` on the index (the shape a dynamic-pruning subquery
    * translates to) contributes its value envelope [min, max] — only
    * when EVERY value converts, since a partial envelope could cut
    * files a non-converted value still needs.
    */
  def tsBounds(filters: Seq[Filter], idx: String)
      : (Option[Timestamp], Option[Timestamp]) = {
    def ts(v: Any): Option[Timestamp] = v match {
      case t: java.sql.Timestamp => Some(t)
      case i: java.time.Instant => Some(Timestamp.from(i))
      case _ => None
    }
    def one(f: Filter): (Option[Timestamp], Option[Timestamp]) = f match {
      case GreaterThan(c, v) if c.equalsIgnoreCase(idx) => (ts(v), None)
      case GreaterThanOrEqual(c, v) if c.equalsIgnoreCase(idx) => (ts(v), None)
      case LessThan(c, v) if c.equalsIgnoreCase(idx) => (None, ts(v))
      case LessThanOrEqual(c, v) if c.equalsIgnoreCase(idx) => (None, ts(v))
      case EqualTo(c, v) if c.equalsIgnoreCase(idx) => (ts(v), ts(v))
      case In(c, vs) if c.equalsIgnoreCase(idx) && vs.nonEmpty =>
        val converted = vs.toSeq.map(ts)
        if (converted.exists(_.isEmpty)) (None, None)
        else {
          val all = converted.flatten
          (Some(all.reduce((a, b) => if (a.before(b)) a else b)),
            Some(all.reduce((a, b) => if (a.after(b)) a else b)))
        }
      case And(l, r) =>
        val (ll, lh) = one(l); val (rl, rh) = one(r)
        (later(ll, rl), earlier(lh, rh))
      case _ => (None, None)
    }
    filters.map(one).foldLeft((Option.empty[Timestamp], Option.empty[Timestamp])) {
      case ((lo, hi), (l, h)) => (later(lo, l), earlier(hi, h))
    }
  }
}
