package graft.sources.v2

import graft.sources.{ItemKeyError, SchemaError, Store}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** A [[TableCatalog]] over one or more Stores: every item is a table,
  * with ZERO per-item DDL. Configure once per session —
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.sources.v2.GraftCatalog
  *   spark.sql.catalog.graft.path       = /path/to/store
  *   // optional, for multi-driver leased deployments:
  *   spark.sql.catalog.graft.writerLease = true
  *   // optional, additional stores as NAMESPACES (a 100 TB shop runs
  *   // many stores; one catalog serves them all):
  *   spark.sql.catalog.graft.path.ticks = /path/to/ticks-store
  *   spark.sql.catalog.graft.path.ref   = s3a://bucket/reference-store
  * }}}
  *
  * — and the stores' items are discoverable and queryable by name:
  *
  * {{{
  *   SHOW TABLES IN graft;                      -- the default store
  *   SHOW NAMESPACES IN graft;                  -- [ticks, ref]
  *   SHOW TABLES IN graft.ticks;                -- the ticks store
  *   SELECT * FROM graft.EVENTS WHERE TS BETWEEN '...' AND '...';
  *   SELECT * FROM graft.ticks.TRADES WHERE ...;-- same pruning
  *   INSERT INTO graft.EVENTS VALUES (...);     -- the += contract
  *   CREATE TABLE graft.FRESH;                  -- new empty item
  *   DROP TABLE graft.OLD;                      -- Store.drop
  *   CALL graft.vacuum();                       -- maintenance (below)
  *   CALL graft.ticks.vacuum();                 -- ...per namespace
  * }}}
  *
  * This is the reference's `store['KEY']` discovery contract
  * (oakstore/store.py:133-134: any valid key resolves to its item)
  * lifted to the SQL catalog surface. Tables load as [[GraftTable]] —
  * the SAME class the `USING graft` provider serves — so bucket-dir
  * pruning, parquet row-group pushdown, footer-answered aggregates,
  * listing freshness, and the idempotent appendNewOnly INSERT path
  * carry over unchanged.
  *
  * Shape notes:
  *  - Namespaces come from CONF, not DDL: a namespace IS a store path,
  *    so CREATE/DROP NAMESPACE are refused with a pointer at the conf
  *    key. One level deep only ever (a store has items, not trees).
  *    Namespace names are case-insensitive (Spark's conf map
  *    lower-cases option keys).
  *  - `CREATE TABLE graft.X` creates an EMPTY item (each store's
  *    schema is store-wide, so a column list must either be omitted
  *    or match it exactly); partitioning clauses are refused — the
  *    store owns its time-bucketed layout.
  *  - `ALTER TABLE` and `RENAME` are refused loudly: the schema is
  *    store-wide by the reference contract (store.py:113-117), and
  *    rename is not part of the item lifecycle.
  *  - Store handles attach lazily on first use and are cached for the
  *    catalog's lifetime (Spark keeps one catalog instance per
  *    session); item listings and existence checks always go to the
  *    filesystem, so items created by OTHER writers appear without
  *    any refresh incantation. The writerLease flag applies to every
  *    store the catalog serves.
  *  - STREAMING: catalog-qualified reads
  *    (`spark.readStream.table("cat.ITEM")` — the table carries
  *    MICRO_BATCH_READ) and catalog-qualified WRITES
  *    (`df.writeStream.toTable("cat.ITEM")` — STREAMING_WRITE via
  *    [[GraftStreamingWrite]]: executor-staged parquet, driver-side
  *    idempotent appendNewOnly ingest, exactly-once across replays)
  *    both work; `df.writeStream.format("graft")` remains for
  *    path-addressed deployments.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with StagingTableCatalog {

  private var catalogName: String = _
  private var path: String = _
  private var nsPaths: Map[String, String] = Map.empty
  private var lease: Boolean = false
  private val cached = new java.util.concurrent.ConcurrentHashMap[String, Store]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    path = options.get("path")
    if (path == null || path.isEmpty)
      throw new SchemaError(
        s"catalog '$name' needs a store path: set spark.sql.catalog.$name.path")
    // `path.<ns> = <store>` namespace entries; CaseInsensitiveStringMap
    // has already lower-cased the keys, so namespace names are too
    nsPaths = options.asScala.collect {
      case (k, v) if k.startsWith("path.") && k.length > 5 && v.nonEmpty =>
        k.stripPrefix("path.") -> v
    }.toMap
    lease = options.getBoolean("writerLease", false)
  }

  override def name(): String = catalogName

  /** Lazy + cached per path: initialize() must not touch the filesystem
    * (Spark initializes catalogs eagerly at first reference, even for
    * queries that never read this one), and attach() is several
    * metadata round-trips worth not repeating per statement.
    */
  private def storeAt(p: String): Store =
    cached.computeIfAbsent(p,
      pp => Store.attach(SparkSession.active, pp, writerLease = lease))

  private def pathOf(namespace: Array[String]): String = namespace match {
    case Array() => path
    case Array(ns) =>
      nsPaths.getOrElse(ns.toLowerCase, throw new NoSuchNamespaceException(namespace))
    case _ => throw new NoSuchNamespaceException(namespace)
  }

  private def storeFor(namespace: Array[String]): Store = storeAt(pathOf(namespace))

  /** Resolve an identifier to (its namespace's store, validated key). */
  private def resolve(ident: Identifier): (Store, String) = {
    val s = storeFor(ident.namespace())
    (s, s.validateKey(ident.name()))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val s = storeFor(namespace)
    s.listItems().map(k => Identifier.of(namespace, k)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val (s, k) = resolve(ident)
    // existence is checked here, not lazily at scan build like the
    // per-table provider: a catalog lookup of a missing table must be
    // the standard TABLE_OR_VIEW_NOT_FOUND, so SQL tooling (IF EXISTS,
    // suggestions, notebook autocompletion) behaves
    if (!s.exists(k)) throw new NoSuchTableException(ident)
    // before a stream over this table clones the session
    SparkInternals.useCheckpointFileManager(SparkSession.active)
    new GraftTable(s, k)
  }

  override def tableExists(ident: Identifier): Boolean =
    try { val (s, k) = resolve(ident); s.exists(k) }
    // ItemKeyError too: a name that fails the key regex (spaces, '+')
    // cannot name an existing item — CREATE TABLE IF NOT EXISTS and
    // catalog tooling probing such names must get false, not a crash
    catch {
      case _: NoSuchNamespaceException | _: SchemaError | _: ItemKeyError => false
    }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val (s, k) = resolve(ident)
    if (s.exists(k)) throw new TableAlreadyExistsException(ident)
    if (partitions.nonEmpty)
      throw new SchemaError(
        s"graft item $k cannot declare PARTITIONED BY — the store owns its " +
          "time-bucketed layout (Store.open(bucket = ...))")
    // the store's schema is store-wide (reference store.py:113-117):
    // a CREATE TABLE column list is either absent or must agree
    if (schema != null && schema.length > 0 && schema.json != s.schema.json)
      throw new SchemaError(
        s"CREATE TABLE schema ${schema.catalogString} does not match the " +
          s"store-wide schema ${s.schema.catalogString} at ${s.base} — omit " +
          "the column list")
    val spark = SparkSession.active
    // CREATE TABLE is a WRITE entry point, and the catalog's Store comes
    // from Store.attach — which, unlike Store.open, never pins the
    // session's parquet output to TIMESTAMP_MICROS. On a fresh SQL-only
    // session (Spark default INT96) the write guard would throw a
    // SchemaError whose remedy ("pinned by Store.open") a catalog user
    // cannot reach. Pin here exactly like the INSERT and streaming-sink
    // paths do. Both sessions on purpose: the guard validates
    // store.spark (attach-time parent), the write runs on the active
    // session — in exotic multi-session setups they can differ.
    Store.pinMicros(s.spark, s"catalog CREATE TABLE $k")
    Store.pinMicros(spark, s"catalog CREATE TABLE $k")
    s.write(k, spark.createDataFrame(
      java.util.Collections.emptyList[Row](), s.schema))
    new GraftTable(s, k)
  }

  /** CTAS arrives HERE (Spark prefers the staging protocol when the
    * catalog offers one), not at createTable — which would create an
    * EMPTY VISIBLE item before the SELECT ran and leave it (or a
    * partial) behind on failure. Nothing is created eagerly: the insert
    * writes a POINTER-LESS version ([[Store.writeStagedVersion]]);
    * `commitStagedChanges()` writes the `_current` pointer in ONE atomic
    * PUT. A crash at any earlier point leaves no visible item — only
    * files no pointer names, for vacuum — the reference's errorifexists discipline
    * (store.py:203-204) held even across CTAS.
    *
    * The staged table advertises the STORE schema, so Spark's output
    * resolver aligns the SELECT's columns to it up front; write-time
    * normalize (case-fold, drop extras, cast — store.py:141-174)
    * enforces the rest.
    */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val (s, k) = resolve(ident)
    if (s.exists(k)) throw new TableAlreadyExistsException(ident)
    if (partitions.nonEmpty)
      throw new SchemaError(
        s"graft item $k cannot declare PARTITIONED BY — the store owns its " +
          "time-bucketed layout (Store.open(bucket = ...))")
    Store.pinMicros(s.spark, s"catalog CTAS $k")
    Store.pinMicros(SparkSession.active, s"catalog CTAS $k")
    new GraftTable(s, k) with StagedTable {
      private val stagedId =
        new java.util.concurrent.atomic.AtomicReference[String]()
      override def newWriteBuilder(
          info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new org.apache.spark.sql.connector.write.WriteBuilder {
          override def build(): org.apache.spark.sql.connector.write.Write =
            new org.apache.spark.sql.connector.write.V1Write {
              override def toInsertableRelation
                  : org.apache.spark.sql.sources.InsertableRelation =
                new org.apache.spark.sql.sources.InsertableRelation {
                  override def insert(
                      data: org.apache.spark.sql.DataFrame,
                      overwrite: Boolean): Unit = {
                    Store.pinMicros(data.sparkSession, s"catalog CTAS $k")
                    stagedId.set(s.writeStagedVersion(k, data))
                  }
                }
            }
        }
      override def commitStagedChanges(): Unit =
        stagedId.get match {
          case null =>
            // CTAS always inserts, but a commit without one must still
            // honor CREATE semantics — an empty committed item
            s.write(k, SparkSession.active.createDataFrame(
              java.util.Collections.emptyList[Row](), s.schema))
          case id => s.commitStagedVersion(k, id)
        }
      override def abortStagedChanges(): Unit =
        Option(stagedId.get).foreach(id => s.abortStagedVersion(k, id))
    }
  }

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    throw new SchemaError(
      s"REPLACE TABLE is not supported on graft items — a destructive " +
        "rewrite is drop() + CTAS through the Store contract")

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable =
    throw new SchemaError(
      s"CREATE OR REPLACE is not supported on graft items — a destructive " +
        "rewrite is drop() + CTAS through the Store contract")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new SchemaError(
      s"ALTER TABLE is not supported on graft items — the schema is " +
        s"store-wide and persisted at ${pathOf(ident.namespace())} " +
        "(reference contract: one schema per store)")

  override def dropTable(ident: Identifier): Boolean =
    try {
      val (s, k) = resolve(ident)
      if (!s.exists(k)) false
      else { s.drop(k); true }
    } catch {
      // an invalid item name cannot name an existing item: DROP TABLE
      // IF EXISTS on it reports "nothing dropped" instead of crashing
      case _: ItemKeyError => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new SchemaError(
      "RENAME TABLE is not supported on graft items — copy via " +
        "INSERT INTO new SELECT * FROM old, then DROP the old item")

  // ---- ProcedureCatalog: SQL-reachable maintenance -----------------
  //
  // The maintenance surface (vacuum / describe / prune / compact /
  // compact_if_needed / compact_buckets) used to exist only on the
  // Scala Store API — a PySpark- or SQL-only operator of a graft
  // deployment could not recover a crashed item or compact hot buckets.
  // Spark 4's stored-procedure contract closes that:
  //
  //   CALL gcat.vacuum();                     -- sweep crash debris
  //   CALL gcat.vacuum(older_than_ms => 0);
  //   CALL gcat.describe(item => 'EVENTS');   -- footer-only stats row
  //   CALL gcat.prune('EVENTS', TIMESTAMP'2023-01-01 00:00:00');
  //   CALL gcat.compact('EVENTS');
  //   CALL gcat.compact_if_needed('EVENTS', 64);
  //   CALL gcat.compact_buckets('EVENTS', 16);
  //   CALL gcat.<ns>.vacuum();                -- a namespaced store's
  //
  // Each returns its result as a one-row result set (a LocalScan) so
  // callers can assert on removed/rewritten counts. The ops themselves
  // are the Store methods unchanged — same item locks, staged swaps,
  // and lease semantics as the Scala API.

  private def param(name: String, dt: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(name, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  /** One bound+unbound procedure: graft procedures are not overloaded,
    * so bind() ignores the input shape and returns the fixed signature
    * (Spark coerces and fills declared defaults). `proc` is the
    * one-row-result shape (counts, flags); `procMulti` returns a row
    * per entry (e.g. `versions`).
    */
  private def proc(
      pname: String, doc: String,
      params: Seq[ProcedureParameter],
      out: StructType)(run: (Store, InternalRow) => Seq[Any]): ProcSpec =
    ProcSpec(pname, doc, params, out, (s, in) => Seq(run(s, in)))

  private def procMulti(
      pname: String, doc: String,
      params: Seq[ProcedureParameter],
      out: StructType)(run: (Store, InternalRow) => Seq[Seq[Any]]): ProcSpec =
    ProcSpec(pname, doc, params, out, run)

  private case class ProcSpec(
      pname: String, doc: String,
      params: Seq[ProcedureParameter],
      out: StructType,
      run: (Store, InternalRow) => Seq[Seq[Any]]) {
    /** Bind to a concrete store (the CALL's namespace). */
    def forStore(s: Store): UnboundProcedure = new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = pname
          override def description(): String = doc
          override def parameters(): Array[ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false // mutates the store
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val out0 = out
            // named distinctly from the LocalScan member: an override
            // `def rows() = rows` self-shadows into an infinite loop
            val resultRows: Array[InternalRow] = run(s, input)
              .map(vs => new GenericInternalRow(vs.toArray): InternalRow)
              .toArray
            java.util.Collections.singletonList[Scan](
              new org.apache.spark.sql.connector.read.LocalScan {
                override def readSchema(): StructType = out0
                override def rows(): Array[InternalRow] = resultRows
                override def description(): String = s"CALL $catalogName.$pname"
              }).iterator()
          }
        }
    }
  }

  private def itemArg(s: Store, input: InternalRow, i: Int): String = {
    val k = s.validateKey(input.getUTF8String(i).toString)
    if (!s.exists(k)) throw new SchemaError(s"no such item: $k at ${s.base}")
    k
  }

  private val oneLong = (n: String) => StructType(Seq(StructField(n, LongType, nullable = false)))
  private val oneBool = (n: String) => StructType(Seq(StructField(n, BooleanType, nullable = false)))

  private lazy val procedures: Map[String, ProcSpec] = Seq(
    proc("vacuum",
      "sweep aged crash debris and recover interrupted swaps (Store.vacuum)",
      Seq(param("older_than_ms", LongType, Some("3600000"))),
      oneLong("removed")) { (s, in) =>
      Seq(java.lang.Long.valueOf(s.vacuum(in.getLong(0))))
    },
    proc("describe",
      "footer-only item statistics: rows, index range, files, bytes (Store.describe)",
      Seq(param("item", StringType)),
      StructType(Seq(
        StructField("rows", LongType, nullable = false),
        StructField("min_index", TimestampType),
        StructField("max_index", TimestampType),
        StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))) { (s, in) =>
      val st = s.describe(itemArg(s, in, 0))
      def us(t: java.sql.Timestamp): java.lang.Long =
        java.lang.Long.valueOf(Store.timestampToMicros(t))
      Seq(java.lang.Long.valueOf(st.rows),
        st.minIndex.map(us).orNull,
        st.maxIndex.map(us).orNull,
        java.lang.Long.valueOf(st.files),
        java.lang.Long.valueOf(st.bytes))
    },
    proc("prune",
      "drop whole buckets strictly before a timestamp (Store.prune)",
      Seq(param("item", StringType), param("before", TimestampType)),
      oneLong("rows_removed")) { (s, in) =>
      Seq(java.lang.Long.valueOf(
        s.prune(itemArg(s, in, 0), Store.microsToTimestamp(in.getLong(1)))))
    },
    proc("compact",
      "rewrite the item to the chunk contract via a staged swap (Store.compact)",
      Seq(param("item", StringType)),
      oneBool("compacted")) { (s, in) =>
      s.compact(itemArg(s, in, 0)); Seq(java.lang.Boolean.TRUE)
    },
    proc("compact_if_needed",
      "compact only past a file-count threshold, one listing (Store.compactIfNeeded)",
      Seq(param("item", StringType), param("max_files", LongType, Some("64"))),
      oneBool("ran")) { (s, in) =>
      Seq(java.lang.Boolean.valueOf(
        s.compactIfNeeded(itemArg(s, in, 0), in.getLong(1))))
    },
    proc("compact_buckets",
      "rewrite only oversized bucket directories (Store.compactBuckets)",
      Seq(param("item", StringType), param("max_files_per_bucket", LongType, Some("16"))),
      oneLong("buckets_rewritten")) { (s, in) =>
      Seq(java.lang.Long.valueOf(
        s.compactBuckets(itemArg(s, in, 0), in.getLong(1))))
    },
    procMulti("versions",
      "version manifests of an item: the current one plus any a " +
        "crashed commit left for vacuum (Store.versionsOf)",
      Seq(param("item", StringType)),
      StructType(Seq(
        StructField("version", StringType, nullable = false),
        StructField("is_current", BooleanType, nullable = false),
        StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false),
        StructField("modified", TimestampType, nullable = false)))) { (s, in) =>
      s.versionsOf(itemArg(s, in, 0)).map(v => Seq[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(v.id),
        java.lang.Boolean.valueOf(v.current),
        java.lang.Long.valueOf(v.files),
        java.lang.Long.valueOf(v.bytes),
        java.lang.Long.valueOf(v.modifiedMs * 1000L)))
    }
  ).map(p => p.pname -> p).toMap

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val s = storeFor(ident.namespace()) // CALL cat.ns.proc() maintains ns's store
    procedures.get(ident.name().toLowerCase).map(_.forStore(s)).getOrElse(
      throw new SchemaError(
        s"no such procedure $catalogName.${ident.name()} — available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    pathOf(namespace) // validate the namespace exists
    procedures.keys.toSeq.sorted
      .map(n => Identifier.of(namespace, n)).toArray
  }

  // ---- SupportsNamespaces: conf-declared store paths ---------------

  override def listNamespaces(): Array[Array[String]] =
    nsPaths.keys.toSeq.sorted.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else { pathOf(namespace); Array.empty } // a namespace holds items, not namespaces
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.length == 1 && nsPaths.contains(namespace(0).toLowerCase))

  override def loadNamespaceMetadata(
      namespace: Array[String]): java.util.Map[String, String] =
    java.util.Collections.singletonMap("path", pathOf(namespace))

  override def createNamespace(
      namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    throw new SchemaError(
      s"graft namespaces are conf-declared store paths — set " +
        s"spark.sql.catalog.$catalogName.path.<namespace> = /path/to/store " +
        "instead of CREATE NAMESPACE")

  override def alterNamespace(
      namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new SchemaError(
      s"graft namespaces are conf-declared store paths " +
        s"(spark.sql.catalog.$catalogName.path.<namespace>) — ALTER NAMESPACE " +
        "has nothing to alter")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean =
    throw new SchemaError(
      s"graft namespaces are conf-declared store paths — unset " +
        s"spark.sql.catalog.$catalogName.path.<namespace> instead of DROP NAMESPACE")
}
