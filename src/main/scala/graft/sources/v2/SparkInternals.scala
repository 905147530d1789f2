package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path => HPath, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriterFactory, PartitionedFile, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The ONE deliberate crossing into Spark-INTERNAL API in the store's
  * read and write paths (the `v2` provider, the Store's reads and its
  * mutation kernel), quarantined so a Spark version bump breaks
  * exactly this file plus the `org.apache.spark.sql.graft.Bridge` shim,
  * whose `Dataset.ofRows` builds every Store DataFrame: a driver read's
  * `LocalRelation` ([[readOnDriver]]), else a `DataSourceV2Relation` of
  * a `graft` table pinned to one listing ([[GraftTable]]). Written
  * against **Spark 4.1.2**; the internal touchpoints and why each is
  * worth the coupling:
  *
  *  1. `org.apache.spark.sql.classic.SparkSession` — the Spark-4
  *     split moved the concrete session behind the `classic` package;
  *     the constructors below require it, and the public `SparkSession`
  *     the connector API hands us IS one (single-JVM deployments; Spark
  *     Connect would need a different front door entirely).
  *  2. `PartitioningAwareFileIndex` — [[ListedFileIndex]] serves exactly
  *     the `FileStatus`es of one `Store.files` listing, so Spark never
  *     lists or stats a store path (nor starts its parallel-listing job
  *     past `spark.sql.sources.parallelPartitionDiscovery.threshold`
  *     paths); no public API hands a scan an explicit file list.
  *  3. `ParquetScan` — delegating to Spark's own scan buys the
  *     vectorized reader, row-group statistics pushdown, split
  *     planning, and whole-stage-codegen compatibility; reimplementing
  *     a parquet reader on the public API would lose all four. Its
  *     `createReaderFactory` is overridden only to broadcast the conf
  *     once per read shape (SparkContext, schemas, Hadoop conf entries):
  *     Spark's own factory for the first scan of a shape is the
  *     template every later scan of it copies with its own filters.
  *  4. `ParquetPartitionReaderFactory` — the same scan's reader factory
  *     driven outside a scan: on the calling thread ([[readOnDriver]]),
  *     so a slice small enough to collect is read with no Spark job, and
  *     by the Store's mutation kernel ([[foreachRow]]) on the driver or
  *     inside its own tasks, so a merge reads exactly the files of its
  *     bucket. Same decoder, same pushed row-group filters, same session
  *     conf, broadcast once per read shape; `copy(filters = …)` is how a
  *     scan gets its own.
  *  5. `ParquetFileFormat.prepareWrite` → `OutputWriterFactory` — the
  *     writer a write task runs ([[parquetWriter]], [[writeFile]]),
  *     driven by the Store's mutation kernel on the calling thread or
  *     inside its tasks, so every Store write has the write support,
  *     codec and session conf (timestamp type, calendar mode) of a
  *     `DataFrameWriter` without Spark's committer: no `_temporary`
  *     staging, no `.crc` twins, no forked `chmod`.
  *  6. `CheckpointFileManager` — [[GraftCheckpointFileManager]] writes a
  *     streaming query's `file:` checkpoint (offset and commit logs,
  *     `metadata`) through [[NioLocalFileSystem]], so no `.crc` twin is
  *     written and no `chmod` or `readlink` is forked. Without Hadoop's
  *     native library, Spark's default manager forks about 20 of them
  *     per resumed drain and about 34 on a fresh checkpoint, each one
  *     on the stream's thread. [[useCheckpointFileManager]] installs it
  *     per session through Spark's
  *     `spark.sql.streaming.checkpointFileManagerClass`; every other
  *     scheme gets Spark's own choice of manager.
  *
  * There is no file-status cache to go stale: every scan is built over
  * the one listing taken for it (items are APPEND-ABLE; a listing shared
  * across scans could drop the newest rows), bounded by bucket pruning.
  */
private[sources] object SparkInternals {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Spark's vectorized parquet scan over exactly `files` (a
    * `Store.files` listing): no path is listed or stat'ed again.
    */
  def parquetScan(
      spark: SparkSession,
      files: Seq[FileStatus],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter]): ParquetScan =
    scanOf(spark, new ListedFileIndex(classic(spark), files), dataSchema, readDataSchema,
      pushedFilters, new StructType())

  /** `index` is null for the driver read, whose factory never asks.
    * The scan's reader factory comes from [[factories]]: a copy, with
    * this scan's filters, of the factory Spark built for the first scan
    * of the same read shape, so the conf Spark broadcast for that scan
    * serves every scan of the shape.
    */
  private def scanOf(
      spark: SparkSession,
      index: PartitioningAwareFileIndex,
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      readPartitionSchema: StructType): ParquetScan = {
    val classic = this.classic(spark)
    new ParquetScan(
      classic,
      classic.sessionState.newHadoopConf(),
      index,
      dataSchema = dataSchema,
      readDataSchema = readDataSchema,
      readPartitionSchema = readPartitionSchema,
      pushedFilters = pushedFilters,
      options = new CaseInsensitiveStringMap(
        java.util.Collections.emptyMap[String, String]())) {
      // taken before Spark's createReaderFactory first sets its own
      // entries in this scan's conf: each copy of the plan node asks for
      // a factory again, and every ask keys on the same shape
      private lazy val shape = ReadShape(sparkSession.sparkContext, this.dataSchema,
        this.readDataSchema, this.readPartitionSchema, hadoopConf.iterator().asScala
          .map(e => e.getKey -> e.getValue).filterNot { case (k, v) => Bridge.isSqlDefault(k, v) }.toMap)
      override def createReaderFactory(): PartitionReaderFactory = {
        factories.synchronized(Option(factories.get(shape))).getOrElse {
          val built = super.createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
          factories.synchronized(factories.put(shape, built))
          built
        }.copy(sqlConf = sparkSession.sessionState.conf, filters = this.pushedFilters)
      }
    }
  }

  /** What a reader factory's broadcast depends on: the SparkContext it
    * is broadcast on, the schemas, and every entry of the scan's Hadoop
    * conf — which carries every SQL conf entry set on the session too
    * (`newHadoopConf` copies them) — except a SQL entry at its
    * registered default, which reads like an unset one
    * ([[Bridge.isSqlDefault]]). Sessions with the same conf share a
    * shape, so every drain of one stream shares one broadcast: a resumed
    * drain's clone of the session sets the entries its offset log
    * recorded, at their defaults, a fresh one leaves them unset. Each
    * scan's copy reads its own session's SQL conf.
    */
  private final case class ReadShape(
      context: org.apache.spark.SparkContext,
      dataSchema: StructType,
      readDataSchema: StructType,
      readPartitionSchema: StructType,
      conf: Map[String, String])

  /** The last [[FactoryCacheSize]] read shapes' factories, least
    * recently used evicted first. Each is only ever a template: a scan
    * gets its own `copy`, so no factory is shared across scans or
    * threads (see [[readRowsOnDriver]]).
    */
  private val FactoryCacheSize = 16
  private val factories = new java.util.LinkedHashMap[ReadShape, ParquetPartitionReaderFactory](
      FactoryCacheSize, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[ReadShape, ParquetPartitionReaderFactory]): Boolean =
      size() > FactoryCacheSize
  }

  /** A lazy DataFrame reading `table` through its `GraftScan`. */
  def tableFrame(spark: SparkSession, table: GraftTable): DataFrame =
    Bridge.frame(spark, DataSourceV2Relation.create(table, None, None))

  /** The planner-facing size of `bytes` of files: times
    * `spark.sql.sources.fileCompressionFactor`, at least 1 — the shape
    * of Spark's own FileScan estimate.
    */
  def scanSize(spark: SparkSession, bytes: Long): Long =
    math.max(1L, (bytes * classic(spark).sessionState.conf.fileCompressionFactor).toLong)

  /** The largest [[scanSize]] a slice may have to be read on the
    * driver: `spark.sql.autoBroadcastJoinThreshold`, the size up to
    * which Spark itself collects a relation to the driver to broadcast
    * it. ≤ 0 means no slice is read on the driver.
    */
  def driverReadLimit(spark: SparkSession): Long =
    classic(spark).sessionState.conf.autoBroadcastJoinThreshold

  /** Spark's key for the class it builds every checkpoint file manager
    * from; read from the Hadoop conf, which carries the session's SQL
    * conf.
    */
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Makes [[GraftCheckpointFileManager]] the session's checkpoint file
    * manager, once, unless the session already names one. A streaming
    * query runs in a clone of the session taken at `start()`, so this
    * must run before then: `Store.open` and the `graft` provider's and
    * catalog's table resolution call it.
    */
  def useCheckpointFileManager(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointManagerKey).isEmpty)
      spark.conf.set(CheckpointManagerKey, classOf[GraftCheckpointFileManager].getName)

  /** Reads `files` whole on the calling thread and returns their rows as
    * a DataFrame over a `LocalRelation`, so collecting it starts no
    * Spark job ([[readRowsOnDriver]] does the reading).
    */
  def readOnDriver(
      spark: SparkSession,
      files: Seq[(String, FileStatus)],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      labelCol: Option[String]): DataFrame = {
    val partSchema = labelSchema(labelCol)
    Bridge.localFrame(spark, StructType(readDataSchema.fields ++ partSchema.fields),
      readRowsOnDriver(spark, files, dataSchema, readDataSchema, pushedFilters, labelCol))
  }

  private def labelSchema(labelCol: Option[String]): StructType =
    StructType(labelCol.map(StructField(_, StringType, nullable = false)).toSeq)

  /** The reader factory [[readRowsOnDriver]] reads through: the files
    * are handed to it directly, and `createReaderFactory` reads only
    * the scan's schemas, filters and conf, so its scan has no file index.
    */
  private[sources] def driverReaderFactory(
      spark: SparkSession,
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      partSchema: StructType): ParquetPartitionReaderFactory =
    scanOf(spark, null, dataSchema, readDataSchema, pushedFilters, partSchema)
      .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]

  /** Reads `files` whole on the calling thread into `UnsafeRow`s. Each
    * file goes through the reader factory of a `ParquetScan` built with
    * no file index at all ([[driverReaderFactory]]), decoding only
    * `readDataSchema` and skipping row groups `pushedFilters` exclude —
    * the residual predicate is the caller's. With `labelCol` set, every
    * row also carries its file's label (the first of each pair) in a
    * trailing non-null string column, appended as a partition value.
    *
    * Sequential on purpose: a reader factory shared across threads
    * fails inside the vectorized parquet reader, so each read gets its
    * own factory (over the conf broadcast once per read shape). A file
    * that cannot be read throws — the caller decides whether to re-list
    * and retry.
    */
  def readRowsOnDriver(
      spark: SparkSession,
      files: Seq[(String, FileStatus)],
      dataSchema: StructType,
      readDataSchema: StructType,
      pushedFilters: Array[Filter],
      labelCol: Option[String]): Vector[InternalRow] = {
    val partSchema = labelSchema(labelCol)
    val factory = driverReaderFactory(spark, dataSchema, readDataSchema, pushedFilters, partSchema)
    val toUnsafe = UnsafeProjection.create(StructType(readDataSchema.fields ++ partSchema.fields))
    val rows = Vector.newBuilder[InternalRow]
    foreachRow(factory, files.map { case (label, st) =>
      (if (labelCol.isEmpty) InternalRow.empty else InternalRow(UTF8String.fromString(label)),
        st.getPath.toString, st.getLen, st.getModificationTime)
    })(r => rows += toUnsafe(r).copy())
    rows.result()
  }

  /** Hands every row of `files` — (partition values, path, length,
    * modification time) — to `f` as `factory` decodes it, file by file,
    * on the calling thread: on the driver for a driver read, inside a
    * task for the Store's mutation kernel. The row is reused; copy it
    * to keep it. Each reader is closed when its file is done.
    */
  def foreachRow(
      factory: ParquetPartitionReaderFactory,
      files: Seq[(InternalRow, String, Long, Long)])(f: InternalRow => Unit): Unit = {
    val columnar = factory.supportColumnarReads(FilePartition(0, Array.empty))
    files.foreach { case (part, path, len, modified) =>
      val file = PartitionedFile(part, SparkPath.fromPath(new HPath(path)), 0L, len,
        Array.empty[String], modified, len)
      if (columnar) {
        val reader = factory.buildColumnarReader(file)
        try while (reader.next()) reader.get().rowIterator().asScala.foreach(f)
        finally reader.close()
      } else {
        val reader = factory.buildReader(file)
        try while (reader.next()) f(reader.get())
        finally reader.close()
      }
    }
  }

  /** The Parquet writer of a write task, prepared on the driver:
    * `ParquetFileFormat.prepareWrite`'s `OutputWriterFactory` and the
    * job conf it prepared — the same write support, session conf
    * (timestamp type, calendar mode) and codec (`options`, as a
    * `DataFrameWriter` would pass them) a write task uses. Both are
    * serializable ([[SerializableConfiguration]]), so [[writeFile]] can
    * run on the driver or inside a task. When `root` is on the local
    * filesystem the files are created through [[NioLocalFileSystem]]:
    * the default checksummed one writes a `.crc` twin of every file
    * and, without Hadoop's native library, forks a `chmod` for both
    * (measured 10–30 ms per created file). Readers do not need the
    * `.crc`.
    */
  def parquetWriter(
      spark: SparkSession,
      dataSchema: StructType,
      options: Map[String, String],
      root: HPath): (OutputWriterFactory, SerializableConfiguration) = {
    val session = classic(spark)
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, dataSchema)
    val conf = job.getConfiguration
    if (root.getFileSystem(conf).getUri.getScheme == "file") {
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
    (factory, new SerializableConfiguration(conf))
  }

  /** The task attempt context [[writeFile]] writes under, over `conf`
    * (a [[parquetWriter]] conf). Building one copies the conf: build it
    * once per writer, not per file.
    */
  def writeContext(conf: Configuration): TaskAttemptContext = {
    val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    conf.set("mapreduce.job.id", attempt.getJobID.toString)
    conf.set("mapreduce.task.id", attempt.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", attempt.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    new TaskAttemptContextImpl(conf, attempt)
  }

  /** Writes `rows` (internal rows of `dataSchema`) as one Parquet file
    * at `path` on the calling thread. The path is written directly —
    * making it visible atomically is the caller's.
    */
  def writeFile(
      factory: OutputWriterFactory,
      context: TaskAttemptContext,
      path: HPath,
      dataSchema: StructType,
      rows: Iterable[InternalRow]): Unit = {
    val w = factory.newInstance(path.toString, dataSchema, context)
    try rows.foreach(w.write)
    finally w.close()
  }
}

/** A file index over exactly `files`, in their order: Spark plans a
  * scan from these statuses and never lists or stats a path (no
  * partition columns; the store's bucket value lives in the dir name).
  */
private[sources] final class ListedFileIndex(
    spark: org.apache.spark.sql.classic.SparkSession, files: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  override lazy val rootPaths: Seq[HPath] = files.map(_.getPath)
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected lazy val leafFiles: mutable.LinkedHashMap[HPath, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override protected lazy val leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  override def allFiles(): Seq[FileStatus] = files
  override def refresh(): Unit = ()
}

/** The unchecksummed local filesystem, setting permissions through
  * `java.nio` instead of forking `chmod` (what `RawLocalFileSystem`
  * does without Hadoop's native library). [[SparkInternals.parquetWriter]]'s
  * writers create their files through it; `Store.writeUTF8`, the `graft` stream's
  * seen log and [[GraftCheckpointFileManager]] write theirs through
  * [[NioLocalFileSystem.shared]].
  */
private[sources] final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: HPath, permission: FsPermission): Unit =
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
}

private[sources] object NioLocalFileSystem {
  /** One instance for the store's small files and stream checkpoints. */
  lazy val shared: NioLocalFileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    fs
  }
}

/** A streaming checkpoint's file manager (touchpoint 6 of
  * [[SparkInternals]]). On the local filesystem it writes, renames,
  * lists and deletes through [[NioLocalFileSystem.shared]]: no `.crc`
  * twins, no forked `chmod` or `readlink`, and the same atomicity as
  * Spark's `createAtomic` — a hidden temp beside the target, renamed
  * into place, refused with `FileAlreadyExistsException` when the
  * target exists and overwriting was not asked for. A `.crc` that
  * Spark's default manager left beside a file this one replaces or
  * deletes is deleted first, so a later checksummed reader of the same
  * checkpoint never checks new content against it. Every other scheme
  * gets Spark's default choice: `FileContextBasedCheckpointFileManager`,
  * or `FileSystemBasedCheckpointFileManager` where the filesystem has no
  * `FileContext` binding. Spark builds several managers per query run,
  * so a local one holds no conf of its own.
  */
final class GraftCheckpointFileManager(path: HPath, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** Spark's own manager for a non-local checkpoint; None on `file:`. */
  private val other: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      None
    else Some(
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      })

  private def fs = NioLocalFileSystem.shared
  private def file(p: HPath) = fs.pathToFile(p).toPath
  private def dropCrc(p: HPath): Unit =
    Files.deleteIfExists(file(p).resolveSibling(s".${p.getName}.crc"))

  override def createAtomic(p: HPath, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    other.fold(localAtomic(p, overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  /** Writes a hidden temp beside `p`: closing renames it into place,
    * cancelling (or a failed rename) deletes it.
    */
  private def localAtomic(p: HPath, overwrite: Boolean): CancellableFSDataOutputStream = {
    val tmp = new HPath(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    new CancellableFSDataOutputStream(fs.create(tmp, true)) {
      private var done = false
      private def finish(commit: Boolean): Unit = synchronized {
        if (!done) {
          done = true
          try {
            underlyingStream.close()
            if (commit) rename(tmp, p, overwrite)
          } finally Files.deleteIfExists(file(tmp))
        }
      }
      override def close(): Unit = finish(commit = true)
      override def cancel(): Unit = finish(commit = false)
    }
  }

  private def rename(src: HPath, dst: HPath, overwrite: Boolean): Unit = {
    val (from, to) = (file(src), file(dst))
    if (!overwrite && Files.exists(to))
      throw new FileAlreadyExistsException(s"$dst already exists")
    dropCrc(dst)
    try {
      if (overwrite) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      else Files.move(from, to)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(e.getMessage)
    }
  }

  override def open(p: HPath): FSDataInputStream = other.fold(fs.open(p))(_.open(p))

  override def list(p: HPath, filter: PathFilter): Array[FileStatus] =
    other.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: HPath): Unit =
    other.fold[Unit](fs.mkdirs(p, FsPermission.getDirDefault))(_.mkdirs(p))

  override def exists(p: HPath): Boolean = other.fold(fs.exists(p))(_.exists(p))

  override def delete(p: HPath): Unit = other.fold[Unit] {
    fs.delete(p, true)
    dropCrc(p)
  }(_.delete(p))

  override def isLocal: Boolean = other.forall(_.isLocal)

  override def createCheckpointDirectory(): HPath = other.fold {
    val qualified = fs.makeQualified(path)
    fs.mkdirs(qualified, FsPermission.getDirDefault)
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = other.foreach(_.close())
}
