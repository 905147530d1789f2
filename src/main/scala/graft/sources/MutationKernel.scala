package graft.sources

import graft.sources.v2.SparkInternals
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import scala.collection.mutable

/** One listed data file of a unit, as a task reads it. */
private[sources] final case class UnitFile(path: String, len: Long)

/** A file the kernel wrote: its unit, its name in the unit's dir, and
  * its length in bytes.
  */
private[sources] final case class Written(unit: String, name: String, len: Long)

private[sources] object MutationKernel {
  sealed trait Mode extends Serializable
  /** `write`, `writeStagedVersion`: the batch's rows, duplicates kept. */
  case object Write extends Mode
  /** `append`: the distinct rows of the unit and the batch. */
  case object Append extends Mode
  /** `appendNewOnly`: the batch's distinct rows the unit does not hold. */
  case object NewOnly extends Mode
  /** `compact`: the unit's rows in [[canonicalCount]] runs, each split at
    * `chunkRows`.
    */
  case object Compact extends Mode
  /** `compactBuckets`: the same runs unsplit, so the unit ends with at
    * most [[canonicalCount]] files whose index ranges do not overlap.
    */
  case object CompactExact extends Mode

  /** The canonical file count of `rows` rows: ceil(rows / chunkRows),
    * at least 1.
    */
  def canonicalCount(rows: Long, chunkRows: Long): Long =
    math.max(1L, (rows + chunkRows - 1) / chunkRows)

  /** The unit of a row whose bucket label (if `bucketCol` is set) sits
    * at position `n`: the bucket dir name, escaped the way Spark's
    * partitioned writer escapes it (a NULL index lands in
    * `__HIVE_DEFAULT_PARTITION__`); "" on an unbucketed store.
    */
  def unitOf(r: InternalRow, n: Int, bucketCol: Option[String]): String =
    bucketCol.fold("")(c => ExternalCatalogUtils.getPartitionPathString(
      c, if (r.isNullAt(n)) null else r.getUTF8String(n).toString))
}

/** THE write path of every Store mutation: one function over one unit —
  * a bucket dir, or "" for an unbucketed item — from the unit's listed
  * files and the batch's rows for that unit to the files it wrote. It
  * captures only the schema, `chunkRows` and the reader and writer
  * factories, never the `Store`, so the same code runs on the calling
  * thread ([[onDriver]]) or inside Spark tasks ([[inTasks]]).
  *
  * Layout, in every mode: rows sorted by the index (NULLs first), then by
  * the bytes of the row written (the normalized row, in the merging
  * modes), so both placements write byte-identical files; each run split
  * at `chunkRows` (except [[MutationKernel.CompactExact]]); every file
  * written through the writer factory under its final, unique name in
  * its unit's dir, never renamed; no file opened for zero rows. Rows
  * merge the way a `GROUP BY` of every column groups them
  * ([[Bridge.groupKey]]): NULLs match, NaN and ±0.0 normalize, maps
  * match whatever their key order, and the stored row is the normalized
  * one.
  *
  * Memory: every mode but `NewOnly` holds one unit's rows;
  * `NewOnly` holds the batch's rows for the unit and streams the unit's
  * files against them. An unbucketed item is a single unit, so in the
  * task placement each of its mutations runs in one task.
  */
private[sources] final class MutationKernel(
    mode: MutationKernel.Mode,
    schema: StructType,
    chunkRows: Long,
    reader: ParquetPartitionReaderFactory,
    writer: OutputWriterFactory,
    writeConf: SerializableConfiguration,
    itemDir: String) extends Serializable {
  import MutationKernel._

  /** Whether a listed unit with no batch rows is rewritten too. */
  private def rewritesUntouched: Boolean = mode match {
    case Append | Compact | CompactExact => true
    case Write | NewOnly => false
  }

  @transient private lazy val context = SparkInternals.writeContext(writeConf.value)
  // one handle per kernel: the write conf turns the local filesystem's
  // cache off, so a lookup per file would build a filesystem per file
  @transient private lazy val outFs = new HPath(itemDir).getFileSystem(context.getConfiguration)
  private val fileSchema = StructType(schema.map(_.copy(nullable = true)))

  /** The kernel over unit `unit`: `files` are its listed files, `batch`
    * the batch's rows for it, and the files it writes go to the unit's
    * data dir under `itemDir`.
    */
  def run(unit: String, files: Seq[UnitFile], batch: Iterator[InternalRow]): Seq[Written] = {
    val cols = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, nullable = true) }
    lazy val own = UnsafeProjection.create(cols)
    lazy val keyOf = UnsafeProjection.create(cols.map(Bridge.groupKey))
    def old(f: InternalRow => Unit): Unit = SparkInternals.foreachRow(reader,
      files.map(u => (InternalRow.empty, u.path, u.len, 0L)))(f)
    val seen = mutable.HashSet.empty[UnsafeRow]
    def offer(r: InternalRow): Unit = {
      val g = keyOf(r)
      if (!seen.contains(g)) seen += g.copy()
    }
    val rows: Array[UnsafeRow] = mode match {
      case Write => batch.map(own(_).copy()).toArray
      case Append =>
        old(offer)
        batch.foreach(offer)
        seen.toArray
      case NewOnly =>
        batch.foreach(offer)
        if (seen.nonEmpty) old(r => seen -= keyOf(r))
        seen.toArray
      case Compact | CompactExact =>
        val b = Array.newBuilder[UnsafeRow]
        old(r => b += own(r).copy())
        b.result()
    }
    write(unit, rows)
  }

  /** The row's index — column 0 of the store schema — with NULL first. */
  private def indexKey(r: UnsafeRow): Long = if (r.isNullAt(0)) Long.MinValue else r.getLong(0)

  private def write(unit: String, rows: Array[UnsafeRow]): Seq[Written] = {
    java.util.Arrays.sort(rows, (a: UnsafeRow, b: UnsafeRow) => {
      val c = java.lang.Long.compare(indexKey(a), indexKey(b))
      if (c != 0) c else java.util.Arrays.compareUnsigned(a.getBytes, b.getBytes)
    })
    val sorted = scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)
    val runs = mode match {
      case Compact | CompactExact => rangeRuns(sorted, canonicalCount(rows.length, chunkRows))
      case _ => Seq(sorted)
    }
    val chunk = math.min(chunkRows, Int.MaxValue.toLong).toInt
    val id = java.util.UUID.randomUUID().toString
    runs.flatMap(r => if (mode == CompactExact) Seq(r) else r.grouped(chunk)).filter(_.nonEmpty)
      .zipWithIndex.map { case (rs, i) =>
        val name = f"part-$i%05d-$id-c000.snappy.parquet"
        val path = new HPath(s"$itemDir/${Store.unitDir(unit)}", name)
        SparkInternals.writeFile(writer, context, path, fileSchema, rs)
        Written(unit, name, outFs.getFileStatus(path).getLen)
      }
  }

  /** Index-sorted `sorted` cut into at most `parts` runs where Spark's
    * range partitioner cuts them when its sample holds every row
    * (`RangePartitioner.determineBounds`, weight 1 per row): the bound of
    * run j is the first key, greater than the previous bound, at which
    * the running row count reaches (j + 1) · n / parts, and a run ends
    * after the last row equal to its bound.
    */
  private def rangeRuns(sorted: IndexedSeq[UnsafeRow], parts: Long): Seq[IndexedSeq[UnsafeRow]] = {
    val n = sorted.size
    val partitions = math.min(parts, n.toLong).toInt
    if (partitions <= 1) Seq(sorted)
    else {
      val step = n.toDouble / partitions
      val cuts = Vector.newBuilder[Int]
      var (target, found, i) = (step, 0, 0)
      var prev = Option.empty[Long]
      while (i < n && found < partitions - 1) {
        val key = indexKey(sorted(i))
        if (i + 1 >= target && prev.forall(key > _)) {
          var end = i + 1 // the run ends after the last row equal to its bound
          while (end < n && indexKey(sorted(end)) == key) end += 1
          cuts += end
          target += step
          found += 1
          prev = Some(key)
        }
        i += 1
      }
      val ends = cuts.result() :+ n
      (0 +: ends.init).zip(ends).collect { case (a, b) if b > a => sorted.slice(a, b) }
    }
  }

  /** The driver placement: runs every unit of `batch` (rows paired with
    * their unit) and, when the mode rewrites untouched units, every unit
    * of `units`, on the calling thread.
    */
  def onDriver(
      units: Map[String, Seq[UnitFile]],
      batch: Seq[(String, InternalRow)]): Seq[Written] = {
    val byUnit = batch.groupBy(_._1)
    val todo = byUnit.keySet ++ (if (rewritesUntouched) units.keySet else Set.empty)
    todo.toSeq.sorted.flatMap(u =>
      run(u, units.getOrElse(u, Nil), byUnit.getOrElse(u, Nil).iterator.map(_._2)))
  }

  /** The task placement. `batch` — `withBucket(conform(df))`: rows of
    * the store schema with the bucket label at position `schema.length`
    * when `bucketCol` is set — is evaluated once and shuffled by unit
    * through Spark SQL's exchange (hash of the bucket label into
    * `spark.sql.shuffle.partitions` partitions, one on an unbucketed
    * store), sorted by label within each partition; each task runs the
    * kernel for each unit of its partition. Listed units without batch rows
    * that the mode rewrites are hashed with the exchange's own partition
    * expression, so every unit runs exactly once. Returns what the
    * successful task attempts wrote.
    */
  def inTasks(
      spark: SparkSession,
      units: Map[String, Seq[UnitFile]],
      batch: Option[DataFrame],
      bucketCol: Option[String]): Seq[Written] = {
    val n = schema.length
    val parts = if (bucketCol.isEmpty) 1 else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val none = spark.sparkContext.parallelize(Seq.empty[InternalRow], parts)
    // a batch that Spark proves empty plans as an RDD of no partition
    val rows = batch.fold(none) { b =>
      bucketCol.fold(b.repartition(1))(c => b.repartition(parts, col(c)).sortWithinPartitions(c))
        .queryExecution.toRdd
    } match { case r if r.getNumPartitions == 0 => none; case r => r }
    if (rows.getNumPartitions != parts)
      throw new IllegalStateException(
        s"the batch's exchange has ${rows.getNumPartitions} partitions, not $parts")
    val partitionOf = partitionOfUnit(parts, bucketCol)
    val untouched = rewritesUntouched
    rows.mapPartitionsWithIndex { (p, it) =>
      val in = it.buffered
      val out = Vector.newBuilder[Written]
      val done = mutable.HashSet.empty[String]
      def label(r: InternalRow): UTF8String =
        if (bucketCol.isEmpty || r.isNullAt(n)) null else r.getUTF8String(n)
      while (in.hasNext) {
        val l = Option(label(in.head)).map(_.clone()).orNull
        def same(r: InternalRow): Boolean = label(r) == l
        val u = unitOf(in.head, n, bucketCol)
        done += u
        out ++= run(u, units.getOrElse(u, Nil), new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasNext && same(in.head)
          def next(): InternalRow = in.next()
        })
        while (in.hasNext && same(in.head)) in.next()
      }
      if (untouched) units.keys.toSeq.sorted
        .filter(u => partitionOf(u) == p && !done(u))
        .foreach(u => out ++= run(u, units(u), Iterator.empty))
      out.result().iterator
    }.collect().toSeq
  }

  /** The exchange partition of unit `u`: the partition id expression of
    * the `repartition(parts, bucket)` that [[inTasks]] shuffles the
    * batch by, evaluated on the unit's bucket label.
    */
  private def partitionOfUnit(parts: Int, bucketCol: Option[String]): String => Int =
    bucketCol.fold((_: String) => 0) { c =>
      val id = HashPartitioning(Seq(BoundReference(0, StringType, nullable = true)), parts)
        .partitionIdExpression
      u => {
        val v = ExternalCatalogUtils.unescapePathName(u.stripPrefix(c + "="))
        id.eval(InternalRow(
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else UTF8String.fromString(v)))
          .asInstanceOf[Int]
      }
    }
}
