package graft.sources.v2

import graft.sources.{SchemaError, Store}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** The DSv2 streaming WRITE for `df.writeStream.format("graft")` (and
  * `.toTable("cat.ITEM")` through [[GraftCatalog]]): public connector
  * API end-to-end, replacing the V1 `Sink` + package-injected
  * `internalCreateDataFrame` bridge of earlier vintages.
  *
  * Shape — executor-staged, driver-ingested:
  *
  *  1. Each task writes its micro-batch rows to a parquet file under
  *     `<store>/.stream-staging/<queryId>/<epochId>/` via the public
  *     parquet-hadoop writer (INT64-micros timestamps by construction —
  *     the store's stats invariant cannot be violated by a session
  *     conf). Rows never flow through the driver; the stage is
  *     executor-parallel like any Spark write.
  *  2. `commit(epoch)` on the driver reads the staged files back as a
  *     DataFrame and runs the store's idempotent ingest —
  *     [[Store.appendNewOnly]] (creation on first epoch, like
  *     [[Store.ingestStream]]) — then deletes the epoch's staging dir.
  *     A replayed epoch (checkpoint restart, task-level retry, a whole
  *     re-run from a fresh checkpoint) re-stages and re-commits, and
  *     the dedup merge lands ZERO duplicate rows: exactly-once without
  *     any sink-side epoch bookkeeping.
  *
  * Crash debris: a query killed mid-epoch leaves files under its
  * `.stream-staging/<queryId>` dir (hidden from every store listing by
  * the leading dot). The next start of the same query — same queryId,
  * from its checkpoint — sweeps the whole dir before writing, so
  * staging cannot grow across restarts.
  *
  * Output modes: Append only — the ingest contract IS append.
  * Complete/Update are refused loudly at query start (truncate() below),
  * naming the contract rather than failing on the first batch.
  */
final class GraftStreamingWrite(
    store: Store, key: String, writeSchema: StructType, queryId: String
) extends StreamingWrite {

  GraftStreamingWrite.requireWritable(writeSchema)

  private val stagingRoot =
    new HPath(new HPath(store.base, ".stream-staging"), queryId)

  // sweep THIS query's debris from a previous (crashed) run once, at
  // query start — committed epochs already removed their dirs, so
  // whatever is here is garbage from an interrupted epoch that the
  // restarted stream will re-stage from its source offsets anyway
  store.fs.delete(stagingRoot, true)

  private def epochDir(epochId: Long): HPath =
    new HPath(stagingRoot, epochId.toString)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamWriterFactory(
      stagingRoot.toString, writeSchema, store.hadoopConfEntries)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // ingest on the store's ATTACH-TIME session (the parent the user
    // started the stream from), never the stream's cloned session: the
    // per-write micros guard validates store.spark, and pinning here
    // covers the PySpark/SQL-only binding that never called Store.open
    val spark = store.spark
    Store.pinMicros(spark, s"graft streaming sink for $key")
    val files = messages.collect {
      case m: GraftEpochFile if m.rows > 0 => m.path
    }
    val df =
      if (files.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), store.schema)
      else spark.read.schema(writeSchema).parquet(files.toIndexedSeq: _*)
    if (store.exists(key)) {
      if (files.nonEmpty) store.appendNewOnly(key, df)
    } else store.write(key, df) // first epoch creates the item
    store.fs.delete(epochDir(epochId), true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    store.fs.delete(epochDir(epochId), true)
    ()
  }

  override def toString: String = s"GraftStreamingWrite(${store.base}/$key)"
}

object GraftStreamingWrite {
  /** Streamable column types — the store's scalar surface. Checked at
    * query start so an unsupported schema fails before any batch runs.
    */
  private[v2] def requireWritable(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => f.dataType match {
      case TimestampType | DateType | LongType | IntegerType |
           DoubleType | FloatType | BooleanType | StringType | BinaryType => true
      case _ => false
    })
    if (bad.nonEmpty)
      throw new SchemaError(
        s"graft streaming sink cannot stage column(s) " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
          " — supported types are timestamp, date, long, int, double, " +
          "float, boolean, string, binary (use Store.ingestStream for " +
          "anything richer)")
  }
}

/** One staged file per (partition, task attempt): the attempt-unique
  * taskId in the file name means retries never collide, and commit
  * reads only the files named by COMMIT MESSAGES — an abandoned
  * attempt's file is inert and swept with the epoch dir.
  */
private[v2] case class GraftEpochFile(path: String, rows: Long)
    extends WriterCommitMessage

private[v2] case class GraftStreamWriterFactory(
    stagingRoot: String,
    schema: StructType,
    confEntries: Seq[(String, String)]
) extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftEpochWriter(
      s"$stagingRoot/$epochId/part-$partitionId-$taskId.snappy.parquet",
      schema, confEntries)
}

/** Executor-side parquet stager on the PUBLIC parquet-hadoop API (the
  * Group writer) — no Spark-internal write machinery. The file is
  * created lazily on the first row, so empty partitions stage nothing.
  * Timestamps land as INT64 TIMESTAMP(MICROS, UTC) — the exact layout
  * the store's own writer pins — so the ingest read-back is lossless.
  */
private[v2] final class GraftEpochWriter(
    path: String, schema: StructType, confEntries: Seq[(String, String)]
) extends DataWriter[InternalRow] {

  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetFileWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.parquet.schema.Type.Repetition

  private lazy val conf = Store.confFrom(confEntries)

  private lazy val messageType: MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      val prim = f.dataType match {
        case TimestampType =>
          Types.primitive(INT64, rep).as(LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DateType =>
          Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType())
        case LongType => Types.primitive(INT64, rep)
        case IntegerType => Types.primitive(INT32, rep)
        case DoubleType => Types.primitive(DOUBLE, rep)
        case FloatType => Types.primitive(FLOAT, rep)
        case BooleanType => Types.primitive(BOOLEAN, rep)
        case StringType =>
          Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.primitive(BINARY, rep)
        case dt => throw new SchemaError(
          s"unstageable column ${f.name}: ${dt.simpleString}") // pre-checked
      }
      b.addField(prim.named(f.name))
    }
    b.named("graft_epoch")
  }

  private lazy val groups = new SimpleGroupFactory(messageType)

  private var rows = 0L
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new HPath(path), conf))
        .withConf(conf)
        .withType(messageType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.CREATE)
        .build()
    val g = groups.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema(i).name
        schema(i).dataType match {
          case TimestampType | LongType => g.add(name, row.getLong(i))
          case DateType | IntegerType => g.add(name, row.getInt(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case FloatType => g.add(name, row.getFloat(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType =>
            g.add(name, Binary.fromString(row.getUTF8String(i).toString))
          case BinaryType =>
            g.add(name, Binary.fromConstantByteArray(row.getBinary(i)))
          case dt => throw new SchemaError(
            s"unstageable column $name: ${dt.simpleString}")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); writer = null }
    GraftEpochFile(path, rows)
  }

  override def abort(): Unit = {
    if (writer != null) { writer.close(); writer = null }
    new HPath(path).getFileSystem(conf).delete(new HPath(path), false)
    ()
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
