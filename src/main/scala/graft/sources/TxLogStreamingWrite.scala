package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.types._

/** `df.writeStream.toTable("graft.…")` — the V2 Structured-Streaming
  * SINK for catalog tables, closing the loop [[TxLogStream]] opened on
  * the read side: every micro-batch lands as ONE idempotent OCC append
  * ([[TxLog.appendIdempotent]] with appId = the streaming query's
  * stable id, batchId = the epoch), so a crashed-and-restarted query
  * re-offers its last epoch and the txn marker lands it EXACTLY ONCE —
  * the same contract the library's `foreachBatch` sink
  * ([[TxLog.appendSink]] with an appId) certifies, now reachable with zero
  * library calls in the pipeline.
  *
  * Write path: executors stage rows as plain parquet under
  * `_staging/<appId>/<epoch>/` (parquet-hadoop Group writer — the
  * writer twin of [[TxLogPartitionReader]]'s public-API reader; one
  * file per committed task, speculative attempts abort and delete
  * their own file, and only COMMIT-MESSAGE-listed files are landed, so
  * task retries can never double-write). The driver's epoch commit
  * re-lands the staged batch through [[TxLog.appendCommit]]'s full
  * write boundary — CHECK constraints gate, GENERATED columns derive,
  * IDENTITY ids mint inside the claim loop — at the cost of one extra
  * copy of the BATCH (never the table); the staging dir is deleted
  * either way. Vacuum never walks `_staging` (it only reclaims under
  * `data/`).
  *
  * Append output mode only: complete/update would need per-epoch
  * truncation semantics this log expresses as overwrite commits — loud
  * pointer at `foreachBatch` + [[TxLog.overwrite]] for that shape. */
private[sources] object TxLogStreamingWrite {

  /** StructType → flat parquet MessageType over the SAME type core the
    * streaming reader supports ([[TxLogStream.validateSchema]]) —
    * reject anything else at plan time, not mid-epoch. */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val p = f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(PrimitiveTypeName.BINARY)
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw new IllegalArgumentException(
          s"txlog: streaming write does not support column '${f.name}' of " +
            s"type ${other.catalogString} — stage through foreachBatch + " +
            "TxLog.appendSink with an appId for complex types")
      }
      b.addField(p.named(f.name))
    }
    b.named("graft_stream_batch")
  }
}

private[sources] case class TxLogStagedFile(rel: String)
  extends WriterCommitMessage

/** One streaming write = one query binding to one table. `appId` must
  * be stable across restarts (the streaming query id, or the user's
  * `txnAppId` option) — it IS the exactly-once key. */
private[sources] class TxLogStreamingWriteImpl(table: String,
                                               schema: StructType,
                                               appId: String)
  extends StreamingWrite {

  TxLogStream.validateSchema(schema)

  private def spark = SparkSession.active

  private def stagingDir(epochId: Long): Path =
    new Path(table, s"_staging/$appId/$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    TxLogStreamingWriterFactory(table, schema, appId,
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val dir = stagingDir(epochId)
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val rels = messages.collect { case TxLogStagedFile(rel) => rel }
      if (rels.nonEmpty) {
        // only COMMITTED tasks' files land — never a dir listing, which
        // would pick up files of aborted speculative attempts
        val staged = spark.read.schema(schema)
          .parquet(rels.map(r => new Path(table, r).toString): _*)
        // full write-boundary recheck + txn-marked OCC claim; None =
        // the epoch already landed (zombie-twin replay) — exactly-once.
        // A PARTITIONED BY table's epochs land partitioned by its
        // declared columns inside the append, so streaming ingest keeps
        // per-file partition values.
        TxLog.appendIdempotent(spark, table, staged, appId, epochId)
        ()
      }
    } finally fsys.delete(dir, true)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val dir = stagingDir(epochId)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dir, true)
    ()
  }
}

private[sources] case class TxLogStreamingWriterFactory(
    table: String, schema: StructType, appId: String,
    conf: SerializableHadoopConf)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new TxLogStagingWriter(
      new Path(table,
        s"_staging/$appId/$epochId/part-$partitionId-$taskId.parquet"),
      schema, conf, s"_staging/$appId/$epochId/part-$partitionId-$taskId.parquet")
}

/** Executor-side staging writer: InternalRow → parquet Group, one file
  * per task attempt; commit returns the file's table-relative path,
  * abort deletes it (the attempt's whole footprint). */
private[sources] class TxLogStagingWriter(path: Path, schema: StructType,
                                          conf: SerializableHadoopConf,
                                          rel: String)
  extends DataWriter[InternalRow] {

  private val mt = TxLogStreamingWrite.messageType(schema)
  private val factory = new SimpleGroupFactory(mt)
  private val writer: ParquetWriter[org.apache.parquet.example.data.Group] =
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf.value))
      .withType(mt).withConf(conf.value).build()

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema(i).name
        schema(i).dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            g.add(name, row.getLong(i))
          case IntegerType | DateType => g.add(name, row.getInt(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case FloatType => g.add(name, row.getFloat(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType => g.add(name,
            Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
          case BinaryType => g.add(name,
            Binary.fromConstantByteArray(row.getBinary(i)))
          case other => throw new IllegalStateException(
            s"txlog: unreachable staging type $other") // messageType rejected it
        }
      }
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    TxLogStagedFile(rel)
  }

  override def abort(): Unit = {
    writer.close()
    path.getFileSystem(conf.value).delete(path, false)
    ()
  }

  override def close(): Unit = ()
}
