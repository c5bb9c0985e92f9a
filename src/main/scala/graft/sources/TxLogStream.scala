package graft.sources

import java.util.{Collections => JCollections}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming SOURCE over a [[TxLog]] table — "read the table
  * AS a stream": commit versions are the offsets, and admission control
  * caps each micro-batch at exactly ONE commit, so a batch is a commit
  * is a replayable unit ("the training run consumed versions 0..17" is
  * exact lineage). This closes the loop the TxLog docstring promises:
  * change sets land as versioned commits ([[TxLog.appendSink]],
  * [[graft.streaming.StreamingCdc]]) and are consumed downstream as a
  * stream of those same commits.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-txlog")
  *     .option("startingVersion", "0")   // default 0 (everything)
  *     .option("readChangeFeed", "true") // CDF mode (optional, below)
  *     .load(tableDir)
  * }}}
  *
  * CHANGE-FEED mode (`readChangeFeed=true`, the public Delta streaming
  * CDF option): every row additionally carries `_change_type`
  * ("insert"/"delete"), and MERGE-ON-READ deletes/merges are consumed
  * INCREMENTALLY — each newly-masked file becomes one delete-image
  * partition whose reader resolves (new vector ∖ prior vector)
  * positions executor-side and emits exactly those rows. Appends
  * deliver inserts, compactions deliver nothing, and a pure-metadata
  * DROP PARTITION (removes-only delete) streams each removed file's
  * still-live rows as whole-file delete images; rewrite-SHAPED
  * commits (CoW delete / overwrite / restore) abort loudly (or skip
  * under `skipChangeCommits`) — positional reconstruction cannot
  * express them, and at 100 TB the MOR flavors and partition drops
  * are the ones a table runs anyway. Downstream, invertible consumers fold deletes with
  * sign −1 ([[graft.operators.MatView.foldSigned]]'s algebra) instead
  * of recomputing.
  *
  * Contract (all failures are LOUD, at plan time where possible):
  *  - append-only consumption: a COMPACTION commit delivers nothing
  *    (it rewrites already-delivered rows and appends none — skipping
  *    it is exact, not lossy), while an OVERWRITE commit aborts the
  *    stream: its rows ARE data changes an append feed cannot express,
  *    and silently re-delivering or dropping them would corrupt any
  *    downstream consumer. `option("skipChangeCommits", "true")` (the
  *    public Delta escape hatch by the same name) skips overwrites too.
  *  - a stream whose offset has fallen behind the vacuum watermark
  *    fails at planning (unread commits' files may be reclaimed), not
  *    with a missing-file error mid-scan.
  *  - flat schemas of primitive/string/binary/date/timestamp columns
  *    (the change-feed shape); nested/decimal columns are rejected at
  *    scan construction, not mid-batch.
  *  - each output row carries `_commit_version` (long) as the last
  *    column — batches are self-describing without foreachBatch plumbing.
  *
  * Scale shape: offsets and file lists are driver-side and
  * O(files-per-commit); the DATA path is one [[InputPartition]] per
  * parquet file, decoded ON EXECUTORS by a parquet-hadoop record reader
  * (no driver collect, no whole-snapshot rescan — a micro-batch reads
  * exactly its commit's files). Column pruning is deliberately not
  * implemented: change-feed consumers read whole rows.
  *
  * This is the engine's from-scratch DataSource V2 connector: the
  * MicroBatchStream/Offset/PartitionReader surface is the same public
  * API Spark's own rate and Kafka sources implement.
  */
class TxLogStreamProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-txlog"

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-txlog: a table path is required (readStream…load(dir))")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = tablePath(options)
    // schema = latest snapshot's data schema + the version tag; needs at
    // least one commit — honest for a source whose rows ARE commits
    val dataSchema = TxLog.read(spark, table).schema
    TxLogStream.validateSchema(dataSchema)
    val meta =
      if (options.getBoolean("readchangefeed", false))
        Seq(StructField(TxLogStream.ChangeTypeColumn, StringType, nullable = false),
          StructField(TxLogStream.VersionColumn, LongType, nullable = false))
      else Seq(StructField(TxLogStream.VersionColumn, LongType, nullable = false))
    StructType(dataSchema.fields ++ meta)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties arrive in original case — normalize before reading
    val opts = new CaseInsensitiveStringMap(properties)
    new TxLogStreamTable(schema, tablePath(opts),
      Option(opts.get("startingversion")).map(_.toLong).getOrElse(0L),
      opts.getBoolean("skipchangecommits", false),
      opts.getBoolean("readchangefeed", false))
  }
}

private[sources] object TxLogStream {
  val VersionColumn = "_commit_version"
  val ChangeTypeColumn = "_change_type"

  /** Reject unsupported column types at plan time, not mid-batch. */
  def validateSchema(schema: StructType): Unit = schema.fields.foreach { f =>
    f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType |
           StringType | BinaryType | DateType | TimestampType | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"graft-txlog: unsupported column type ${other.catalogString} for " +
          s"'${f.name}' — the stream supports flat primitive/string/binary/" +
          "date/timestamp schemas (the change-feed shape)")
    }
  }
}

private[sources] class TxLogStreamTable(schema: StructType, table: String,
                                        startingVersion: Long,
                                        skipChangeCommits: Boolean,
                                        readChangeFeed: Boolean)
  extends Table with SupportsRead {

  override def name(): String = s"txlog:$table"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.singleton(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TxLogMicroBatchStream(table, schema, startingVersion,
            skipChangeCommits, readChangeFeed)
      }
    }
}

/** Offset = last fully-delivered commit version (−1 before the first). */
private[sources] case class TxLogOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class TxLogMicroBatchStream(table: String, schema: StructType,
                                             startingVersion: Long,
                                             skipChangeCommits: Boolean,
                                             readChangeFeed: Boolean = false)
  extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): Offset = TxLogOffset(startingVersion - 1)

  override def deserializeOffset(json: String): Offset = TxLogOffset(json.toLong)

  /** One commit per micro-batch: advance at most one version past the
    * start regardless of how many commits are pending — each batch is a
    * single replayable commit (the [[ReadLimit]] is not consulted; the
    * one-commit cap is stricter than any rate limit). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = TxLog.versions(spark, table).lastOption.getOrElse(-1L)
    val from = start.asInstanceOf[TxLogOffset].version
    TxLogOffset(math.min(from + 1, latest).max(from))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    TxLogOffset(TxLog.versions(spark, table).lastOption.getOrElse(-1L))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-txlog implements SupportsAdmissionControl; the engine calls latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[TxLogOffset].version
    // a stream lagging behind the vacuum watermark may have lost its
    // unread commits' files — fail at planning, not mid-scan
    val wm = TxLog.earliestReadableVersion(spark, table)
    require(from + 1 >= wm,
      s"txlog: stream offset $from is behind the vacuum watermark $wm of " +
        s"$table — unread commits may have been reclaimed; restart from a " +
        "fresh checkpoint")
    val to = end.asInstanceOf[TxLogOffset].version
    val vs = TxLog.versions(spark, table).filter(v => v > from && v <= to)
    if (readChangeFeed) return vs.flatMap(cdfPartitions).toArray
    vs.flatMap { v =>
      // compactions deliver nothing (exact skip); overwrites fail LOUDLY
      // unless skipChangeCommits — see TxLog.appendedFiles
      TxLog.appendedFiles(spark, table, v, skipChangeCommits)
        .map(rel => TxLogInputPartition(new Path(table, rel).toString, v))
    }.toArray
  }

  /** CHANGE-FEED partitions for commit `v` (the public Delta streaming
    * CDF contract, reconstruction-based like [[TxLog.readChangesCdf]]):
    * appends deliver their files as inserts; a MOR delete delivers one
    * DELETE-IMAGE partition per newly-masked file (the reader resolves
    * new-vector ∖ prior-vector positions executor-side); a MOR merge
    * delivers both legs; compactions deliver nothing. Rewrite-SHAPED
    * commits (CoW delete, overwrite, restore) cannot be expressed
    * positionally by a single-file reader — they fail LOUDLY (or skip
    * under `skipChangeCommits`) with a pointer at the batch
    * [[TxLog.readChangesCdf]]; at scale the MOR flavors are the ones a
    * 100 TB table runs anyway. */
  private def cdfPartitions(v: Long): Seq[InputPartition] = {
    val actions = TxLog.commitActions(spark, table, v)
    val kind = actions.collectFirst { case ("tag", k) => k }
    val adds = actions.collect { case ("add", p) => p }
    val removes = actions.collect { case ("remove", p) => p }
    val dvLines = actions.collect { case ("dv", p) =>
      val t = p.split('|'); (t(0), t(1))
    }.filter(_._2 != TxLog.DvUnbound)
    // the delete images reconstruct against v-1's vectors: a vacuum
    // that reclaimed them must fail at planning, not mid-scan (the
    // same loud contract as the batch readChangesCdf)
    lazy val prior = {
      val wm = TxLog.earliestReadableVersion(spark, table)
      require(v - 1 >= wm,
        s"txlog: change-feed reconstruction for version $v of $table needs " +
          s"vacuumed version ${v - 1} (earliest readable: $wm)")
      TxLog.snapshot(spark, table, Some(v - 1)).dvs.toMap
    }
    def inserts: Seq[InputPartition] = adds.map(rel =>
      TxLogInputPartition(new Path(table, rel).toString, v))
    def deletes: Seq[InputPartition] =
      dvLines.map { case (fileRel, dvRel) =>
        TxLogCdfDeletePartition(
          file = new Path(table, fileRel).toString,
          fileName = fileRel.split('/').last,
          dvDir = new Path(table, dvRel).toString,
          priorDvDir = prior.get(fileRel).filter(_ != TxLog.DvUnbound)
            .map(p => new Path(table, p).toString),
          commitVersion = v)
      }
    // the pure-metadata DROP PARTITION (removes-only, nothing written):
    // every removed file's LIVE rows (prior vectors anti-applied) ARE
    // the delete images — one whole-file delete partition each
    def droppedFiles: Seq[InputPartition] =
      removes.map { fileRel =>
        TxLogCdfDroppedFilePartition(
          file = new Path(table, fileRel).toString,
          fileName = fileRel.split('/').last,
          priorDvDir = prior.get(fileRel).filter(_ != TxLog.DvUnbound)
            .map(p => new Path(table, p).toString),
          commitVersion = v)
      }
    kind match {
      case Some("compact") => Seq.empty // rows unchanged by contract
      case None if removes.isEmpty && dvLines.isEmpty => inserts
      case Some("delete") if removes.isEmpty => deletes
      case Some("delete") if adds.isEmpty => droppedFiles
      case Some("merge") => inserts ++ deletes
      case other =>
        if (skipChangeCommits) Seq.empty
        else throw new IllegalArgumentException(
          s"graft-txlog: version $v of $table is a rewrite-shaped commit " +
            s"(${other.getOrElse("untagged-remove")}) the streaming change " +
            "feed cannot express positionally — use merge-on-read deletes/" +
            "merges or partition drops upstream, consume via the batch " +
            "readChangesCdf, or set skipChangeCommits=true to skip it")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // capture the SESSION's Hadoop configuration driver-side: a fresh
    // Configuration() on the executor would drop spark.hadoop.* (fs
    // credentials, endpoints, defaultFS) and break any non-local table.
    // The logical->physical lookup (empty unless a rename/drop enabled
    // column mapping) lets the reader find renamed columns under the
    // names the files actually carry.
    TxLogReaderFactory(schema, TxLog.physicalLookup(spark, table),
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class TxLogInputPartition(file: String, commitVersion: Long)
  extends InputPartition

/** A DELETE-IMAGE partition of the streaming change feed: the rows of
  * `file` at the positions present in `dvDir`'s vector but not in
  * `priorDvDir`'s (the positions THIS commit newly masked). */
private[sources] case class TxLogCdfDeletePartition(file: String,
                                                    fileName: String,
                                                    dvDir: String,
                                                    priorDvDir: Option[String],
                                                    commitVersion: Long)
  extends InputPartition

/** A WHOLE-FILE delete partition (the pure-metadata DROP PARTITION):
  * every row of `file` still live at the prior version — i.e. all rows
  * EXCEPT `priorDvDir`'s masked positions — streams as a delete image. */
private[sources] case class TxLogCdfDroppedFilePartition(file: String,
                                                         fileName: String,
                                                         priorDvDir: Option[String],
                                                         commitVersion: Long)
  extends InputPartition

/** Java-serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is private[spark]; this is the same
  * write/readFields round trip). */
private[sources] class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] case class TxLogReaderFactory(schema: StructType,
                                               lookup: Map[String, String],
                                               conf: SerializableHadoopConf)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: TxLogInputPartition =>
        new TxLogPartitionReader(p.file, p.commitVersion, schema, lookup,
          conf.value, changeType = "insert", positions = None)
      case p: TxLogCdfDeletePartition =>
        new TxLogPartitionReader(p.file, p.commitVersion, schema, lookup,
          conf.value, changeType = "delete",
          positions = Some(TxLogPartitionReader.newlyMaskedPositions(
            p.fileName, p.dvDir, p.priorDvDir, conf.value)))
      case p: TxLogCdfDroppedFilePartition =>
        new TxLogPartitionReader(p.file, p.commitVersion, schema, lookup,
          conf.value, changeType = "delete",
          positions = p.priorDvDir.map(d =>
            TxLogPartitionReader.newlyMaskedPositions(p.fileName, d, None, conf.value)),
          excludePositions = true)
    }
}

private[sources] object TxLogPartitionReader {
  /** Executor-side resolution of the positions commit-NEWLY masked in
    * `fileName`: the sidecar rows of `dvDir` minus those of
    * `priorDvDir` (both are tiny (file, pos) parquet sidecars — a
    * delete's footprint in ONE file, kilobytes-to-megabytes), each dir
    * listed and read with [[TxLog.dvPositions]]. */
  def newlyMaskedPositions(fileName: String, dvDir: String,
                           priorDvDir: Option[String],
                           conf: Configuration): java.util.HashSet[Long] = {
    def positions(dir: String): Array[Long] = {
      val dirPath = new Path(dir)
      val files = dirPath.getFileSystem(conf).listStatus(dirPath).toSeq
        .map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      TxLog.dvPositions(conf, files, Set(fileName))
        .getOrElse(fileName, Array.emptyLongArray)
    }
    val set = new java.util.HashSet[Long]()
    positions(dvDir).foreach(p => { set.add(p); () })
    priorDvDir.foreach(d => positions(d).foreach(p => { set.remove(p); () }))
    set
  }
}

/** Executor-side parquet decode via parquet-hadoop's example Group API —
  * dependency-free (the jars ship with Spark) and sufficient for the
  * validated flat change-feed schemas. Spark's own vectorized reader is
  * not reachable from a third-party connector without internal APIs;
  * row-by-row Group decode is the honest public-API path, and the
  * change-feed batches it serves are commit-sized, not corpus-sized.
  *
  * With `positions` set (the CDF delete-image leg) the reader walks the
  * file counting row position and emits ONLY the rows at those
  * positions — stable because parquet-hadoop's record reader delivers
  * rows in file order, the same `_metadata.row_index` order the write
  * side recorded. */
private[sources] class TxLogPartitionReader(file: String, commitVersion: Long,
                                            schema: StructType,
                                            lookup: Map[String, String],
                                            conf: Configuration,
                                            changeType: String = "insert",
                                            positions: Option[java.util.HashSet[Long]] = None,
                                            excludePositions: Boolean = false)
  extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()

  private val emitsChangeType =
    schema.fieldNames.contains(TxLogStream.ChangeTypeColumn)
  // the catalog streaming path (`readStream.table`) serves the table's
  // OWN schema — no injected version column — so injection is keyed on
  // the schema actually requested, never assumed
  private val emitsVersion =
    schema.fieldNames.contains(TxLogStream.VersionColumn)
  private var rowPos = -1L

  // resolved per data column on the first record: (parquet field index,
  // converter). The version/change-type columns are injected, never read.
  private var resolved: Array[(Int, Group => Any)] = _
  private var current: Group = _

  private def julianToMicros(bytes: Array[Byte]): Long = {
    // INT96 timestamp: 8 bytes little-endian nanos-of-day, then 4 bytes
    // little-endian julian day (the parquet-mr layout Spark writes)
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  private def resolve(gt: GroupType): Array[(Int, Group => Any)] =
    schema.fields.filter(f => f.name != TxLogStream.VersionColumn &&
      f.name != TxLogStream.ChangeTypeColumn).map { f =>
      // under column mapping the file carries the PHYSICAL name
      val fileName = lookup.getOrElse(f.name, f.name)
      require(gt.containsField(fileName),
        s"graft-txlog: column '$fileName' missing from $file (schema drift " +
          "across commits is not supported by the stream)")
      val idx = gt.getFieldIndex(fileName)
      val pt = gt.getType(idx)
      require(pt.isPrimitive,
        s"graft-txlog: column '${f.name}' is nested in $file")
      val prim = pt.asPrimitiveType()
      val conv: Group => Any = (f.dataType, prim.getPrimitiveTypeName) match {
        case (LongType, PrimitiveTypeName.INT64) => g => g.getLong(idx, 0)
        case (IntegerType, PrimitiveTypeName.INT32) => g => g.getInteger(idx, 0)
        case (DoubleType, PrimitiveTypeName.DOUBLE) => g => g.getDouble(idx, 0)
        case (FloatType, PrimitiveTypeName.FLOAT) => g => g.getFloat(idx, 0)
        case (BooleanType, PrimitiveTypeName.BOOLEAN) => g => g.getBoolean(idx, 0)
        case (StringType, PrimitiveTypeName.BINARY) =>
          g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
        case (BinaryType, PrimitiveTypeName.BINARY) => g => g.getBinary(idx, 0).getBytes
        case (DateType, PrimitiveTypeName.INT32) => g => g.getInteger(idx, 0)
        case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT96) =>
          g => julianToMicros(g.getInt96(idx, 0).getBytes)
        case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT64) =>
          val unit = prim.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit
            case other => throw new IllegalArgumentException(
              s"graft-txlog: column '${f.name}' INT64 without timestamp " +
                s"annotation in $file (got $other)")
          }
          unit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => g => g.getLong(idx, 0)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => g => g.getLong(idx, 0) * 1000L
            case LogicalTypeAnnotation.TimeUnit.NANOS => g => g.getLong(idx, 0) / 1000L
          }
        case (dt, pn) => throw new IllegalArgumentException(
          s"graft-txlog: cannot decode parquet $pn as ${dt.catalogString} " +
            s"for column '${f.name}' in $file")
      }
      (idx, conv)
    }

  override def next(): Boolean = {
    current = reader.read()
    rowPos += 1
    positions match {
      case None if !excludePositions => current != null
      case None => current != null // exclude mode with no prior mask: all rows
      case Some(set) =>
        // include mode: skip to the next masked position; exclude mode
        // (whole-file delete images): skip the previously-masked ones
        def wanted = set.contains(rowPos) != excludePositions
        while (current != null && !wanted) {
          current = reader.read()
          rowPos += 1
        }
        current != null
    }
  }

  override def get(): InternalRow = {
    if (resolved == null) resolved = resolve(current.getType)
    val out = new Array[Any](schema.length)
    var i = 0
    while (i < resolved.length) {
      val (idx, conv) = resolved(i)
      out(i) = if (current.getFieldRepetitionCount(idx) == 0) null else conv(current)
      i += 1
    }
    if (emitsChangeType)
      out(schema.length - 2) = UTF8String.fromString(changeType)
    if (emitsVersion) out(schema.length - 1) = commitVersion
    new GenericInternalRow(out)
  }

  override def close(): Unit = reader.close()
}
