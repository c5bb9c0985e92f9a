package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete,
  SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters, V1Scan}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for [[TxLog]] tables — a DataSource V2 `TableCatalog`
  * so the FIRST-TOUCH API a real user reaches for works verbatim:
  *
  * {{{
  *   SELECT * FROM graft.`/data/corpus`                  -- latest
  *   SELECT * FROM graft.`/data/corpus` VERSION AS OF 3  -- time travel
  *   SELECT * FROM graft.`/data/corpus` TIMESTAMP AS OF '2026-01-01'
  *   CREATE TABLE graft.`/data/t` (doc_id BIGINT, body STRING)
  *   INSERT INTO graft.`/data/t` SELECT ...              -- OCC append
  *   INSERT OVERWRITE graft.`/data/t` SELECT ...         -- one commit
  *   DELETE FROM graft.`/data/t` WHERE doc_id < 100      -- MOR delete
  *   DROP TABLE graft.`/data/t`
  * }}}
  *
  * Registered via `spark.sql.catalog.graft = graft.sources.TxLogCatalog`
  * ([[graft.GraftSession]] sets it). Identifiers ARE table paths (the
  * path-addressed model every public lakehouse ships first); versioned
  * loads resolve through the same [[TxLog.read]]/[[TxLog.versionAtTime]]
  * the library API uses, so SQL and library reads can never diverge.
  *
  * Read path: the table surfaces as a [[V1Scan]] whose relation is a
  * `TableScan` on the read path of [[TxLog.read]], so snapshot
  * resolution, deletion vectors, column mapping and declared-schema
  * promotion ride one implementation. The scan builder takes the
  * query's filters (`SupportsPushDownFilters`) and hands each one back
  * as post-scan, so Spark still filters every row; the scan reads only
  * the files the log's records keep for them
  * ([[TxLog.readForFilters]]: min/max stats, string bounds, partition
  * values, bloom filters), on the snapshot they were pruned from.
  *
  * Write path: every SQL write funnels into the SAME OCC commits the
  * library uses — `INSERT INTO` = [[TxLog.append]] (the no-conflict
  * row of the conflict matrix), `INSERT OVERWRITE` = [[TxLog.overwrite]]
  * (one serializable replace commit), `DELETE ... WHERE` =
  * [[TxLog.deleteWhereMorExpr]] (deletion-vector MOR: kilobytes written,
  * zero files rewritten — V1 filters re-rendered as one SQL predicate by
  * [[FilterSql]]; untranslatable predicates fail loudly at analysis, no
  * silent full-table fallback); `UPDATE`/`MERGE INTO` land through
  * [[graft.plans.TxLogDml]]; `ALTER TABLE` add/rename/drop column are
  * metadata-only schema commits ([[alterTable]]). `RENAME TABLE` and
  * type changes stay library-side. */
class TxLogCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** The identifier IS the path: `graft.`/tmp/t`` parses to name
    * "/tmp/t" (multi-part idents re-join — `graft.data.t` = "data/t"). */
  private def path(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val spark = SparkSession.active
    val p = path(ident)
    if (TxLog.versions(spark, p).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, p))
    new TxLogV2Table(p, asOf)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` — the literal commit version. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // nonEmpty + length cap: "" and >19-digit literals must fail with
    // the txlog message, not a raw NumberFormatException / overflow
    require(version.nonEmpty && version.length <= 18 &&
      version.forall(_.isDigit),
      s"txlog: VERSION AS OF takes a commit version, got '$version'")
    load(ident, Some(version.toLong))
  }

  /** `TIMESTAMP AS OF <ts>` — DSv2 delivers MICROseconds since epoch;
    * resolved through the same monotonized commit-time mapping as the
    * library's [[TxLog.readAsOfTime]]. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    load(ident, Some(TxLog.versionAtTime(spark, path(ident),
      timestampMicros / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    TxLog.versions(SparkSession.active, path(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no enumerable namespace

  private def librarySide(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"txlog: $what goes through the TxLog library API (appendEvolve/" +
        "renameColumn/dropColumn), whose commits carry schema-evolution " +
        "payloads SQL DDL cannot express here")

  /** `CREATE TABLE graft.`/path`` (cols...) [PARTITIONED BY (col, …)]`
    * — an empty declared-schema table as commit 0
    * ([[TxLog.createTable]]); CTAS follows with the insert through
    * [[TxLogV2Table.newWriteBuilder]]. Bare-column PARTITIONED BY
    * declares the columns in the same commit-0 metadata
    * ([[TxLog.createTablePartitioned]]), and every later append —
    * INSERT, streaming epoch or library call — lands partitioned by
    * them, so per-file values are recorded WITHOUT the writer naming
    * them; bucket/expr transforms stay loud. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      val refs = t.references()
      if (t.name() == "identity" && refs.length == 1 &&
        refs(0).fieldNames().length == 1) refs(0).fieldNames()(0)
      else throw new UnsupportedOperationException(
        s"txlog: PARTITIONED BY supports bare columns only, got $t " +
          "(derive the value with GENERATED ALWAYS AS and partition by " +
          "that column)")
    }
    val props = new util.HashMap[String, String](properties)
    // engine-injected bookkeeping; parquet is what TxLog stores anyway
    props.remove(TableCatalog.PROP_OWNER)
    props.remove(TableCatalog.PROP_TABLE_TYPE)
    Option(props.get(TableCatalog.PROP_PROVIDER)).foreach { pr =>
      require(pr.equalsIgnoreCase("parquet") || pr.equalsIgnoreCase("txlog") ||
        pr.equalsIgnoreCase("graft"),
        s"txlog: tables store parquet — USING $pr is not supported")
      props.remove(TableCatalog.PROP_PROVIDER)
    }
    require(props.isEmpty,
      s"txlog: table properties are not supported (got: $props)")
    val spark = SparkSession.active
    val p = path(ident)
    if (TxLog.versions(spark, p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName, p))
    if (partCols.isEmpty) TxLog.createTable(spark, p, schema)
    else TxLog.createTablePartitioned(spark, p, schema, partCols)
    new TxLogV2Table(p, None)
  }

  /** `ALTER TABLE ADD COLUMNS / RENAME COLUMN / DROP COLUMN` — each a
    * METADATA-ONLY schema commit through the library's evolution +
    * column-mapping machinery (old files read an added column as null;
    * rename/drop touch zero data bytes; a re-added name gets a fresh
    * physical so dropped data never resurrects). Anything else —
    * type changes, positions, defaults, NOT NULL — fails loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val p = path(ident)
    if (TxLog.versions(spark, p).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, p))
    def one(names: Array[String]): String = {
      require(names.length == 1,
        s"txlog: nested column changes are not supported " +
          s"(${names.mkString(".")})")
      names(0)
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.isNullable,
          "txlog: ADD COLUMN must be nullable — 100 TB of existing " +
            "files have nothing to backfill a NOT NULL column with")
        require(add.position() == null,
          "txlog: ADD COLUMN ... FIRST/AFTER is not supported")
        require(add.defaultValue() == null,
          "txlog: ADD COLUMN DEFAULT is not supported")
        TxLog.addColumn(spark, p, one(add.fieldNames()), add.dataType())
      case rn: TableChange.RenameColumn =>
        TxLog.renameColumn(spark, p, one(rn.fieldNames()), rn.newName())
      case del: TableChange.DeleteColumn =>
        TxLog.dropColumn(spark, p, one(del.fieldNames()))
      case upd: TableChange.UpdateColumnType =>
        // metadata-only along the safe promotion ladder; lossy changes
        // fail loudly inside widenColumn
        TxLog.widenColumn(spark, p, one(upd.fieldNames()), upd.newDataType())
      case other => librarySide(s"ALTER TABLE change $other")
    }
    new TxLogV2Table(p, None)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    librarySide("RENAME TABLE")

  /** `DROP TABLE` removes the table's whole directory — log, data,
    * vectors, checkpoints. Destructive and NOT versioned (there is no
    * log left to time-travel); the recoverable path is
    * [[TxLog.deleteWhereMorExpr]]/[[TxLog.restore]]. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val p = path(ident)
    if (TxLog.versions(spark, p).isEmpty) return false
    // a fresh CREATE may reuse this path with new commit files at the
    // same names — drop every path-keyed cache entry under it
    TxLog.invalidateTableCaches(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
  }
}

/** A pinned TxLog snapshot as a DSv2 table: schema and rows come from
  * the SAME read path the library serves, via a V1 scan relation that
  * reads only the files its pushed filters keep. The schema is read
  * once per table, as Spark resolves a query against it. Writes and
  * deletes funnel into the library's OCC commits — see [[TxLogCatalog]]. */
private[graft] class TxLogV2Table(private[graft] val tablePath: String,
                                  private[graft] val asOf: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private lazy val tableSchema = TxLog.read(SparkSession.active, tablePath, asOf).schema

  override def name(): String =
    tablePath + asOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType = tableSchema

  /** The declared PARTITIONED BY columns (identity transforms) — what
    * `CREATE TABLE` recorded; the write paths honor it. */
  override def partitioning(): Array[Transform] =
    TxLog.declaredPartitionCols(SparkSession.active, tablePath)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .identity(c)).toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownAggregates with SupportsPushDownFilters {
      import org.apache.spark.sql.connector.expressions.NamedReference
      import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
        CountStar, Max, Min}

      /** AGGREGATE PUSHDOWN — `SELECT COUNT(*) / MIN(x) / MAX(x) FROM
        * graft.t` with no grouping and no residual filter collapses to
        * a DRIVER-SIDE LOG FOLD: COUNT(*) is [[TxLog.countRows]] (the
        * recorded footer row counts minus the deletion-vector masks —
        * zero file opens), MIN/MAX of an integral column is
        * [[TxLog.minMaxSkipping]] (recorded bounds for every clean
        * covered file; only the masked-or-unrecorded remainder is
        * scanned). The scan Spark plans is a [[LocalScan]] holding the
        * ONE answer row — the 100 TB `COUNT(*)` that launches zero
        * tasks, now reachable from plain SQL. Any other shape (grouping,
        * other functions, non-integral columns, COUNT(col)) refuses the
        * push and the normal scan serves it. */
      private type Served = Seq[Either[Unit, (StructField, Boolean)]]
      private var pushed: Option[(StructType, Array[InternalRow])] = None
      private var lastAgg: Aggregation = _
      private var lastServe: Option[(StructType, Array[InternalRow])] = None

      private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
          : Option[StructField] = e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          TxLogV2Table.this.schema().fields.find(_.name == r.fieldNames()(0))
        case _ => None
      }

      private def parseAggs(agg: Aggregation): Option[Served] = {
        val specs: Seq[Option[Either[Unit, (StructField, Boolean)]]] =
          agg.aggregateExpressions.toSeq.map {
            case _: CountStar => Some(Left(()))
            case m: Min => fieldOf(m.column)
              .filter(f => f.dataType == LongType || f.dataType == IntegerType)
              .map(f => Right((f, true)))
            case m: Max => fieldOf(m.column)
              .filter(f => f.dataType == LongType || f.dataType == IntegerType)
              .map(f => Right((f, false)))
            case _ => None
          }
        if (specs.isEmpty || specs.exists(_.isEmpty)) None
        else Some(specs.flatten)
      }

      /** Ungrouped: ONE answer row from [[TxLog.countRows]] /
        * [[TxLog.minMaxSkipping]] (exact across dv masks — the dirty
        * remainder is scanned eagerly at plan time). */
      private def globalRow(spark: SparkSession, specs: Served
                           ): (StructType, Array[InternalRow]) = {
        val mm = scala.collection.mutable.Map.empty[String, Option[(Long, Long)]]
        def bounds(f: StructField): Option[(Long, Long)] =
          mm.getOrElseUpdate(f.name,
            try {
              val (lo, hi, _) = TxLog.minMaxSkipping(spark, tablePath, f.name, asOf)
              Some((lo, hi))
            } catch {
              // zero live rows / all-null column: SQL's MIN over no
              // values is NULL, never an error
              case e: IllegalArgumentException
                if Option(e.getMessage).exists(_.contains("zero live rows")) =>
                None
            })
        val fields = specs.zipWithIndex.map {
          case (Left(_), i) => StructField(s"agg_$i", LongType, nullable = false)
          case (Right((f, _)), i) => StructField(s"agg_$i", f.dataType)
        }
        val values: Array[Any] = specs.map {
          case Left(_) => TxLog.countRows(spark, tablePath, asOf): Any
          case Right((f, isMin)) => bounds(f).map { case (lo, hi) =>
            val v = if (isMin) lo else hi
            f.dataType match {
              case IntegerType => v.toInt: Any
              case _ => v: Any
            }
          }.orNull
        }.toArray
        (StructType(fields), Array(new GenericInternalRow(values)))
      }

      /** GROUP BY one recorded STRING partition column: one row per
        * value, counts from recorded footer rows minus dv masks
        * (zero-count groups omitted — a fully-masked group has no
        * surviving row, exactly as the real GROUP BY would drop it),
        * MIN/MAX from per-file bounds (refused whenever any dv is
        * bound — [[TxLog.partitionedMinMax]]). None on ANY coverage
        * gap: the normal scan is always the fallback. */
      private def groupedRows(spark: SparkSession, gf: StructField,
                              specs: Served
                             ): Option[(StructType, Array[InternalRow])] = {
        val needCount = specs.exists(_.isLeft)
        val mmCols = specs.collect { case Right((f, _)) => f.name }.distinct
        val counts: Option[Map[String, Long]] =
          if (!needCount) Some(Map.empty)
          else TxLog.partitionedCounts(spark, tablePath, gf.name, asOf)
        val mms: Option[Map[String, Map[String, (Long, Long)]]] =
          mmCols.foldLeft(Option(Map.empty[String, Map[String, (Long, Long)]])) {
            (accOpt, c) => accOpt.flatMap(acc =>
              TxLog.partitionedMinMax(spark, tablePath, gf.name, c, asOf)
                .map(m => acc + (c -> m)))
          }
        for (c <- counts; mm <- mms) yield {
          val values: Seq[String] =
            (c.keySet ++ mm.values.flatMap(_.keySet))
              .toSeq.sorted
              .filterNot(v => needCount && c.getOrElse(v, 0L) == 0L)
          val fields = StructField(gf.name, gf.dataType) +:
            specs.zipWithIndex.map {
              case (Left(_), i) =>
                StructField(s"agg_$i", LongType, nullable = false)
              case (Right((f, _)), i) => StructField(s"agg_$i", f.dataType)
            }
          val rows = values.map { v =>
            val cells: Array[Any] =
              (org.apache.spark.unsafe.types.UTF8String.fromString(v): Any) +:
                specs.map {
                  case Left(_) => c(v): Any
                  case Right((f, isMin)) =>
                    val (lo, hi) = mm(f.name)(v)
                    val x = if (isMin) lo else hi
                    f.dataType match {
                      case IntegerType => x.toInt: Any
                      case _ => x: Any
                    }
                }.toArray
            new GenericInternalRow(cells): InternalRow
          }.toArray
          (StructType(fields), rows)
        }
      }

      private def serve(agg: Aggregation
                       ): Option[(StructType, Array[InternalRow])] = {
        if (!(agg eq lastAgg)) {
          lastAgg = agg
          val spark = SparkSession.active
          lastServe =
            try parseAggs(agg).flatMap { specs =>
              agg.groupByExpressions.toSeq match {
                case Seq() => Some(globalRow(spark, specs))
                case Seq(g) => fieldOf(g)
                  .filter(_.dataType == org.apache.spark.sql.types.StringType)
                  .flatMap(gf => groupedRows(spark, gf, specs))
                case _ => None
              }
            }
            catch { case scala.util.control.NonFatal(_) => None }
        }
        lastServe
      }

      override def supportCompletePushDown(agg: Aggregation): Boolean =
        serve(agg).isDefined
      override def pushAggregation(agg: Aggregation): Boolean = {
        pushed = serve(agg)
        pushed.isDefined
      }

      /** FILTER PUSHDOWN: the scan reads only the files the log keeps
        * for the query's filters ([[TxLog.readForFilters]]). Every
        * filter is handed back as post-scan — the skip is by file, not
        * by row — as Spark's JDBC `V1Scan` does, so rows stay exact
        * (and a filtered aggregate keeps its normal plan). */
      private var filters: Array[Filter] = Array.empty
      override def pushFilters(fs: Array[Filter]): Array[Filter] = { filters = fs; fs }
      override def pushedFilters(): Array[Filter] = filters

      override def build(): Scan = pushed match {
        case Some((servedSchema, servedRows)) => new LocalScan {
          override def readSchema(): StructType = servedSchema
          override def rows(): Array[InternalRow] = servedRows
        }
        case None => v1Scan()
      }

      private def v1Scan(): Scan = new V1Scan {
        override def readSchema(): StructType = TxLogV2Table.this.schema()

        /** `spark.readStream.table("graft.…")` — the catalog table AS a
          * stream: one commit per micro-batch over the SAME
          * [[TxLogMicroBatchStream]] the `graft-txlog` format runs,
          * but under the table's OWN schema (no injected
          * `_commit_version` — batch and stream reads of a catalog
          * table agree column-for-column, the Delta `readStream.table`
          * contract). `startingVersion` / `skipChangeCommits` options
          * pass through; the change-feed flavor needs its extra
          * columns, which the catalog's declared schema cannot carry —
          * loud pointer at the format path. */
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(asOf.isEmpty,
            s"txlog: cannot stream $tablePath VERSION AS OF ${asOf.get} — " +
              "a pinned snapshot is immutable; stream the live table")
          require(!options.getBoolean("readchangefeed", false),
            "txlog: readChangeFeed adds _change_type/_commit_version " +
              "columns the catalog table's schema cannot carry — use " +
              "spark.readStream.format(\"graft-txlog\")" +
              ".option(\"readChangeFeed\", \"true\").load(path)")
          val s = TxLogV2Table.this.schema()
          TxLogStream.validateSchema(s)
          new TxLogMicroBatchStream(tablePath, s,
            Option(options.get("startingversion")).map(_.toLong).getOrElse(0L),
            options.getBoolean("skipchangecommits", false))
        }
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = TxLogV2Table.this.schema()
            override def buildScan(): RDD[Row] = TxLog.readForFilters(
              SparkSession.active, tablePath, filters.toSeq, asOf).rdd
          }.asInstanceOf[T]
      }
    }

  /** INSERT INTO → [[TxLog.append]]; INSERT OVERWRITE (the builder's
    * `truncate()`) → [[TxLog.overwrite]] — ONE serializable replace
    * commit, never a truncate-then-insert pair with a visible empty
    * window. Time-travel snapshots refuse writes (a pinned version is
    * immutable by construction — write the live table). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"txlog: cannot write to $tablePath VERSION AS OF ${asOf.get} — " +
        "a pinned snapshot is immutable; write the live table")
    new WriteBuilder with SupportsOverwrite {
      private var overwriteAll = false
      private var replaceFilters: Option[Seq[Filter]] = None
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      /** `INSERT INTO … REPLACE WHERE pred SELECT …` (and
        * `DataFrameWriterV2.overwrite(cond)`) → [[TxLog.replaceWhere]]:
        * ONE merge-tagged commit masks exactly the matching rows and
        * appends the batch — zero files rewritten, atomic slice swap.
        * Delta-parity guard applies: incoming rows OUTSIDE the
        * predicate fail loudly before any write (never a silent
        * duplicate of rows the overwrite did not erase). An
        * always-true condition is a plain overwrite. */
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) overwriteAll = true
        else replaceFilters = Some(filters.toSeq)
        this
      }
      override def build(): Write = new V1Write {
        /** `writeStream.toTable("graft.…")` — every micro-batch lands
          * as one idempotent OCC append keyed on the streaming query's
          * stable id (or a `txnAppId` option), exactly-once across
          * restarts; append output mode only ([[TxLogStreamingWriteImpl]]). */
        override def toStreaming: StreamingWrite = {
          require(!overwriteAll && replaceFilters.isEmpty,
            "txlog: streaming writes are append-only (complete/update " +
              "output needs per-epoch truncation) — use foreachBatch " +
              "with TxLog.overwrite for that shape")
          val appId = Option(info.options.get("txnappid"))
            .getOrElse(info.queryId())
          new TxLogStreamingWriteImpl(tablePath, info.schema(), appId)
        }
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              replaceFilters match {
                case Some(fs) =>
                  val preds = fs.map(f => FilterSql.render(f).getOrElse(
                    throw new UnsupportedOperationException(
                      s"txlog: REPLACE WHERE predicate not translatable: $f")))
                  TxLog.replaceWhere(spark, tablePath, data,
                    preds.map(p => s"($p)").mkString(" AND "))
                case None if overwriteAll =>
                  require(TxLog.declaredPartitionCols(spark, tablePath).isEmpty,
                    "txlog: INSERT OVERWRITE on a PARTITIONED BY table " +
                      "would land value-less files and silently degrade " +
                      "partition pruning — DELETE + INSERT, or the " +
                      "library overwrite + compactPartitioned")
                  TxLog.overwrite(spark, tablePath, data)
                // a PARTITIONED BY table's declared columns apply inside
                // the append's commit path
                case None => TxLog.append(spark, tablePath, data)
              }
              ()
            }
          }
      }
    }
  }

  /** DELETE FROM ... WHERE — every filter re-rendered as SQL by
    * [[FilterSql]] and handed to the library's free-predicate MOR
    * delete: positions mask into a deletion vector, zero data files
    * rewritten. `canDeleteWhere` rejects untranslatable predicates so
    * Spark fails the statement at analysis instead of this method
    * guessing. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => FilterSql.render(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val preds = filters.toSeq.map(f => FilterSql.render(f).getOrElse(
      throw new UnsupportedOperationException(
        s"txlog: DELETE predicate not translatable: $f")))
    // a created-but-never-written table has no files: nothing to delete
    // (the MOR scan needs >= 1 file to resolve its _metadata addresses)
    if (TxLog.snapshotFiles(spark, tablePath).isEmpty) return
    val sql = if (preds.isEmpty) "true"
      else preds.map(p => s"($p)").mkString(" AND ")
    TxLog.deleteWhereMorExpr(spark, tablePath, sql)
    ()
  }
}

/** V1 `Filter` → Spark SQL predicate text, for [[TxLogV2Table.deleteWhere]].
  * Total over the comparison/null/boolean core; anything else (LIKE
  * family, exotic literal types, NaN/Inf) renders None and the DELETE
  * fails loudly at analysis — never a silently-wrong predicate. */
private[graft] object FilterSql {

  private def col(c: String): String = "`" + c.replace("`", "``") + "`"

  private def lit(v: Any): Option[String] = v match {
    case null => None // comparisons with NULL never match; only IS NULL does
    case s: String =>
      Some("'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'")
    case b: Boolean => Some(b.toString)
    case n: Byte => Some(n.toString)
    case n: Short => Some(n.toString)
    case n: Int => Some(n.toString)
    case n: Long => Some(n.toString + "L")
    case f: Float if !f.isNaN && !f.isInfinite => Some(s"CAST($f AS FLOAT)")
    case d: Double if !d.isNaN && !d.isInfinite => Some(s"CAST($d AS DOUBLE)")
    case d: java.math.BigDecimal => Some(d.toPlainString + "BD")
    case d: java.sql.Date => Some(s"DATE'$d'")
    case t: java.sql.Timestamp => Some(s"TIMESTAMP'$t'")
    case d: java.time.LocalDate => Some(s"DATE'$d'")
    case i: java.time.Instant => Some(s"TIMESTAMP'$i'")
    case _ => None
  }

  def render(f: Filter): Option[String] = f match {
    case AlwaysTrue() => Some("true")
    case AlwaysFalse() => Some("false")
    case EqualTo(c, v) => lit(v).map(l => s"${col(c)} = $l")
    case EqualNullSafe(c, null) => Some(s"${col(c)} IS NULL")
    case EqualNullSafe(c, v) => lit(v).map(l => s"${col(c)} <=> $l")
    case GreaterThan(c, v) => lit(v).map(l => s"${col(c)} > $l")
    case GreaterThanOrEqual(c, v) => lit(v).map(l => s"${col(c)} >= $l")
    case LessThan(c, v) => lit(v).map(l => s"${col(c)} < $l")
    case LessThanOrEqual(c, v) => lit(v).map(l => s"${col(c)} <= $l")
    case In(c, vs) if vs.isEmpty => Some("false")
    case In(c, vs) =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined)) Some(s"${col(c)} IN (${ls.flatten.mkString(", ")})")
      else None
    case IsNull(c) => Some(s"${col(c)} IS NULL")
    case IsNotNull(c) => Some(s"${col(c)} IS NOT NULL")
    case And(l, r) =>
      for { a <- render(l); b <- render(r) } yield s"($a AND $b)"
    case Or(l, r) =>
      for { a <- render(l); b <- render(r) } yield s"($a OR $b)"
    case Not(x) => render(x).map(s => s"(NOT $s)")
    case _ => None
  }
}
