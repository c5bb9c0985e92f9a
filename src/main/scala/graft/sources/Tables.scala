package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see /root/repo/TESTDATA.md).
  *
  * The reference engine's only source is a newline-delimited text scan
  * (`/root/reference/wordcount.c:9-21`); the generalized engine reads the
  * TPC-H-ish star schema + `events`/`documents`/`embeddings` as parquet.
  * Columnar scans give free predicate pushdown + column pruning — at 100 TB
  * the scan is the dominant cost, so every query should select only the
  * columns it needs (Catalyst prunes the rest down to the parquet reader).
  *
  * Every load hands the reader its schema up front, read from one parquet
  * footer on the driver ([[footerSchema]]). A bare `spark.read.parquet`
  * infers the same schema by launching a one-task Spark job per call,
  * which would cost a job per table while a query plan is only being
  * built (10 of the 50 jobs of a perfbench `mr_sql` pass). Reading the
  * footer here keeps planning free of Spark jobs: every job a query
  * starts executes it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables that are safe to ALWAYS broadcast: only region/nation,
    * which are bounded by geography (O(10..100) rows at every scale factor).
    * customer/supplier/part grow linearly with SF — at sf1000 (the 100 TB
    * design point) customer is ~150M rows and would OOM executors if
    * broadcast; joins against those rely on AQE's join selection instead
    * (broadcast when the runtime size is small, shuffle-hash otherwise).
    */
  val broadcastable: Set[String] = Set("region", "nation")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` would infer, read on the
    * driver from one footer instead of by a Spark job. The footer is the
    * one Spark's non-merging inference reads: the file itself for a file
    * path; for a directory, `_common_metadata`, else `_metadata`, else
    * the first visible data file in path order (hidden `_`/`.` names are
    * skipped by Spark's own listing rule). The conversion is Spark's own,
    * configured from this session's conf (`binaryAsString`,
    * `nanosAsLong`, `inferTimestampNTZ`, …), and prefers the Spark schema
    * a Spark writer stores in the footer, exactly as inference does. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => GraftSqlShims.hiddenPathName(c.getPath.getName))
        .flatMap(leaves(_))
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet file under $path to read a schema from"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Dimension loader: broadcast-hints the genuinely bounded dims, leaves
    * everything else to AQE's join selection. The hint survives
    * projections stacked on top (it resolves onto the nearest join). */
  def dim(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    if (broadcastable(name)) org.apache.spark.sql.functions.broadcast(df) else df
  }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** `events.ts` has shipped in three parquet encodings across driver
    * regenerations: TIMESTAMP(NANOS) (reads as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`, which GraftSession/SparkSpec
    * set — without it a NANOS file fails at read before this match),
    * TIMESTAMP(µs, isAdjustedToUTC=false) (reads as
    * TIMESTAMP_NTZ), and plain instant timestamps. Normalize ALL of them
    * to a session-zone `TimestampType` here so every consumer — batch
    * plans, streaming twins, JVM row readers — sees one type regardless
    * of which encoding the current testdata carries. The NTZ→instant cast
    * is lossless because the session time zone is pinned to UTC
    * (GraftSession/SparkSpec). DuckDB reads the same file natively —
    * oracle-compared queries stay µs-consistent across both engines. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Fan a SMALL projected scan out to the session's full parallelism
    * before heavy per-row compute (codec decode/encode, tokenizer
    * passes). A parquet file under the scan split size arrives as ONE
    * partition, which silently serializes downstream
    * embarrassingly-parallel map work — at bench SF the whole documents
    * table is a single 600 KB file, so every per-row codec certification
    * ran on one core of 32 (guide §2: make partitioning scale-adaptive,
    * never a constant tuned for one tier). Only ever WIDENS: an input
    * already at or above the session's parallelism passes through
    * untouched, so a real at-scale scan keeps its natural splits and
    * this is a no-op there. Cost: one round-robin exchange of the
    * projected columns — call it AFTER projecting to the narrow columns
    * the map needs (guide §2.3: project before the exchange).
    */
  def fanOut[T](ds: Dataset[T]): Dataset[T] = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    // Fire only on PATHOLOGICAL under-partitioning (a quarter of the
    // session's cores or less — the single-file bench scan is the
    // motivating case at 1). An input already near the core count runs
    // its map work at natural parallelism, and topping it up with a
    // round-robin exchange costs a stage and an extra execution of the
    // exchange under every re-executed consumer (range-sort sampling,
    // AQE stage re-runs) for at best a fractional occupancy gain — the
    // r16 64x smoke measured the top-up variant slower, never faster.
    if (ds.rdd.getNumPartitions > math.max(1, target / 4)) ds
    else ds.repartition(target)
  }

  /** Register every table as a temp view so `spark.sql` works too
    * (`events` goes through its nanos→timestamp normalization, so SQL
    * users see a plain timestamp column like DataFrame users do). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
