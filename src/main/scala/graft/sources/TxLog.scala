package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** A writer lost an optimistic-concurrency race it cannot retry
  * through: another commit landed that invalidates this writer's read
  * snapshot (its remove-set or replace-base). The operation made no
  * commit; re-running it against the table's NEW state is the caller's
  * decision, exactly as in the public Delta/Iceberg protocols. */
class TxLogConcurrentModificationException(msg: String)
  extends RuntimeException(msg)

/** Internal signal: while retrying a commit, a commit carrying the SAME
  * (appId, batchId) transaction marker was found among the commits that
  * beat this writer — the zombie-twin case (two drivers replaying one
  * micro-batch). The idempotent entry points catch it and return None
  * ("already committed") instead of landing the batch twice. */
private[sources] class TxLogDuplicateBatchException(msg: String)
  extends RuntimeException(msg)

/** One `WHEN MATCHED` (or `WHEN NOT MATCHED BY SOURCE`) clause of
  * [[TxLog.mergeMorConditional]]. `cond` and every assignment RHS are
  * SQL over the merge namespace: target columns bind bare, source
  * columns bind as `_src_<name>` (BY SOURCE clauses see only target
  * columns — there is no source row). */
sealed trait MergeMatchedClause { def cond: Option[String] }
/** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, …` — a partial
  * column list; unassigned columns keep the old row's value. */
case class MergeMatchedUpdate(cond: Option[String],
                              sets: Seq[(String, String)])
  extends MergeMatchedClause
/** `WHEN MATCHED [AND cond] THEN DELETE`. */
case class MergeMatchedDelete(cond: Option[String])
  extends MergeMatchedClause
/** `WHEN NOT MATCHED [AND cond] THEN INSERT (col, …) VALUES (expr, …)` —
  * values see only `_src_` columns; unassigned columns land typed NULL. */
case class MergeNotMatchedInsert(cond: Option[String],
                                 values: Seq[(String, String)])

/** Minimal log-structured versioned table — the storage idea under
  * Delta/Iceberg/Hudi (public protocol concept: an ordered commit log
  * of add/remove-FILE actions over immutable parquet data files),
  * reduced to what a single-writer pipeline needs:
  *
  *  - `append` writes parquet files and commits their paths as adds;
  *  - `read` replays the log to the requested version and reads
  *    exactly the live file set — TIME TRAVEL is replaying a prefix;
  *  - `compact` rewrites the live set as one commit that adds the
  *    compacted files and removes the old ones — readers at older
  *    versions still see the old files (immutability is the point).
  *
  * Why it belongs in this engine: [[graft.operators.Merge]] and
  * snapshot diff manufacture CHANGE SETS, [[graft.streaming.StreamingCdc]]
  * applies them continuously — a versioned table is where those land,
  * with reproducible "train on yesterday's snapshot" reads (version
  * pinning is lineage for a 100 TB corpus).
  *
  * Scale shape: the LOG is driver-side (one tiny JSON file per commit,
  * folded in version order from the newest checkpoint — bounded by the
  * checkpoint cadence, the contract real lakehouse clients have), while
  * the DATA path never leaves executors: reads are a plain multi-file
  * parquet scan of the live set (pushdown/pruning intact) built from the
  * log alone — every landed file's size rides in its commit, so planning
  * neither lists nor stats storage ([[scanFiles]]) — and writes are
  * normal distributed parquet writes.
  *
  * CONCURRENCY (multi-writer, optimistic): the commit file itself is
  * the lock — version N commits by ATOMICALLY creating `_log/N.json`
  * (create-exclusive), so exactly one writer owns each version, the
  * public Delta-protocol idea. On losing the race a writer examines the
  * commits that beat it and applies the standard conflict rules:
  *  - APPEND never conflicts (its adds are fresh files, its commit
  *    depends on no prior state) — it re-commits at the next version;
  *  - COMPACT conflicts only with commits that REMOVE files (another
  *    rewrite won and its own remove-set is stale); concurrent pure
  *    appends are fine — the compacted base live set plus the new
  *    appends is exactly the right next snapshot, so it retries on top;
  *  - OVERWRITE is serializable: ANY intervening commit invalidates
  *    "replace the table as I read it" and aborts loudly
  *    ([[TxLogConcurrentModificationException]]).
  * Data files are written to per-attempt unique directories, so racing
  * writers never collide on the data path; an aborted rewrite deletes
  * its orphaned files. [[vacuum]] recomputes the referenced set from
  * the freshest log immediately before deleting and takes a
  * file-age horizon for in-flight protection (see there).
  *
  * Commit format: `_log/%08d.json`, one action per line:
  * `{"a":"add","p":"<relative path>"}` / `{"a":"remove","p":"..."}`.
  * Checkpoint format ([[checkpointEvery]]): `_log/%08d.checkpoint`, the
  * same line format, carrying the whole folded state (metas and txn
  * high-water marks included); a `.ckpt` or `.ckptpq` written by an
  * older build is not listed, so a read replays from commit 0 (commits
  * are never deleted). Every metadata read lists `_log` once
  * ([[listLog]]) and folds the newest checkpoint plus the commit suffix
  * once into a [[Snapshot]]; every write gates against the snapshot of
  * the version it commits on top of.
  */
object TxLog {

  import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
    IntegerType, LongType, ShortType, StructField, StructType}

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = new Path(table, "_log")

  private def commitPath(table: String, version: Long) =
    new Path(logDir(table), f"$version%08d.json")

  /** One listing of `_log`: the sorted commit versions and the sorted
    * versions that carry a checkpoint. */
  private[graft] final case class LogListing(commits: Seq[Long],
                                             checkpoints: Seq[Long])

  /** The only place the log directory is listed. */
  private[graft] def listLog(spark: SparkSession, table: String): LogListing = {
    val dir = logDir(table)
    val f = fs(spark, dir)
    if (!f.exists(dir)) LogListing(Seq.empty, Seq.empty)
    else {
      val names = f.listStatus(dir).toSeq.map(_.getPath.getName)
      def versionsOf(ext: String) =
        names.filter(_.endsWith(ext)).map(_.stripSuffix(ext).toLong).sorted
      LogListing(versionsOf(".json"), versionsOf(".checkpoint"))
    }
  }

  /** Sorted commit versions present in the log. */
  def versions(spark: SparkSession, table: String): Seq[Long] =
    listLog(spark, table).commits

  /** Atomically create `path` holding `content` — the per-version
    * commit claim. Returns false iff the file already exists (another
    * writer owns that version). On a local filesystem Hadoop's
    * `create(overwrite = false)` is check-then-create (two syscalls,
    * not atomic under a race). A bare O_CREAT|O_EXCL claim followed by
    * a write is not enough either: between the two calls a concurrent
    * OCC reader would observe an EMPTY commit file and misclassify the
    * commit (e.g. a compact with its remove-set still unwritten looks
    * like a pure append). So the local path publishes via hard link:
    * write the full content to a unique temp file, then `link(target,
    * tmp)` — POSIX link() fails with EEXIST if the version is taken
    * (the CAS) and otherwise materializes the target WITH its complete
    * content in one atomic step, so no reader can ever see a partial
    * commit. On HDFS-like stores create-exclusive is atomic at the
    * namenode and the file only becomes visible at close. */
  private def tryCreateExclusive(spark: SparkSession, path: Path,
                                 content: String): Boolean = {
    val f = fs(spark, path)
    if (f.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(path.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(s".${local.getFileName}.${uniq()}.tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out =
        try f.create(path, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("exists") => return false
        }
      try out.write(content.getBytes("UTF-8")) finally out.close()
      true
    }
  }

  /** Attempt to commit `version`; false = version already taken (the
    * caller's OCC loop decides whether to retry or abort).
    * `schemaB64` rides INSIDE the commit (base64 of the StructType
    * JSON, so it fits the quote-split two-field format), which makes a
    * schema change atomic with the data that introduced it and gives
    * time travel the correct schema at every pinned version for free. */
  private def tryCommit(spark: SparkSession, table: String, version: Long,
                        adds: Seq[String], removes: Seq[String],
                        tag: Option[String] = None,
                        schemaB64: Option[String] = None,
                        txns: Seq[(String, Long)] = Seq.empty,
                        stats: Seq[String] = Seq.empty,
                        dvs: Seq[String] = Seq.empty,
                        metas: Seq[String] = Seq.empty): Boolean = {
    // Paths are engine-generated parquet names, but make the format's
    // contract explicit: the hand-rolled quote-split parse in
    // parseAction is only sound when paths carry no quote/backslash.
    (adds ++ removes ++ stats ++ dvs ++ metas).foreach { p =>
      require(!p.contains('"') && !p.contains('\\'),
        s"txlog: path contains a character the commit format cannot carry: $p")
    }
    // the optional kind tag comes FIRST, so change-feed consumers can
    // classify a commit without scanning its file actions; the txn
    // markers (appId:batchId) ride INSIDE the commit so idempotence
    // survives a crash at any point — there is no separate side file
    // to get out of sync with the log
    val lines =
      tag.map(k => s"""{"a":"tag","p":"$k"}""").toSeq ++
        txns.map { case (app, b) => s"""{"a":"txn","p":"$app:$b"}""" } ++
        schemaB64.map(s => s"""{"a":"schema","p":"$s"}""").toSeq ++
        adds.map(p => s"""{"a":"add","p":"$p"}""") ++
        removes.map(p => s"""{"a":"remove","p":"$p"}""") ++
        stats.map(s => s"""{"a":"stats","p":"$s"}""") ++
        dvs.map(s => s"""{"a":"dv","p":"$s"}""") ++
        metas.map(m => s"""{"a":"meta","p":"$m"}""")
    tryCreateExclusive(spark, commitPath(table, version),
      lines.mkString("\n") + "\n")
  }

  /** Encode a commit-metadata entry (`key` → arbitrary `value`) for the
    * metas channel: the value rides base64 so the quote-split commit
    * format can carry any text (SQL, JSON). Key: lowercase + dashes. */
  private[graft] def metaPayload(key: String, value: String): String = {
    require(key.nonEmpty &&
      key.forall(c => c.isLower || c.isDigit || c == '-' || c == '_'),
      s"txlog: meta key must be lowercase-with-dashes/digits/underscores: $key")
    key + "|" + java.util.Base64.getEncoder.encodeToString(
      value.getBytes("UTF-8"))
  }

  /** All commit-metadata entries of `table` up to `asOf`, LAST value per
    * key winning (a cleared key reads as "") — the durable
    * small-metadata channel (a materialized view's persisted definition
    * rides here). A field read of the [[Snapshot]] fold; checkpoints
    * carry the metas, so the cost is bounded by [[checkpointEvery]]. */
  def commitMetas(spark: SparkSession, table: String,
                  asOf: Option[Long] = None): Map[String, String] =
    stateAt(spark, table, asOf).metas

  // ─────────────────────────────────────────────────────────────────
  // CHECK constraints (the Delta-style write-boundary gate): persisted
  // in the metas channel under `check-<name>`, enforced on every
  // commit that lands NEW row images (append flavors, overwrite, MOR
  // update/merge) — never on row-invisible rewrites (compaction,
  // clustering), whose rows already passed. Standard SQL semantics: a
  // row violates only when the expression is FALSE (NULL passes).
  // ─────────────────────────────────────────────────────────────────

  private val CheckKeyPrefix = "check-"

  /** The table's active CHECK constraints: name → SQL expression. */
  def checkConstraints(spark: SparkSession, table: String,
                       asOf: Option[Long] = None): Map[String, String] =
    stateAt(spark, table, asOf).checks

  /** ADD CONSTRAINT `name` CHECK (`exprSql`): validates the expression
    * (resolves against the current schema, boolean-typed,
    * deterministic), validates EXISTING live rows satisfy it (an ADD
    * over violating data fails loudly with the violation count — the
    * constraint must be TRUE the moment it exists), then lands a
    * metadata-only commit. The [[appendCommit]] claim loop re-reads
    * constraints that land while it retries, so an ADD racing an
    * in-flight violating append cannot admit the batch on the quiet. */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
                         exprSql: String): Long = {
    requireConstraintName(name)
    // validate against a PINNED snapshot and claim only one version past
    // it ([[commitMetaOnly]]) — claim success then IMPLIES the validation
    // covered every committed row: a violating append landing between
    // the validation scan and the meta commit fails our claim, and the
    // retry re-validates ALL rows (the appendCommit side re-checks
    // constraints that land while IT retries; this is the mirror-image
    // duty on the constraint side — r15 advice).
    commitMetaOnly(spark, table, Seq(metaPayload(CheckKeyPrefix + name, exprSql)),
      s"add constraint $name", check = { head =>
        require(!head.checks.contains(name),
          s"txlog: constraint '$name' already exists on $table — DROP it first")
        val rows = read(spark, table, Some(head.version))
        val cond = resolveConstraint(table, rows, name, exprSql)
        val bad = rows.filter(!cond).count() // NULL-passing: cond is coalesced
        require(bad == 0L,
          s"txlog: cannot add constraint '$name' CHECK ($exprSql) to $table — " +
            s"$bad existing rows violate it")
      })
  }

  /** DROP CONSTRAINT `name` — a metadata-only commit clearing the key
    * (last value wins in the metas channel). */
  def dropCheckConstraint(spark: SparkSession, table: String,
                          name: String): Long = {
    requireConstraintName(name)
    val have = checkConstraints(spark, table)
    require(have.contains(name),
      s"txlog: no constraint '$name' on $table " +
        s"(have: ${have.keys.toSeq.sorted.mkString(", ")})")
    commitMetaOnly(spark, table, Seq(metaPayload(CheckKeyPrefix + name, "")),
      s"drop constraint $name")
  }

  private def requireConstraintName(name: String): Unit =
    require(name.nonEmpty && name.head.isLower &&
      name.forall(c => c.isLower || c.isDigit || c == '-' || c == '_'),
      s"txlog: constraint name must be lowercase [a-z][a-z0-9_-]*: '$name'")

  /** Resolve + vet one constraint expression against `frame`'s schema:
    * boolean-typed, deterministic, analyzable. Returns the VIOLATION-
    * free predicate (NULL-passing, per SQL CHECK). */
  private def resolveConstraint(table: String,
                                frame: DataFrame, name: String,
                                exprSql: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val cond =
      try {
        val c = expr(exprSql)
        val analyzed = frame.select(c.as("c"))
        require(analyzed.schema.head.dataType ==
          org.apache.spark.sql.types.BooleanType,
          s"txlog: constraint '$name' CHECK ($exprSql) is " +
            s"${analyzed.schema.head.dataType.catalogString}, not boolean")
        require(analyzed.queryExecution.analyzed.expressions
          .forall(_.deterministic),
          s"txlog: constraint '$name' CHECK ($exprSql) is nondeterministic")
        c
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"txlog: constraint '$name' CHECK ($exprSql) does not resolve " +
              s"against $table: ${e.getMessage}")
      }
    coalesce(cond, lit(true))
  }

  /** Enforce `snap`'s constraints against the new row images in `df`:
    * ONE aggregate pass counting violations per constraint, loud with
    * name + expression + count on any hit, so nothing lands. The
    * incoming batch is the increment, not the table, so the extra scan
    * costs the batch — the only enforcement shape that holds at 100 TB. */
  private def requireSatisfiesConstraints(table: String, snap: Snapshot,
                                          df: DataFrame, what: String): Unit = {
    import org.apache.spark.sql.functions.{lit, sum, when}
    val cs = snap.checks.toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    // a batch may carry a SUBSET of declared columns (the rest read as
    // null) — the constraint must see exactly those nulls, so pad the
    // frame with typed null literals instead of failing resolution
    val padded = snap.schema.fold(df) { d =>
      val have = df.columns.toSet
      d.fields.filterNot(f => have.contains(f.name)).foldLeft(df)((acc, f) =>
        acc.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val aggs = cs.map { case (n, e) =>
      sum(when(!resolveConstraint(table, padded, n, e), 1L)
        .otherwise(0L)).as(s"v_$n")
    }
    val row = padded.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i) // empty batch
      require(v == 0L,
        s"txlog: $what into $table violates CHECK constraint '$n' ($e): " +
          s"$v rows — nothing was committed")
    }
  }

  // ─────────────────────────────────────────────────────────────────
  // Generated columns (GENERATED ALWAYS AS): declared before any data
  // lands, stored on write — a batch missing the column gets it
  // COMPUTED; a batch carrying it is VALIDATED cell-for-cell (loud on
  // mismatch, nothing lands). Stored-not-virtual is the contract that
  // lets partitioning/clustering/stats key on the generated value.
  // ─────────────────────────────────────────────────────────────────

  private val GenKeyPrefix = "gen-"

  /** The table's generated columns: name → SQL expression. */
  def generatedColumns(spark: SparkSession, table: String,
                       asOf: Option[Long] = None): Map[String, String] =
    stateAt(spark, table, asOf).gens

  /** ADD COLUMN `name` `dataType` GENERATED ALWAYS AS (`exprSql`) — one
    * commit carrying the widened schema AND the persisted expression.
    * Only legal while the table holds NO live data (a later add cannot
    * backfill stored values without rewriting every file; at 100 TB
    * that must be an explicit rewrite, not a side effect), re-checked
    * inside the claim loop so a racing first append cannot slip under
    * the declaration. The expression must resolve against the existing
    * columns, be deterministic, and produce the declared type (or one
    * it widens to). */
  def addGeneratedColumn(spark: SparkSession, table: String, name: String,
                         dataType: DataType, exprSql: String): Long = {
    import org.apache.spark.sql.functions.expr
    declareColumn(spark, table, "generated", StructField(name, dataType),
      metaPayload(GenKeyPrefix + name, exprSql), vet = { snap =>
        val resolved =
          try read(spark, table, Some(snap.version)).select(expr(exprSql).as(name))
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"txlog: generated column '$name' AS ($exprSql) does not " +
                  s"resolve against $table: ${e.getMessage}")
          }
        require(resolved.queryExecution.analyzed.expressions.forall(_.deterministic),
          s"txlog: generated column '$name' AS ($exprSql) is nondeterministic")
        val got = resolved.schema.head.dataType
        require(got == dataType || widens(got, dataType),
          s"txlog: generated column '$name' AS ($exprSql) produces " +
            s"${got.catalogString}, which the declared " +
            s"${dataType.catalogString} cannot hold losslessly")
      })
  }

  /** Declare an engine-owned `field` (GENERATED ALWAYS / IDENTITY): ONE
    * metadata commit carrying the widened schema AND the column's `meta`
    * entry. Legal only on a table with a declared schema that holds NO
    * live data (a later add cannot backfill stored values without
    * rewriting every file; at 100 TB that must be an explicit rewrite,
    * not a side effect) — re-checked on every base the claim lands on,
    * so a racing first append cannot slip under the declaration. `vet`
    * checks the declaration against the table it extends. */
  private def declareColumn(spark: SparkSession, table: String, kind: String,
                            field: StructField, meta: String,
                            vet: Snapshot => Unit = _ => ()): Long = {
    requireConstraintName(field.name)
    val snap = snapshot(spark, table)
    val declared = snap.schema.getOrElse(throw new IllegalArgumentException(
      s"txlog: $table declares no schema — createTable first, then " +
        s"declare $kind columns, then land data"))
    require(!declared.fieldNames.contains(field.name),
      s"txlog: column '${field.name}' already exists on $table")
    def requireEmpty(s: Snapshot): Unit = require(s.files.isEmpty,
      s"txlog: cannot add $kind column '${field.name}' to $table — data " +
        "already landed, and stored values cannot be backfilled without a " +
        s"full rewrite (declare $kind columns before the first append)")
    requireEmpty(snap)
    vet(snap)
    commitMetaOnly(spark, table, Seq(meta), s"$kind-column add",
      Some(encodeSchema(StructType(declared.fields :+ field))),
      check = requireEmpty)
  }

  /** Enforce/complete the generated columns on a batch of NEW row
    * images: absent columns are COMPUTED (cast to the declared type),
    * present ones VALIDATED cell-for-cell in one aggregate pass
    * (null-safe equality — loud with the mismatch count, so an update
    * that changed a source column but kept a stale stored value cannot
    * land). */
  private def applyGeneratedColumns(table: String, snap: Snapshot,
                                    df: DataFrame, what: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, sum, when}
    val gens = snap.gens.toSeq.sortBy(_._1)
    if (gens.isEmpty) return df
    val declared = snap.schema.getOrElse(return df)
    def genType(n: String) = declared.fields.find(_.name == n).map(_.dataType)
      .getOrElse(throw new IllegalStateException(
        s"txlog: generated column '$n' has no declared field on $table"))
    val have = df.columns.toSet
    val (present, absent) = gens.partition { case (n, _) => have.contains(n) }
    var out = absent.foldLeft(df) { case (acc, (n, e)) =>
      acc.withColumn(n, expr(e).cast(genType(n)))
    }
    if (present.nonEmpty) {
      val aggs = present.flatMap { case (n, e) =>
        Seq(
          sum(when(!(col(n) <=> expr(e).cast(genType(n))), 1L)
            .otherwise(0L)).as(s"g_$n"),
          sum(when(col(n).isNotNull, 1L).otherwise(0L)).as(s"nn_$n"))
      }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      present.zipWithIndex.foreach { case ((n, e), i) =>
        val bad = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
        val nonNull = if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)
        if (nonNull == 0L)
          // an ALL-NULL generated column is an ABSENT one: the SQL
          // INSERT path pads unnamed columns with null before this
          // layer sees the batch, and GENERATED ALWAYS means the
          // engine owns the value either way — recompute
          out = out.withColumn(n, expr(e).cast(genType(n)))
        else require(bad == 0L,
          s"txlog: $what into $table carries generated column '$n' with " +
            s"$bad values differing from GENERATED ALWAYS AS ($e) — " +
            "nothing was committed")
      }
    }
    out
  }

  // ─────────────────────────────────────────────────────────────────
  // Identity columns (GENERATED ALWAYS AS IDENTITY): the log itself is
  // the sequence — each identity-assigning append advances the
  // column's high-water INSIDE its own commit (last-value-wins in the
  // metas channel), so uniqueness is exactly as strong as the OCC
  // claim: a writer that loses the claim re-reads the high-water and
  // RE-ASSIGNS before retrying. Values are monotonic per commit and
  // unique across commits; like every real distributed IDENTITY, gaps
  // appear when a writer aborts after reserving.
  // ─────────────────────────────────────────────────────────────────

  private val IdentityKeyPrefix = "identity-"

  /** The table's identity columns: name → (startWith, stepBy, next). */
  def identityColumns(spark: SparkSession, table: String,
                      asOf: Option[Long] = None): Map[String, (Long, Long, Long)] =
    stateAt(spark, table, asOf).identities

  /** ADD COLUMN `name` BIGINT GENERATED ALWAYS AS IDENTITY — same
    * declare-before-data contract as [[addGeneratedColumn]] (one commit
    * carrying the widened schema and the sequence state; emptiness
    * re-checked in the claim loop). */
  def addIdentityColumn(spark: SparkSession, table: String, name: String,
                        startWith: Long = 1L, stepBy: Long = 1L): Long = {
    require(stepBy != 0L, "txlog: identity INCREMENT BY must be nonzero")
    declareColumn(spark, table, "identity", StructField(name, LongType),
      metaPayload(IdentityKeyPrefix + name, s"$startWith|$stepBy|$startWith"))
  }

  /** Mint ids for one identity column over the whole batch: global
    * zipWithIndex (one extra count job — the price of a contiguous
    * reservation), values `next + i·step`, appended as the declared
    * LongType field. A batch CARRYING non-null values is rejected —
    * GENERATED ALWAYS means the engine owns the value. */
  private def assignIdentityIds(df: DataFrame, name: String, next: Long,
                                step: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val base =
      if (!df.columns.contains(name)) df
      else {
        val r = df.agg(
          sum(when(col(name).isNotNull, 1L).otherwise(0L)).as("nn"),
          count(lit(1)).as("n")).head()
        val nonNull = if (r.isNullAt(0)) 0L else r.getLong(0)
        require(nonNull == 0L,
          s"txlog: batch carries $nonNull explicit values for identity " +
            s"column '$name' — it is GENERATED ALWAYS AS IDENTITY")
        df.drop(name)
      }
    val schema2 = base.schema.add(name, org.apache.spark.sql.types.LongType,
      nullable = true)
    val rdd = base.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (next + i * step))
    }
    base.sparkSession.createDataFrame(rdd, schema2)
  }

  /** Commit carrying ONLY meta lines (and, for a column declaration,
    * the widened schema) — untagged and file-free, so the change feed
    * sees it as empty and incremental consumers fold nothing
    * ([[commitTouchesRows]]). `check` vets each base snapshot and the
    * claim goes to exactly its version + 1, so claim success implies
    * the check saw every commit below the new one; a lost claim
    * re-checks against a fresh snapshot. */
  private def commitMetaOnly(spark: SparkSession, table: String,
                             metas: Seq[String], what: String,
                             schemaB64: Option[String] = None,
                             check: Snapshot => Unit = _ => ()): Long = {
    def claim(): Long = {
      val head = latestSnapshot(spark, table, what)
      check(head)
      head.version + 1
    }
    var v = claim()
    var attempts = 0
    while (!tryCommit(spark, table, v, Seq.empty, Seq.empty, None, schemaB64,
      metas = metas)) {
      attempts += 1
      require(attempts < maxCommitAttempts,
        s"txlog: $what of $table still contended after $attempts attempts")
      v = claim()
    }
    maybeCheckpoint(spark, table, v)
    v
  }

  /** Land arbitrary commit-metadata entries as ONE metadata-only commit
    * (row-invisible to the change feed — incremental consumers fold
    * nothing). The channel engine-level declarations outside the
    * constraint/generated/identity families ride — e.g. a materialized
    * view's read-shape decorations ([[graft.operators.MatView]]). */
  private[graft] def putMetas(spark: SparkSession, table: String,
                              kvs: Seq[(String, String)],
                              what: String): Long = {
    require(kvs.nonEmpty, s"txlog: $what writes no metadata")
    commitMetaOnly(spark, table,
      kvs.map { case (k, v) => metaPayload(k, v) }, what)
  }

  /** Short unique suffix for per-attempt data directories, so racing
    * writers that pick the same intended version never collide on the
    * data PATH (the log claim, not the path, decides who wins). */
  private def uniq(): String =
    java.util.UUID.randomUUID.toString.substring(0, 8)

  /** Parse one commit/checkpoint line of the fixed two-field format —
    * validated, so a corrupt or reordered line fails LOUDLY with the
    * offending content instead of an ArrayIndexOutOfBounds. */
  private def parseAction(where: Path, line: String): (String, String) = {
    val t = line.split("\"", -1)
    require(t.length == 9 && t(1) == "a" && t(5) == "p",
      s"txlog: malformed commit line in $where: $line")
    val action = t(3)
    require(action == "add" || action == "remove" || action == "tag" ||
      action == "schema" || action == "txn" || action == "stats" ||
      action == "dv" || action == "meta",
      s"txlog: bad action in $where: $line")
    (action, t(7))
  }

  private def watermarkPath(table: String) =
    new Path(logDir(table), "_vacuum_watermark")

  /** Earliest version still readable (0 until a vacuum raises it). */
  def earliestReadableVersion(spark: SparkSession, table: String): Long = {
    val p = watermarkPath(table)
    val f = fs(spark, p)
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** How often the folded [[Snapshot]] is written next to the log
    * (`_log/%08d.checkpoint`, the commit line format: the declared
    * schema, the live adds, their stats and bound deletion vectors,
    * every meta key's last value — cleared keys included — and each
    * appId's txn high-water mark): every metadata read and write gate
    * folds last-checkpoint + suffix instead of the full commit prefix,
    * making the metadata cost O(checkpointEvery) in commit count
    * instead of O(commits) — the cost that grows without bound on a
    * long-lived table fed by streaming micro-batch commits (each
    * [[appendSink]] batch is one commit). The public lakehouse answer
    * (Delta's `_last_checkpoint`, Iceberg's snapshot manifests), reduced
    * to this log's two-field format. */
  val checkpointEvery: Long = 10L

  private def ckptPath(table: String, version: Long) =
    new Path(logDir(table), f"$version%08d.checkpoint")

  /** Sorted versions that have a checkpoint snapshot. */
  def checkpointVersions(spark: SparkSession, table: String): Seq[Long] =
    listLog(spark, table).checkpoints

  /** Parsed log files, cached by absolute path. Commit files and
    * checkpoints are WRITE-ONCE (published atomically via hard-link /
    * create-exclusive CAS, never rewritten; vacuum reclaims only data
    * files and orphans, never the log; fixture table dirs are unique
    * per invocation), so one parse serves the file's whole life. The
    * r17 measure pass found the metadata path re-opening the same
    * commit files dozens of times per lifecycle row — every read and
    * write gate folds checkpoint + suffix, and the per-commit readers
    * (history, change feed, OCC) re-open commits — and per-job
    * profiling (PERF.md, "Round 17") attributed ~half of each qw row's wall to exactly these
    * driver-side gaps (guide §1.2: per-task — here per-action — work).
    * Same bounding idiom as [[footerCache]]. */
  private val logParseCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def readLogFile(spark: SparkSession, path: Path): Seq[(String, String)] = {
    val key = path.toString
    val hit = logParseCache.get(key)
    if (hit != null) return hit
    val f = fs(spark, path)
    val in = f.open(path)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val parsed =
      text.linesIterator.filter(_.nonEmpty).map(parseAction(path, _)).toSeq
    if (logParseCache.size() > 65536) logParseCache.clear()
    logParseCache.put(key, parsed)
    parsed
  }

  /** Deletion-vector payload format: `fileRel|dvDirRel`, with dvDirRel
    * `-` meaning UNBOUND (the [[restore]] sentinel; [[dvAt]] filters it
    * out). */
  private[sources] val DvUnbound = "-"

  /** The table state at one version, produced by ONE checkpoint +
    * suffix fold ([[replay]]); every metadata accessor is a field read
    * of it.
    *  - `files`: live relative paths, first-added order;
    *  - `schema`: the declared schema (None until a schema evolution
    *    commits one — legacy tables read with the inferred parquet
    *    schema);
    *  - `stats`: recorded stats payloads, the LAST per (file, column)
    *    winning (a bloom reference keeps its own slot beside the
    *    column's value bounds);
    *  - `dvs`: deletion-vector bindings, the LAST per file winning (a
    *    later MOR delete re-points a file at a vector that CONTAINS the
    *    earlier positions; a [[restore]] may re-point it BACK to an
    *    earlier — or no — vector), [[DvUnbound]] sentinels included;
    *  - `metas`: the commit-metadata channel, the LAST value per key
    *    winning, cleared keys kept as "";
    *  - `txns`: each appId's highest committed batchId. */
  private[graft] final case class Snapshot(version: Long, files: Seq[String],
                                           schema: Option[StructType],
                                           stats: Seq[String],
                                           dvs: Seq[(String, String)],
                                           metas: Map[String, String],
                                           txns: Map[String, Long]) {
    lazy val liveSet: Set[String] = files.toSet

    /** Live files' bound deletion-vector dirs ([[dvAt]]). */
    lazy val liveDvs: Map[String, String] =
      dvs.filter(p => liveSet.contains(p._1) && p._2 != DvUnbound).toMap

    /** Recorded (size, modification time) of data files and
      * deletion-vector sidecar files ([[SizeStatsCol]] lines). */
    lazy val sizes: Map[String, (Long, Long)] = recordedSizes(stats)

    /** The recorded sidecar files of each bound deletion-vector dir. */
    lazy val dvFiles: Map[String, Seq[String]] = {
      val dirs = dvs.map(_._2).toSet
      sizes.keys.toSeq.filter(f => dirs.contains(parentOf(f))).sorted
        .groupBy(parentOf)
    }

    /** The stats lines of live files and of live deletion-vector
      * sidecars: all a from-scratch copy of this state needs. */
    lazy val liveStats: Seq[String] = {
      val dirs = liveDvs.values.toSet
      stats.filter { s =>
        val f = s.split('|')(0)
        liveSet.contains(f) || dirs.contains(parentOf(f))
      }
    }

    /** Physical name of logical column `c` (itself when the table
      * declares no mapping — the legacy identity). */
    def physical(c: String): String =
      schema.flatMap(_.fields.find(_.name == c)).map(physicalName).getOrElse(c)

    /** True iff `appId` already committed `batchId` (or a later batch). */
    def landed(appId: String, batchId: Long): Boolean =
      txns.get(appId).exists(_ >= batchId)

    private def prefixed(prefix: String): Map[String, String] =
      metas.collect {
        case (k, v) if k.startsWith(prefix) && v.nonEmpty =>
          k.substring(prefix.length) -> v
      }

    /** Active CHECK constraints: name → SQL expression. */
    lazy val checks: Map[String, String] = prefixed(CheckKeyPrefix)

    /** Generated columns: name → SQL expression. */
    lazy val gens: Map[String, String] = prefixed(GenKeyPrefix)

    /** Identity columns: name → (startWith, stepBy, next). */
    lazy val identities: Map[String, (Long, Long, Long)] =
      prefixed(IdentityKeyPrefix).map { case (n, v) =>
        val t = v.split('|')
        require(t.length == 3, s"txlog: malformed identity meta for $n: $v")
        n -> ((t(0).toLong, t(1).toLong, t(2).toLong))
      }

    /** The write-boundary declarations (CHECK / generated / identity
      * metas): a write gated against one value must re-gate when a
      * commit it lands on top of changed them. */
    lazy val boundary: Map[String, String] = metas.filter { case (k, _) =>
      k.startsWith(CheckKeyPrefix) || k.startsWith(GenKeyPrefix) ||
        k.startsWith(IdentityKeyPrefix)
    }
  }

  /** Fold the newest checkpoint at or before `asOf` (default: the latest
    * listed commit) and the commit suffix after it into a [[Snapshot]].
    * Lenient: an empty log folds to an empty snapshot, and a version the
    * log does not hold folds whatever precedes it ([[snapshot]] is the
    * loud entry). */
  private[graft] def replay(spark: SparkSession, table: String,
                            log: LogListing, asOf: Option[Long]): Snapshot = {
    val target = asOf.getOrElse(log.commits.lastOption.getOrElse(-1L))
    val startCkpt = log.checkpoints.filter(_ <= target).lastOption
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    var schema: Option[String] = None
    val stats = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val metas = scala.collection.mutable.Map.empty[String, String]
    val txns = scala.collection.mutable.Map.empty[String, Long]
    def fold(action: String, payload: String): Unit = action match {
      case "add" => live += payload
      case "remove" => live -= payload
      case "schema" => schema = Some(payload)
      case "stats" =>
        val t = payload.split('|')
        // 4 fields = integral min/max; 5 with trailing "s" = base64 string
        // bounds; 5 with trailing "p" = base64 partition value; 5 with
        // trailing "bf" = per-file bloom sidecar reference
        require(t.length == 4 || (t.length == 5 &&
          (t(4) == "s" || t(4) == "p" || t(4) == BloomSuffix)),
          s"txlog: malformed stats payload in $table: $payload")
        val cls = if (t.length == 5 && t(4) == BloomSuffix) "\u0000bf" else ""
        stats((t(0), t(1) + cls)) = payload
      case "dv" =>
        val t = payload.split('|')
        require(t.length == 2, s"txlog: malformed dv payload in $table: $payload")
        dvs(t(0)) = t(1)
      case "meta" =>
        val cut = payload.indexOf('|')
        require(cut > 0, s"txlog: malformed meta payload in $table: $payload")
        metas(payload.substring(0, cut)) = new String(
          java.util.Base64.getDecoder.decode(payload.substring(cut + 1)), "UTF-8")
      case "txn" =>
        val cut = payload.indexOf(':')
        require(cut > 0, s"txlog: malformed txn payload in $table: $payload")
        val (app, b) = (payload.substring(0, cut), payload.substring(cut + 1).toLong)
        txns(app) = txns.get(app).fold(b)(math.max(_, b))
      case _ => () // tag: a commit marker, not table state
    }
    startCkpt.foreach { cv =>
      readLogFile(spark, ckptPath(table, cv)).foreach {
        case (a @ ("remove" | "tag"), p) => throw new IllegalArgumentException(
          s"txlog: checkpoint $cv carries non-add action $a for $p")
        case (a, p) => fold(a, p)
      }
    }
    log.commits.filter(v => v <= target && startCkpt.forall(v > _)).foreach { v =>
      readLogFile(spark, commitPath(table, v)).foreach { case (a, p) => fold(a, p) }
    }
    Snapshot(target, live.toSeq, schema.map(decodeSchema), stats.values.toSeq,
      dvs.toSeq, metas.toMap, txns.toMap)
  }

  /** Both directions fail loudly: a too-early version has no commits to
    * replay; a too-late one names a snapshot that does not exist
    * (silently answering with the latest would un-pin a pinned read). */
  private def requireListed(log: LogListing, v: Long): Unit = {
    require(log.commits.exists(_ <= v),
      s"txlog: no commits at or before version $v")
    require(v <= log.commits.last, // nonEmpty: the require above threw otherwise
      s"txlog: version $v does not exist yet (latest: ${log.commits.last})")
  }

  /** The [[Snapshot]] at `asOf` (default: latest) from one listing and
    * one fold; loud on a pinned version the log does not hold. The
    * latest of a table with no commits is the empty version -1. */
  private[graft] def snapshot(spark: SparkSession, table: String,
                              asOf: Option[Long] = None): Snapshot = {
    val log = listLog(spark, table)
    asOf.foreach(requireListed(log, _))
    replay(spark, table, log, asOf)
  }

  /** The lenient [[Snapshot]] at `asOf` (an empty table, or a version
    * the log does not hold, folds whatever precedes it). */
  private def stateAt(spark: SparkSession, table: String,
                      asOf: Option[Long]): Snapshot =
    replay(spark, table, listLog(spark, table), asOf)

  /** The latest [[Snapshot]] — the base a write commits on top of —
    * from one listing; loud on a table with no commits. */
  private def latestSnapshot(spark: SparkSession, table: String,
                             what: String): Snapshot = {
    val log = listLog(spark, table)
    require(log.commits.nonEmpty,
      s"txlog: cannot $what an empty table (no commits in $table)")
    replay(spark, table, log, None)
  }

  /** Live files' deletion-vector dirs as of `asOf` (empty for a table
    * that never saw a MOR delete). */
  def dvAt(spark: SparkSession, table: String,
           asOf: Option[Long] = None): Map[String, String] =
    snapshot(spark, table, asOf).liveDvs

  /** Write the table-state snapshot for `version` (called by the commit
    * paths on the [[checkpointEvery]] cadence; idempotent — a crash
    * between commit and checkpoint just means the next read replays a
    * slightly longer suffix, and the NEXT eligible commit writes one). */
  private def maybeCheckpoint(spark: SparkSession, table: String,
                              version: Long): Unit = {
    if (version > 0 && version % checkpointEvery == 0) {
      val snap = snapshot(spark, table, Some(version))
      val live = snap.liveSet
      // the schema, the live files, their stats and their bound vectors
      // (with the vectors' sidecar sizes), the metas and the txn
      // high-water marks: a from-scratch state, so stats of removed files
      // and unbound sentinels are dead weight (sorted metas and txns keep
      // the content a function of the prefix)
      val lines = snap.schema.map(s => ("schema", encodeSchema(s))).toSeq ++
        snap.files.map(("add", _)) ++
        snap.liveStats.map(("stats", _)) ++
        snap.dvs.collect { case (file, dv) if live.contains(file) && dv != DvUnbound =>
          ("dv", s"$file|$dv")
        } ++
        snap.metas.toSeq.sorted.map { case (k, v) => ("meta", metaPayload(k, v)) } ++
        snap.txns.toSeq.sorted.map { case (app, b) => ("txn", s"$app:$b") }
      // ATOMIC publication (same hazard as commits): a plain
      // create+write+close lets a racing reader replay a truncated
      // prefix of the .ckpt and silently drop live files from its
      // snapshot. Checkpoint content at a version is deterministic
      // (pure function of the log prefix), so losing the claim to a
      // concurrent twin is fine — the file that exists is identical.
      tryCreateExclusive(spark, ckptPath(table, version),
        lines.map { case (a, p) => s"""{"a":"$a","p":"$p"}""" }
          .mkString("\n") + "\n")
      ()
    }
  }

  /** The live RELATIVE file paths as of `asOf` (default: latest), in
    * first-added order; loud on a version the log does not hold. */
  def snapshotFiles(spark: SparkSession, table: String,
                    asOf: Option[Long] = None): Seq[String] =
    snapshot(spark, table, asOf).files

  // ---------------------------------------------------------------------
  // COLUMN MAPPING (the public Delta column-mapping 'name' mode): each
  // declared field may carry a PHYSICAL name in its metadata
  // ("graft.physical") — the name actually written in parquet files.
  // RENAME then changes only the logical name (a metadata-only commit;
  // zero data rewritten, old files keep reading through the unchanged
  // physical), DROP removes the field from the declared schema (old
  // files' column is simply never selected), and a column re-ADDED
  // after a drop gets a fresh UUID physical so the dropped data can
  // never be silently resurrected. Tables that never rename/drop carry
  // no mapping and read/write exactly as before.
  // ---------------------------------------------------------------------

  private val PhysicalKey = "graft.physical"

  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def mappingEnabled(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysicalKey))

  /** Stamp every field with its physical name (= its current logical
    * name where absent) — the one-time upgrade a first rename/drop
    * performs, pinning the names existing files were written with. */
  private def withPhysicals(s: StructType): StructType =
    StructType(s.fields.map { f =>
      if (f.metadata.contains(PhysicalKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putString(PhysicalKey, f.name).build())
    })

  /** The schema as written in parquet: physical names, mapping metadata
    * stripped (the files know nothing of logical names). */
  private def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalName(f),
      metadata = org.apache.spark.sql.types.Metadata.empty)))

  /** Rename a physically-read frame's columns back to their logical
    * names, in declared order. Identity when no mapping is declared. */
  private def logicalize(df: DataFrame, declared: Option[StructType]): DataFrame =
    declared.filter(mappingEnabled) match {
      case None => df
      case Some(s) =>
        import org.apache.spark.sql.functions.col
        df.select(s.fields.map(f => col(physicalName(f)).as(f.name)).toSeq: _*)
    }

  /** Rename an incoming LOGICAL frame's columns to their physical names
    * for writing. Identity when no mapping is declared. */
  private def physicalize(df: DataFrame, declared: Option[StructType]): DataFrame =
    declared.filter(mappingEnabled) match {
      case None => df
      case Some(s) =>
        import org.apache.spark.sql.functions.col
        val byLogical = s.fields.map(f => f.name -> physicalName(f)).toMap
        df.select(df.columns.map(c =>
          col(c).as(byLogical.getOrElse(c, c))).toSeq: _*)
    }

  /** logical → physical name map of the table's current declared schema
    * (empty when no mapping is declared) — for readers that resolve
    * parquet columns by name themselves ([[TxLogStream]]). */
  private[sources] def physicalLookup(spark: SparkSession,
                                      table: String): Map[String, String] =
    schemaAt(spark, table).filter(mappingEnabled)
      .map(_.fields.map(f => f.name -> physicalName(f)).toMap)
      .getOrElse(Map.empty)

  private def decodeSchema(b64: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))

  /** The table's DECLARED schema as of `asOf` ([[Snapshot.schema]]);
    * lenient: None on an empty table. */
  def schemaAt(spark: SparkSession, table: String,
               asOf: Option[Long] = None): Option[StructType] =
    stateAt(spark, table, asOf).schema

  /** List the parquet files a data write produced, as table-relative
    * paths. */
  private[graft] def writtenFiles(spark: SparkSession, table: String,
                                  rel: String): Seq[String] = {
    val dataDir = new Path(table, rel)
    fs(spark, dataDir).listStatus(dataDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .sorted
      .map(n => s"$rel/$n")
  }

  /** Backstop against a livelocked commit loop — far above any real
    * contention (every failed attempt means some OTHER writer made
    * progress, so the system as a whole never stalls). */
  private val maxCommitAttempts = 1000

  /** Append `df` as a new commit; returns the committed version.
    * Concurrency-safe: the data files are written once to a unique
    * directory, then the commit claim retries at the next free version
    * until it lands — an append's adds depend on no prior table state,
    * so it can NEVER truly conflict (the no-conflict row of the public
    * lakehouse conflict matrix). */
  def append(spark: SparkSession, table: String, df: DataFrame): Long =
    appendCommit(spark, table, df, "append", None, Seq.empty).get

  /** The one append OCC loop every append flavor funnels through:
    * data written once to a unique dir, the commit claim retried at
    * the next free version until it lands (an append's adds depend on
    * no prior state, so it can never truly conflict). Optional txn
    * marker (idempotent flavors) and optional per-file stats columns.
    * Every gate — txn marker, generated columns, declared schema, CHECK
    * constraints, identity high-water — reads ONE [[Snapshot]], and the
    * claim goes to exactly its version + 1, so claim success implies
    * the gates saw every commit below the new one.
    *
    * Returns None when the txn marker already landed: in the snapshot
    * (a replayed batch, detected before any gate job runs) or in a
    * commit that beat this writer's claim — the zombie twin replaying
    * the same micro-batch (Delta raises ConcurrentTransactionException
    * here; we resolve it as "already committed", which is strictly
    * safer than landing twice). The orphaned data dir is deleted. */
  private def appendCommit(spark: SparkSession, table: String, dfIn: DataFrame,
                           what: String, txn: Option[(String, Long)],
                           statsCols: Seq[String],
                           writeBatch: Option[(DataFrame, String, Snapshot) =>
                             (Seq[String], Seq[String])] = None): Option[Long] = {
    var snap = snapshot(spark, table)
    def replayed(s: Snapshot) = txn.exists { case (app, b) => s.landed(app, b) }
    if (replayed(snap)) return None
    def gated(): DataFrame = {
      val d = applyGeneratedColumns(table, snap, dfIn, what)
      requireFitsDeclared(snap, d, what)
      requireSatisfiesConstraints(table, snap, d, what)
      d
    }
    var df = gated()
    statsCols.foreach(c => require(df.schema.fieldNames.contains(c) ||
      snap.identities.contains(c),
      s"txlog: stats column '$c' is not in the appended schema " +
        s"(${df.schema.fieldNames.mkString(", ")}) nor engine-derived"))
    // identity minting reserves [next, next + n·step) against the
    // snapshot's high-water; `writeBatch` lets a layout-owning flavor
    // (partitioned / bloom append) land its own file shape from the
    // minted logical frame + rel, returning (files, extra stats-channel
    // lines); the default is the plain parquet write
    def land(): (Path, Seq[String], Seq[String], Seq[String]) = {
      val idCols = snap.identities.toSeq.sortBy(_._1)
      val dfW = idCols.foldLeft(df) { case (acc, (n, (_, st, nx))) =>
        assignIdentityIds(acc, n, nx, st)
      }
      val batchN = if (idCols.isEmpty) 0L else dfW.count()
      val idMetas = idCols.map { case (n, (s0, st, nx)) =>
        metaPayload(IdentityKeyPrefix + n, s"$s0|$st|${nx + batchN * st}")
      }
      val rel = f"data/v${snap.version + 1}%08d-${uniq()}"
      val (files, stats) = writeBatch match {
        case Some(wb) => wb(dfW, rel, snap)
        case None =>
          physicalize(dfW, snap.schema).write.parquet(new Path(table, rel).toString)
          val files = writtenFiles(spark, table, rel)
          (files, requiredStats(spark, table, snap, files, statsCols))
      }
      // every data-landing commit records its files' row counts and
      // sizes, so COUNT(*) is a log fold ([[countRows]]) and a scan is
      // built from the log ([[scanFiles]]) forever after
      (new Path(table, rel), files, stats ++ landedLines(spark, table, files),
        idMetas)
    }
    var (dir, files, stats, idMetas) = land()
    var attempts = 0
    // claim ONLY the version right past the gating snapshot — never
    // leapfrog: a claim above an ungated commit would silently follow
    // stale gates / duplicate ids (the identity race probe caught
    // exactly that interleaving); anything landing there first fails
    // the claim and the loop re-reads
    while (!tryCommit(spark, table, snap.version + 1, files, Seq.empty, None,
      None, txn.toSeq, stats, metas = idMetas)) {
      attempts += 1
      require(attempts < maxCommitAttempts,
        s"txlog: $what to $table still contended after $attempts attempts")
      val fresh = snapshot(spark, table)
      if (replayed(fresh)) {
        fs(spark, dir).delete(dir, true) // the twin landed it: no orphans
        return None
      }
      // a write-boundary change that landed while we retried must gate
      // THIS batch too: an ADD CONSTRAINT re-validates, a generated /
      // identity declaration (possible while the table is still empty)
      // re-derives the frame, and an identity high-water advance
      // re-mints (a contending append on an identity table always
      // advances it). Gated data never lands, so the dir goes first.
      val regate = fresh.boundary != snap.boundary
      snap = fresh
      if (regate) {
        fs(spark, dir).delete(dir, true)
        df = gated()
        val re = land()
        dir = re._1; files = re._2; stats = re._3; idMetas = re._4
      }
    }
    maybeCheckpoint(spark, table, snap.version + 1)
    Some(snap.version + 1)
  }

  /** Per-file stats lines for `statsCols` over freshly written `files`
    * — loud when a requested column records nothing, which would void
    * the skipping contract for those files forever. */
  private def requiredStats(spark: SparkSession, table: String, snap: Snapshot,
                            files: Seq[String], statsCols: Seq[String]): Seq[String] =
    statsCols.flatMap { c =>
      val forCol = footerStats(spark, table, files, snap.physical(c))
      require(files.isEmpty || forCol.nonEmpty,
        s"txlog: no parquet footer carried statistics for '$c' — " +
          "the files would be permanently unprunable")
      forCol
    }

  // ---------------------------------------------------------------------
  // Schema evolution (add-column with null backfill, numeric widening)
  // ---------------------------------------------------------------------

  private val numericWidenRank: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)

  /** True iff a parquet file written with `from` reads losslessly under
    * a declared schema of `to`: equality, the integer ladder
    * byte→short→int→long, float→double, and byte/short/int→double —
    * exactly the promotions Spark 4's vectorized parquet reader
    * performs natively (pinned by the evolution spec). long→double is
    * deliberately excluded (precision loss above 2⁵³). */
  private[graft] def widens(from: DataType, to: DataType): Boolean =
    from == to || ((from, to) match {
      case (FloatType, DoubleType) => true
      case (f, DoubleType) =>
        numericWidenRank.get(f).exists(_ <= numericWidenRank(IntegerType))
      case (f, t) => (numericWidenRank.get(f), numericWidenRank.get(t)) match {
        case (Some(rf), Some(rt)) => rf <= rt
        case _ => false
      }
    })

  /** Merge `incoming` into the current schema under the evolution
    * contract: existing columns may WIDEN (never narrow — a narrower
    * incoming column is fine as-is, its files read promoted), columns
    * absent from the incoming data stay (new files read them as null),
    * brand-new columns append (old files read them as null). Anything
    * else — type change outside the widening ladder, complex-type
    * mutation — fails LOUDLY. All fields come out nullable: both
    * directions of backfill produce nulls by construction. */
  private[graft] def evolveSchema(cur: StructType,
                                    incoming: StructType): StructType = {
    val incByName = incoming.fields.map(f => f.name -> f).toMap
    val evolvedExisting = cur.fields.map { cf =>
      incByName.get(cf.name) match {
        case None => cf.copy(nullable = true)
        case Some(nf) if widens(nf.dataType, cf.dataType) => cf.copy(nullable = true)
        case Some(nf) if widens(cf.dataType, nf.dataType) =>
          cf.copy(dataType = nf.dataType, nullable = true)
        case Some(nf) => throw new IllegalArgumentException(
          s"txlog: incompatible schema change for column '${cf.name}': " +
            s"${cf.dataType.catalogString} -> ${nf.dataType.catalogString} " +
            "(only add-column and numeric widening are supported)")
      }
    }
    val added = incoming.fields
      .filter(f => !cur.fieldNames.contains(f.name)).map { f =>
        val nf = f.copy(nullable = true)
        // under column mapping a NEW column gets a fresh UUID physical:
        // re-adding a dropped column's name must never resurrect the
        // dropped data still sitting in old files under its physical
        if (!mappingEnabled(cur)) nf
        else nf.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(nf.metadata)
          .putString(PhysicalKey,
            s"col_${java.util.UUID.randomUUID.toString.replace("-", "")}")
          .build())
      }
    StructType(evolvedExisting ++ added)
  }

  /** Append `df`, EVOLVING the table's declared schema if needed — the
    * no-rewrite story for a corpus whose shape drifts: a new metadata
    * column or a counter outgrowing int never forces rewriting 100 TB
    * of old files; old files read the new column as null / the widened
    * type promoted, and time travel to either side of the evolution
    * sees that version's own schema (the schema action rides the
    * commit). Plain [[append]] stays schema-agnostic for tables that
    * never evolve. Incompatible changes fail loudly before any commit;
    * a CONCURRENT schema change aborts with
    * [[TxLogConcurrentModificationException]] (two merges cannot be
    * assumed to compose). */
  def appendEvolve(spark: SparkSession, table: String, df: DataFrame): Long = {
    val snap = snapshot(spark, table)
    if (snap.version < 0) return append(spark, table, df)
    val declared = snap.schema
    val cur = declared.getOrElse(inferredSchema(spark, table, snap.files))
    val evolved = evolveSchema(cur, df.schema)
    val needsDeclare = declared match {
      case Some(d) => evolved != d
      case None => evolved != StructType(cur.fields.map(_.copy(nullable = true)))
    }
    // no schema change (or the change is already declared): the commit
    // carries no schema action — a plain append
    if (!needsDeclare) return append(spark, table, df)
    val intended = snap.version + 1
    val rel = f"data/v$intended%08d-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(df, Some(evolved)).write.parquet(dataDir.toString)
    val files = writtenFiles(spark, table, rel)
    val schemaB64 = Some(encodeSchema(evolved))
    val counts = landedLines(spark, table, files)
    var v = intended
    var attempts = 0
    while (!tryCommit(spark, table, v, files, Seq.empty, None, schemaB64,
      Seq.empty, counts)) {
      attempts += 1
      require(attempts < maxCommitAttempts,
        s"txlog: evolving append to $table still contended after $attempts attempts")
      v = math.max(v + 1, nextSchemaClaim(spark, table, intended,
        "schema evolution", () => fs(spark, dataDir).delete(dataDir, true)))
    }
    maybeCheckpoint(spark, table, v)
    v
  }

  /** A schema-carrying commit lost its claim: from ONE listing, abort
    * (after `cleanup`) if any commit since `intended` declared a schema
    * — two schema changes cannot be assumed to compose — else return the
    * next free version. */
  private def nextSchemaClaim(spark: SparkSession, table: String,
                              intended: Long, what: String,
                              cleanup: () => Unit): Long = {
    val commits = listLog(spark, table).commits
    commits.filter(_ >= intended)
      .find(cv => readLogFile(spark, commitPath(table, cv)).exists(_._1 == "schema"))
      .foreach { cv =>
        cleanup()
        throw new TxLogConcurrentModificationException(
          s"txlog: $what of $table lost to a concurrent schema change at " +
            s"version $cv — re-read the table and retry")
      }
    commits.last + 1
  }

  /** CREATE an empty table with a DECLARED schema, as commit 0 carrying
    * the schema action and no files — SQL `CREATE TABLE`'s shape
    * (surfaced through [[TxLogCatalog]]). The declaration makes every
    * later write schema-checked from the first row ([[requireFitsDeclared]])
    * and makes the EMPTY table readable (a declared scan over zero files
    * is an empty frame with the right columns; an undeclared one cannot
    * infer). Fields are declared nullable — same promotion
    * [[appendEvolve]] applies — so parquet's optional encoding never
    * fights the declaration. Not idempotent: racing creators get ONE
    * winner, the loser fails loudly (CREATE TABLE IF NOT EXISTS is the
    * caller's check). */
  def createTable(spark: SparkSession, table: String,
                  schema: org.apache.spark.sql.types.StructType,
                  metas: Seq[String] = Seq.empty): Long = {
    require(schema.nonEmpty, "txlog: cannot create a table with no columns")
    require(versions(spark, table).isEmpty,
      s"txlog: $table already exists — use append/overwrite to write it")
    val declared = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    if (!tryCommit(spark, table, 0L, Seq.empty, Seq.empty, None,
        Some(encodeSchema(declared)), metas = metas))
      throw new TxLogConcurrentModificationException(
        s"txlog: $table was created concurrently — one creator wins")
    0L
  }

  private[graft] val PartitionColsKey = "partition-cols"

  /** [[createTable]] that also DECLARES the table's partition columns
    * (persisted in the same commit-0 metadata): every catalog INSERT
    * and streaming epoch then lands through [[appendPartitionedBy]],
    * recording per-file partition values WITHOUT the writer naming
    * them — the `CREATE TABLE … PARTITIONED BY` contract behind plain
    * SQL, kept at the write boundary instead of trusted to callers. */
  def createTablePartitioned(spark: SparkSession, table: String,
                             schema: org.apache.spark.sql.types.StructType,
                             partCols: Seq[String]): Long = {
    require(partCols.nonEmpty, "txlog: at least one partition column")
    require(partCols.distinct == partCols,
      s"txlog: duplicate partition columns: $partCols")
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"txlog: partition column '$c' is not in the declared schema"))
    createTable(spark, table, schema,
      metas = Seq(metaPayload(PartitionColsKey, partCols.mkString(","))))
  }

  /** The partition columns [[createTablePartitioned]] declared (empty
    * for undeclared tables — the caller-driven partitioned appends
    * still work there). */
  def declaredPartitionCols(spark: SparkSession, table: String): Seq[String] =
    commitMetas(spark, table).get(PartitionColsKey)
      .map(_.split(",").toSeq).getOrElse(Seq.empty)

  /** The file index of a scan built from the log: `files` with their
    * recorded sizes and modification times, answered with no
    * file-system call (the public Delta TahoeFileIndex idea). The root
    * paths are the files themselves, as `InMemoryFileIndex` gives for a
    * scan of explicit file paths; case-class equality (by path) keeps
    * two scans of the same files equal for exchange reuse and the cache
    * manager, as `InMemoryFileIndex`'s root-path equality does. */
  private final case class LogFileIndex(
      files: Seq[org.apache.hadoop.fs.FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata,
      PartitionDirectory}
    def rootPaths: Seq[Path] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                  dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
                 ): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty,
        files.map(FileStatusWithMetadata(_))))
    def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }

  /** `rels`' file statuses (qualified paths) from their recorded
    * (size, modification time) in `sizes`; a file with no record — one
    * landed by a build that did not record sizes — is stat'd. */
  private def fileStatuses(spark: SparkSession, table: String, rels: Seq[String],
                           sizes: Map[String, (Long, Long)]
                          ): Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs(spark, new Path(table))
    rels.map { rel =>
      val p = new Path(table, rel)
      sizes.get(rel) match {
        case Some((len, mtime)) => new org.apache.hadoop.fs.FileStatus(len, false,
          0, 1, mtime, p.makeQualified(f.getUri, f.getWorkingDirectory))
        case None => fs(spark, p).getFileStatus(p)
      }
    }
  }

  /** The byte sizes of `files` (recorded in `snap`): what bin-packing
    * and DESCRIBE DETAIL size from, with no stat per file. */
  private[graft] def fileSizes(spark: SparkSession, table: String, snap: Snapshot,
                               files: Seq[String]): Seq[Long] =
    fileStatuses(spark, table, files, snap.sizes).map(_.getLen)

  /** The schema Spark's parquet inference gives a scan of `rels` with no
    * declared schema, derived the way that inference does — from the
    * footer of the first file by qualified path: its stored Spark schema,
    * else the converted parquet schema, all fields nullable — but read
    * through [[footerOf]] (cached at write time), so no Spark job. */
  private def inferredSchema(spark: SparkSession, table: String,
                             rels: Seq[String]): StructType = {
    require(rels.nonEmpty,
      s"txlog: no files to infer the schema of $table from (it declares none)")
    val f = fs(spark, new Path(table))
    val first = new Path(table, rels.minBy(r => new Path(table, r)
      .makeQualified(f.getUri, f.getWorkingDirectory).toString))
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    org.apache.spark.sql.GraftSqlShims.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(first, footerOf(spark, first).md),
      new ParquetToSparkSchemaConverter(conf)))
  }

  /** The one scan builder for table data and sidecars: a parquet relation
    * over exactly `rels` (relative paths) whose file index comes from the
    * log ([[LogFileIndex]], sizes from `sizes`), under the PHYSICAL form
    * of the declared schema — files written before an add-column read
    * the new column as null, files written before a widening read
    * promoted (native in Spark 4's vectorized parquet reader) — or,
    * undeclared, the [[inferredSchema]]. Construction launches no Spark
    * job and makes no file-system call for recorded files. */
  private def scanFiles(spark: SparkSession, table: String, rels: Seq[String],
                        declared: Option[StructType],
                        sizes: Map[String, (Long, Long)]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val dataSchema = declared.map(s => org.apache.spark.sql.GraftSqlShims
      .asNullable(physicalSchema(s))).getOrElse(inferredSchema(spark, table, rels))
    org.apache.spark.sql.GraftSqlShims.ofRows(spark, LogicalRelation(HadoopFsRelation(
      LogFileIndex(fileStatuses(spark, table, rels, sizes)), new StructType(),
      dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark)))
  }

  /** The deletion-vector sidecar convention: every writer lands exactly
    * these two columns, deleted positions per data-file name. */
  private val DvSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType),
    StructField("pos", LongType)))

  /** The (file, pos) rows of deletion-vector dirs `dirs`, scanned from
    * the sidecar files `snap` records for them; a dir bound by a build
    * that did not record its sidecar is listed. */
  private def dvScan(spark: SparkSession, table: String, snap: Snapshot,
                     dirs: Seq[String]): DataFrame =
    scanFiles(spark, table, dirs.distinct.flatMap(d =>
      snap.dvFiles.getOrElse(d, writtenFiles(spark, table, d))),
      Some(DvSchema), snap.sizes)

  /** Scan `files` (relative paths, recorded in `snap`) under the
    * optional declared schema, ANTI-APPLYING each file's deletion
    * vector: files bound to a dv dir are read WITH the parquet metadata
    * columns (`_metadata.file_name`, `_metadata.row_index` — stable
    * physical row positions, the public Delta deletion-vector
    * addressing idea) and left-anti joined against the dv rows
    * (file_name, pos); unbound files scan plain. Every scan is built
    * from the log ([[scanFiles]]): the files' sizes and the vectors'
    * sidecar files are recorded, so construction lists nothing, stats
    * nothing and launches no job. The dv frame is a handful of rows per
    * targeted file and is broadcast, so the read-side cost of
    * merge-on-read is one map-side hash probe — never a shuffle of the
    * 100 TB side. */
  private def scanLive(spark: SparkSession, table: String, snap: Snapshot,
                       files: Seq[String], declared: Option[StructType],
                       dvs: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    // files are read under the PHYSICAL schema (identical to the
    // declared one unless a rename/drop enabled column mapping); logical
    // names come back via logicalize at the END, after the dv anti-join
    // — the hidden _metadata struct is only reachable on the raw scan
    def plainRead(rels: Seq[String]): DataFrame =
      scanFiles(spark, table, rels, declared, snap.sizes)
    val (masked, clean) = files.partition(dvs.contains)
    if (masked.isEmpty) return logicalize(plainRead(files), declared)
    // (file, pos): deleted positions
    val dvRows = dvScan(spark, table, snap, masked.map(dvs))
    val scanned = plainRead(masked)
    val cols = scanned.columns
    require(!cols.contains("_g_dv_file") && !cols.contains("_g_dv_pos"),
      "txlog: table schema collides with the dv scan's internal columns")
    val alive = scanned
      .withColumn("_g_dv_file", col("_metadata.file_name"))
      .withColumn("_g_dv_pos", col("_metadata.row_index"))
      .join(broadcast(dvRows),
        col("_g_dv_file") === dvRows("file") && col("_g_dv_pos") === dvRows("pos"),
        "left_anti")
      .drop("_g_dv_file", "_g_dv_pos")
    logicalize(
      if (clean.isEmpty) alive else plainRead(clean).unionByName(alive),
      declared)
  }

  /** Schema-only commit (rename/drop): no data files move, the new
    * declared schema rides a commit with zero adds/removes. OCC: on a
    * lost claim, ANY intervening schema change aborts (two metadata
    * merges cannot be assumed to compose — same rule as appendEvolve);
    * plain data commits are compatible and the claim retries past them. */
  private def commitSchemaOnly(spark: SparkSession, table: String,
                               newSchema: StructType, what: String): Long = {
    val intended = latestVersion(spark, table) + 1
    val schemaB64 = Some(encodeSchema(newSchema))
    var v = intended
    var attempts = 0
    while (!tryCommit(spark, table, v, Seq.empty, Seq.empty, None, schemaB64)) {
      attempts += 1
      require(attempts < maxCommitAttempts,
        s"txlog: $what of $table still contended after $attempts attempts")
      v = math.max(v + 1, nextSchemaClaim(spark, table, intended, what, () => ()))
    }
    maybeCheckpoint(spark, table, v)
    v
  }

  /** The declared schema a column change operates on: the latest
    * committed one, or the inferred current schema (all fields
    * nullable) for a never-evolved table; loud on an empty table. */
  private def currentSchema(spark: SparkSession, table: String,
                            what: String): StructType = {
    val snap = latestSnapshot(spark, table, what)
    snap.schema.getOrElse(StructType(inferredSchema(spark, table, snap.files)
      .fields.map(_.copy(nullable = true))))
  }

  /** RENAME COLUMN — metadata-only, zero data rewritten: the declared
    * field keeps its PHYSICAL name (what the parquet files carry) and
    * changes only its logical one, so every existing file — at 100 TB,
    * every byte of the table — stays untouched, recorded per-file stats
    * stay addressable, and time travel to a pre-rename version reads
    * under that version's own names. First use upgrades the table to
    * column mapping (pins physical = current name for every field). */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Long = {
    require(from != to, s"txlog: rename to the same name: $from")
    val cur = withPhysicals(currentSchema(spark, table, "rename"))
    require(cur.fieldNames.contains(from),
      s"txlog: no column '$from' to rename (have: ${cur.fieldNames.mkString(", ")})")
    require(!cur.fieldNames.contains(to),
      s"txlog: rename target '$to' already exists")
    val renamed = StructType(cur.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commitSchemaOnly(spark, table, renamed, s"rename $from->$to")
  }

  /** ADD COLUMN — metadata-only: the field joins the declared schema as
    * NULLABLE (there is nothing to backfill 100 TB of old files with but
    * null, and every commit path already promotes missing columns to
    * null on read). Under column mapping the new field gets a fresh
    * UUID physical ([[evolveSchema]]'s rule), so re-adding a dropped
    * name can never resurrect the dropped bytes. */
  def addColumn(spark: SparkSession, table: String, name: String,
                dataType: DataType): Long = {
    val cur = currentSchema(spark, table, "add-column")
    require(!cur.fieldNames.contains(name),
      s"txlog: column '$name' already exists " +
        s"(have: ${cur.fieldNames.mkString(", ")})")
    val evolved = evolveSchema(cur,
      StructType(cur.fields :+ StructField(name, dataType, nullable = true)))
    commitSchemaOnly(spark, table, evolved, s"add $name")
  }

  /** WIDEN COLUMN — metadata-only type change along the safe promotion
    * ladder ([[widens]]: byte→short→int→long, float→double,
    * byte/short/int→double — exactly what Spark's vectorized parquet
    * reader promotes natively). Zero files rewritten: old files read
    * promoted under the new declared type; time travel to a pre-widen
    * version reads that version's own (narrower) type. Narrowing or
    * lossy changes (long→double, anything→string) fail LOUDLY — they
    * would need a 100 TB rewrite this library refuses to do silently. */
  def widenColumn(spark: SparkSession, table: String, name: String,
                  to: DataType): Long = {
    val cur = currentSchema(spark, table, "widen")
    val f = cur.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"txlog: no column '$name' to widen " +
          s"(have: ${cur.fieldNames.mkString(", ")})"))
    require(f.dataType != to,
      s"txlog: column '$name' is already ${to.catalogString}")
    require(widens(f.dataType, to),
      s"txlog: cannot change column '$name' from " +
        s"${f.dataType.catalogString} to ${to.catalogString} — only the " +
        "lossless promotions byte->short->int->long, float->double, " +
        "byte/short/int->double are metadata-only; anything else would " +
        "rewrite every file and is unsupported")
    val widened = StructType(cur.fields.map(x =>
      if (x.name == name) x.copy(dataType = to) else x))
    commitSchemaOnly(spark, table, widened, s"widen $name")
  }

  /** DROP COLUMN — metadata-only: the field leaves the declared schema,
    * so no reader selects its physical column again; the bytes stay in
    * old files (reclaimed as files rotate through compaction) and a
    * later re-ADD of the same name gets a fresh physical, never the
    * dropped data ([[evolveSchema]]). Time travel to a pre-drop version
    * still reads the column. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val cur = withPhysicals(currentSchema(spark, table, "drop"))
    require(cur.fieldNames.contains(name),
      s"txlog: no column '$name' to drop (have: ${cur.fieldNames.mkString(", ")})")
    require(cur.fields.length > 1,
      s"txlog: cannot drop the only column of $table")
    val dropped = StructType(cur.fields.filterNot(_.name == name))
    commitSchemaOnly(spark, table, dropped, s"drop $name")
  }

  /** Forget every cached artifact under `table`. The ONE operation that
    * breaks the write-once-path assumption behind [[logParseCache]] /
    * [[footerCache]] is DROP TABLE: it deletes the whole directory and a
    * fresh CREATE may reuse the path, minting new commit files at the
    * SAME deterministic names (00000000.json …). Called from
    * [[TxLogCatalog.dropTable]]; every other delete in the engine
    * targets uniq()-suffixed data dirs that are never re-minted. */
  private[sources] def invalidateTableCaches(table: String): Unit = {
    val prefix = new Path(table).toString
    logParseCache.keySet.removeIf((k: String) =>
      k == prefix || k.startsWith(prefix + "/"))
    footerCache.keySet.removeIf((k: String) =>
      k == prefix || k.startsWith(prefix + "/"))
    ()
  }

  /** Read the table at `asOf` (default: latest snapshot): one `_log`
    * listing, one fold, and a scan built from the snapshot alone
    * ([[scanLive]]) — every live file's size is recorded in the log
    * (files landed by a build that did not record sizes are stat'd
    * once per read), an undeclared table's schema comes from a cached
    * footer, so construction launches no Spark job and makes no
    * file-system call under `data/`, whatever the live-file count. An
    * empty snapshot with a DECLARED schema ([[createTable]], or
    * evolution on an emptied table) reads as an empty frame with the
    * right columns; an empty snapshot with no declaration has no schema
    * to produce one and throws — honest for a data table. */
  def read(spark: SparkSession, table: String,
           asOf: Option[Long] = None): DataFrame =
    readPruned(spark, table, asOf)(_.files)

  /** The read path of [[read]], every skipping reader and the catalog
    * scan: the vacuum watermark check (loud, never a missing-file
    * failure at execution), one snapshot, the files `kept` chooses from
    * it, and [[scanLive]] on that SAME snapshot, so pruning and deletion
    * vectors come from one version whatever commits land meanwhile. No
    * kept file reads as the empty frame under the table's columns. */
  private def readPruned(spark: SparkSession, table: String, asOf: Option[Long])(
      kept: Snapshot => Seq[String]): DataFrame = {
    val wm = earliestReadableVersion(spark, table)
    require(asOf.forall(_ >= wm),
      s"txlog: version ${asOf.get} was vacuumed (earliest readable: $wm)")
    val snap = snapshot(spark, table, asOf)
    require(snap.files.nonEmpty || snap.schema.nonEmpty,
      s"txlog: empty snapshot for $table at $asOf")
    val files = kept(snap)
    if (files.nonEmpty) scanLive(spark, table, snap, files, snap.schema, snap.liveDvs)
    else scanLive(spark, table, snap, snap.files, snap.schema, snap.liveDvs).limit(0)
  }

  /** Latest committed version (loud on an empty table). */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"txlog: no commits in $table")
    vs.last
  }

  /** A declared schema constrains what ANY write may land: every landed
    * column must exist in it at a widenable-into type, else the
    * declared read would silently drop it (new column) or fail at scan
    * time inside the vectorized reader (narrowing). Schema changes go
    * through appendEvolve; every commit path (append, idempotent
    * append, rewrite) funnels through this guard so the loud-early
    * contract holds for all of them. */
  private def requireFitsDeclared(snap: Snapshot, df: DataFrame,
                                  what: String): Unit =
    snap.schema.foreach { d =>
      val byName = d.fields.map(f => f.name -> f).toMap
      df.schema.fields.foreach { f =>
        byName.get(f.name) match {
          case None => throw new IllegalArgumentException(
            s"txlog: $what introduces column '${f.name}' absent from the " +
              "declared schema — evolve the schema first (appendEvolve)")
          case Some(df2) => require(widens(f.dataType, df2.dataType),
            s"txlog: $what lands column '${f.name}' as " +
              s"${f.dataType.catalogString}, which the declared " +
              s"${df2.dataType.catalogString} cannot read")
        }
      }
    }

  /** One rewrite commit: lands `df` and removes `base`'s ENTIRE live
    * set, through the OCC loop; every gate reads `base`. The caller
    * must derive `df` from the same pinned base when the rewrite's
    * content is a function of the table (compaction!) — pinning data
    * and remove-set to one version is what makes a concurrent append
    * safe: either it lands before (and our base includes it) or after
    * (and the OCC loop keeps its files live alongside ours). */
  private def replaceCommitAt(spark: SparkSession, table: String,
                              base: Snapshot, df: DataFrame, tag: String,
                              write: (DataFrame, String) => Unit,
                              txn: Option[(String, Long)] = None,
                              statsCols: Seq[String] = Seq.empty,
                              extraTxns: Seq[(String, Long)] = Seq.empty): Long = {
    // overwrite lands arbitrary NEW rows → gate + complete generated
    // columns; the row-invisible rewrites (compact / clustering)
    // re-land rows that already passed (their ids ride through their
    // own columns — no identity work)
    val overwrite = tag == "overwrite"
    val df0 = if (overwrite) applyGeneratedColumns(table, base, df, tag) else df
    // identity columns under OVERWRITE (r16): the incoming rows are all
    // NEW row images — every existing id is RETIRED (never reused) and
    // the batch mints fresh ids CONTINUING the sequence from the
    // high-water observed at `base` (monotonic, Delta parity;
    // contiguity holds within the batch, gaps across retirals are the
    // documented identity contract). Race-proof without a re-mint loop:
    // an overwrite is serializable — commitRewrite aborts on ANY
    // intervening commit, so landing at base + 1 proves no other
    // writer advanced the sequence since the read.
    val idCols = if (overwrite) base.identities.toSeq.sortBy(_._1) else Seq.empty
    val (df1, idMetas) = if (idCols.isEmpty) (df0, Seq.empty[String])
    else {
      val pinned = df0.localCheckpoint(true) // count + write below
      val mintN = pinned.count()
      val minted = idCols.foldLeft(pinned) { case (acc, (n, (_, st, nx))) =>
        assignIdentityIds(acc, n, nx, st)
      }
      (minted, idCols.map { case (n, (s0, st, nx)) =>
        metaPayload(IdentityKeyPrefix + n, s"$s0|$st|${nx + mintN * st}")
      })
    }
    requireFitsDeclared(base, df1, tag)
    if (overwrite) requireSatisfiesConstraints(table, base, df1, tag)
    val rel = f"data/v${base.version + 1}%08d-$tag-${uniq()}"
    val dataDir = new Path(table, rel)
    // write callbacks that key on columns (clustered/z-order rewrites)
    // receive the PHYSICAL frame and must use physical key names
    write(physicalize(df1, base.schema), dataDir.toString)
    val files = writtenFiles(spark, table, rel)
    commitRewrite(spark, table, base.version, files, base.files, tag, dataDir, txn,
      statsCols.flatMap(c => footerStats(spark, table, files, base.physical(c))),
      extraTxns = extraTxns, metas = idMetas)
  }

  /** One commit that writes `df` and swaps it in for the entire
    * current live set. Shared by [[compact]] (df = current snapshot)
    * and [[overwrite]] (df = a new snapshot, e.g. a MERGE result). */
  private def replaceCommit(spark: SparkSession, table: String,
                            df: DataFrame, tag: String,
                            write: (DataFrame, String) => Unit =
                              (d, p) => d.write.parquet(p)): Long =
    replaceCommitAt(spark, table, latestSnapshot(spark, table, tag), df, tag, write)

  /** The rewrite-side OCC loop (public Delta-protocol conflict rules):
    * claim base+1; on losing, classify the intervening commits —
    * pure appends are compatible with a COMPACT (its compacted base
    * plus the new appends is the correct next snapshot, retry on top),
    * while any remove-carrying commit stales our remove-set, and ANY
    * commit at all invalidates an OVERWRITE (serializable "replace the
    * table as I read it"). On abort the orphaned data files are
    * deleted and [[TxLogConcurrentModificationException]] is thrown —
    * no commit was made. */
  private[graft] def commitRewrite(spark: SparkSession, table: String,
                                   baseVersion: Long, adds: Seq[String],
                                   removes: Seq[String], tag: String,
                                   dataDir: Path,
                                   txn: Option[(String, Long)] = None,
                                   stats: Seq[String] = Seq.empty,
                                   dvs: Seq[String] = Seq.empty,
                                   extraTxns: Seq[(String, Long)] = Seq.empty,
                                   schemaB64: Option[String] = None,
                                   metas: Seq[String] = Seq.empty): Long = {
    // every data-landing commit records its files' row counts and sizes
    // ([[landedLines]]); rewrites funnel here, appends through appendCommit
    val statsAll = stats ++ landedLines(spark, table, adds)
    var v = baseVersion + 1
    var attempts = 0
    while (!tryCommit(spark, table, v, adds, removes, Some(tag), schemaB64,
      txn.toSeq ++ extraTxns, statsAll, dvs, metas)) {
      attempts += 1
      require(attempts < maxCommitAttempts,
        s"txlog: $tag of $table still contended after $attempts attempts")
      val log = listLog(spark, table)
      val latest = log.commits.last
      val intervening = log.commits.filter(_ > baseVersion)
      // the zombie-twin case first (same appId committed this batchId
      // already — e.g. two drivers replaying one micro-batch): resolve
      // as "already committed" rather than as a retryable conflict, so
      // the idempotent entry points return None instead of landing twice
      txn.foreach { case (app, b) =>
        if (replay(spark, table, log, None).landed(app, b)) {
          fs(spark, dataDir).delete(dataDir, true)
          throw new TxLogDuplicateBatchException(
            s"txlog: batch $b of $app already committed to $table")
        }
      }
      val conflicting = intervening.find { cv =>
        // merge is serializable like overwrite: an intervening APPEND may
        // land rows with a matched key that the merge's mask was not
        // derived against — retrying on top would silently duplicate keys
        tag == "overwrite" || tag == "merge" || {
          // a remove stales our remove-set; a dv binding stales any
          // rewrite too (our data was derived without it — landing would
          // silently resurrect the rows it deleted)
          val actions = readLogFile(spark, commitPath(table, cv))
          actions.exists(a => a._1 == "remove" || a._1 == "dv")
        }
      }
      conflicting.foreach { cv =>
        fs(spark, dataDir).delete(dataDir, true) // orphans never land
        throw new TxLogConcurrentModificationException(
          s"txlog: $tag of $table based on version $baseVersion lost to " +
            s"concurrent commit $cv (${commitKind(spark, table, cv)
              .getOrElse("append")}) — re-read and retry the operation")
      }
      v = math.max(v + 1, latest + 1)
    }
    maybeCheckpoint(spark, table, v)
    v
  }

  /** Rewrite the current live set as one compacted commit (adds the
    * new files, removes every old one). Readers pinned to older
    * versions are untouched — data files are immutable. Returns the
    * compaction's version. */
  def compact(spark: SparkSession, table: String,
              numFiles: Int = 1): Long = {
    // pin base and data to ONE version: compacting "the latest" while
    // an append races in would otherwise remove the append's files
    // without carrying its rows (the lost-update the OCC spec plants)
    val base = latestSnapshot(spark, table, "compact")
    replaceCommitAt(spark, table, base,
      read(spark, table, Some(base.version)).repartition(numFiles), "compact",
      (d, p) => d.write.parquet(p))
  }

  /** Compaction with LAYOUT: rewrite the live set range-clustered on
    * `keys` (the OPTIMIZE … ZORDER/CLUSTER BY analog of public lakehouse
    * formats). Same transaction shape as [[compact]] — one commit adding
    * the clustered files and removing every old one, pinned readers
    * untouched — but the new live set is the PRUNABLE layout of
    * [[FileFormats.writeRangeClustered]]: `files` output files with
    * pairwise-disjoint key ranges, rows sorted within each, so
    * subsequent point/range reads on `keys` skip whole files via
    * footer stats instead of scanning the accumulated append soup.
    * This is the maintenance step that makes a long-lived append table
    * SERVABLE at 100 TB: appends land in arrival order (no layout),
    * and a periodic clustered rewrite restores seek locality without
    * blocking readers at any version. */
  def compactClustered(spark: SparkSession, table: String,
                       files: Int, keys: String*): Long = {
    require(keys.nonEmpty, "txlog: compactClustered needs at least one key")
    val base = latestSnapshot(spark, table, "compact") // pinned with the data (see compact)
    // the write callback sees the PHYSICAL frame: resolve key names
    val pKeys = keys.map(base.physical)
    replaceCommitAt(spark, table, base, read(spark, table, Some(base.version)), "compact",
      // writeRangeClustered's overwrite mode is irrelevant here (fresh
      // per-version dir) but harmless; reusing it keeps the layout
      // contract (disjoint file ranges, ClusteredWriteSpec) in one place.
      write = (d, p) => FileFormats.writeRangeClustered(d, p, files, pKeys: _*))
  }

  // ---------------------------------------------------------------------
  // Log-native DATA SKIPPING (the public Delta/Iceberg file-stats idea):
  // per-file min/max of a chosen column ride INSIDE the commit as
  // `stats` actions, so a range read prunes its file list from the LOG
  // ALONE — no parquet footer is ever opened for a skipped file. At
  // 100 TB this is the difference between "list 100k files and open
  // every footer" and "read one small log and scan 2 files".
  // ---------------------------------------------------------------------

  /** A data or sidecar file's parquet footer, with the size and
    * modification time of the stat that opened it. */
  private final case class FileFooter(
      md: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      size: Long, mtime: Long) {
    def rows: Long = {
      import scala.jdk.CollectionConverters._
      md.getBlocks.asScala.map(_.getRowCount).sum
    }
  }

  /** Parquet footers, cached by absolute path. Data files are WRITE-ONCE
    * (every commit attempt lands in a fresh `data/vNNN-<uniq>` dir; an
    * aborted claim deletes its dir and re-mints a NEW path), so a footer
    * read once can be reused for the file's whole life — the r16 measure
    * pass found each commit opening the same footers up to 3× (per stats
    * column + row counts + bloom sizing), and a 64-file clustering commit
    * paying ~190 redundant driver-side opens (guide §1.2: per-task work,
    * after the algorithm). The write path opens every landed file's
    * footer (row counts), so each entry also carries the size and
    * modification time the commit records ([[landedLines]]), and an
    * undeclared scan reads its schema from here ([[inferredSchema]]).
    * Bounded: footers are small (KBs), entries are dropped wholesale past
    * a size far above any pack's file count. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileFooter]()

  private def footerOf(spark: SparkSession, p: Path): FileFooter = {
    val key = p.toString
    val hit = footerCache.get(key)
    if (hit != null) return hit
    val st = fs(spark, p).getFileStatus(p)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, spark.sparkContext.hadoopConfiguration))
    val footer = try FileFooter(r.getFooter, st.getLen, st.getModificationTime)
    finally r.close()
    if (footerCache.size() > 16384) footerCache.clear()
    footerCache.put(key, footer)
    footer
  }

  /** Warm [[footerOf]] for a batch of files in parallel — a clustering
    * commit records stats over 64 files, and 64 sequential ~2-4 ms
    * driver-side footer opens add up; the cache itself stays the single
    * source of truth (a prefetch failure surfaces on the sequential
    * read path with its real exception). */
  private def prefetchFooters(spark: SparkSession, table: String,
                              rels: Seq[String]): Unit =
    if (rels.count(r => !footerCache.containsKey(
      new Path(table, r).toString)) > 4) {
      import scala.jdk.CollectionConverters._
      rels.asJava.parallelStream.forEach { rel =>
        try { footerOf(spark, new Path(table, rel)); () }
        catch { case _: Throwable => () }
      }
    }

  /** Per-file min/max of the column physically named `phys` for the
    * given relative paths, read from the parquet footers ONCE at write
    * time (each payload: `path|col|min|max` — the stats-line format).
    * Payloads are keyed by the PHYSICAL column name: a later rename
    * changes only the logical name, so every previously recorded stat
    * stays valid and addressable (readers resolve logical → physical). */
  private def footerStats(spark: SparkSession, table: String,
                          rels: Seq[String], phys: String): Seq[String] = {
    require(!phys.contains('|') && !phys.contains('"') && !phys.contains('\\'),
      s"txlog: stats column name unsupported by the line format: $phys")
    import scala.jdk.CollectionConverters._
    prefetchFooters(spark, table, rels)
    rels.flatMap { rel =>
      val footer = footerOf(spark, new Path(table, rel)).md
      locally {
        val raw = footer.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == phys).flatMap { c =>
            val st = c.getStatistics
            // an empty row group (e.g. the part file of an all-rows-deleted
            // rewrite) carries no values: record nothing for it
            if (st == null || st.genericGetMin == null || st.genericGetMax == null) None
            else Some((st.genericGetMin, st.genericGetMax))
          }
        }
        if (raw.isEmpty) None
        else raw.head._1 match {
          case _: Number =>
            val rr = raw.map { case (mn, mx) =>
              (mn.asInstanceOf[Number].longValue, mx.asInstanceOf[Number].longValue)
            }
            Some(s"$rel|$phys|${rr.map(_._1).min}|${rr.map(_._2).max}")
          case _: org.apache.parquet.io.api.Binary =>
            // STRING bounds: kept as raw UTF-8 byte arrays compared
            // unsigned-lexicographically — exactly parquet's binary sort
            // order AND Spark's UTF8String comparison, so the skip can
            // never disagree with the residual filter. Base64 in the
            // payload (pipes/quotes in data must not break the format).
            val ord = UnsignedBytes
            val rr = raw.map { case (mn, mx) =>
              (mn.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                mx.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
            }
            val lo = rr.map(_._1).min(ord)
            val hi = rr.map(_._2).max(ord)
            val enc = java.util.Base64.getEncoder
            Some(s"$rel|$phys|${enc.encodeToString(lo)}|${enc.encodeToString(hi)}|s")
          case other => throw new IllegalArgumentException(
            s"txlog: unsupported stats type ${other.getClass.getName} for '$phys'")
        }
      }
    }
  }

  /** Unsigned-lexicographic byte-array order — parquet's BINARY stats
    * order and Spark's UTF8String order, used for string skipping. */
  private object UnsignedBytes extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }

  /** [[append]] that also records per-file min/max of `statsCol` in the
    * commit. The caller controls file layout (e.g.
    * `df.repartitionByRange(n, col)` makes the recorded ranges disjoint
    * and the skipping maximally selective). */
  def appendWithStats(spark: SparkSession, table: String, df: DataFrame,
                      statsCols: String*): Long = {
    require(statsCols.nonEmpty, "txlog: appendWithStats needs at least one column")
    appendCommit(spark, table, df, "append", None, statsCols).get
  }

  /** [[compactClustered]] that re-records stats for the FIRST key —
    * after the rewrite the new files' ranges are pairwise disjoint
    * ([[FileFormats.writeRangeClustered]]), the layout where log-native
    * skipping prunes to ~1 file per point lookup. */
  def compactClusteredWithStats(spark: SparkSession, table: String,
                                files: Int, keys: String*): Long = {
    require(keys.nonEmpty, "txlog: compactClustered needs at least one key")
    val base = latestSnapshot(spark, table, "compact")
    val pKeys = keys.map(base.physical)
    replaceCommitAt(spark, table, base, read(spark, table, Some(base.version)), "compact",
      (d, p) => FileFormats.writeRangeClustered(d, p, files, pKeys: _*),
      statsCols = keys)
  }

  /** OPTIMIZE … ZORDER BY (colA, colB): rewrite the live set clustered
    * on the Morton interleaving of TWO dimensions
    * ([[FileFormats.writeZOrdered]]) and record per-file min/max stats
    * for BOTH in the commit. The lexicographic layout of
    * [[compactClusteredWithStats]] prunes perfectly on the leading key
    * and not at all on the second alone; after a Z-order rewrite each
    * file covers ~√files of EACH axis, so an AND-of-ranges point read
    * ([[readWhereAll]]) prunes on both — the two-axis lookup a
    * (tenant, time) or (doc, shard) access pattern needs at 100 TB.
    * Same transaction shape as [[compact]]; both columns must be
    * bigint-valued and pre-normalized into [0, 2^31). */
  def optimizeZOrder(spark: SparkSession, table: String, files: Int,
                     colA: String, colB: String): Long =
    optimizeCurve(spark, table, files, colA, colB,
      FileFormats.writeZOrdered)

  /** OPTIMIZE … HILBERT BY (colA, colB): [[optimizeZOrder]] on the
    * Hilbert curve ([[FileFormats.writeHilbertClustered]]) — identical
    * transaction/normalization/stats contract, tighter per-file boxes
    * (each file covers one CONNECTED plane region; the Z-curve jumps at
    * quadrant seams and widens its files' min/max there). Prefer it for
    * new two-axis layouts; `optimizeZOrder` stays for parity with
    * Z-ordered tables already on disk. */
  def optimizeHilbert(spark: SparkSession, table: String, files: Int,
                      colA: String, colB: String): Long =
    optimizeCurve(spark, table, files, colA, colB,
      FileFormats.writeHilbertClustered)

  private def optimizeCurve(spark: SparkSession, table: String, files: Int,
                            colA: String, colB: String,
                            write: (DataFrame, String, Int, String, String) => Unit): Long = {
    import org.apache.spark.sql.functions.{max, min}
    val base = latestSnapshot(spark, table, "compact")
    val snap = read(spark, table, Some(base.version))
    // NORMALIZE both axes into the same 20-bit domain before
    // interleaving: raw values of very different magnitudes (a 14-bit
    // key against an 11-bit one) would make every significant
    // interleaved bit come from the wider axis, silently degenerating
    // the curve to lexicographic order. Rescaling by each axis's own
    // min/max makes the Morton cells square in RANK space regardless of
    // units — the same reason public z-order implementations interleave
    // range-partition IDs, not raw values. One tiny agg job computes
    // the bounds; (v - min) * 2^20 stays far inside int64.
    val r = snap.agg(min(colA), max(colA), min(colB), max(colB)).head()
    require(!r.anyNull, s"txlog: z-order columns carry nulls ($colA, $colB)")
    def asLong(i: Int) = r.getAs[Number](i).longValue
    val (aMin, aMax) = (asLong(0), asLong(1))
    val (bMin, bMax) = (asLong(2), asLong(3))
    val bits = 1L << 20
    def norm(c: String, lo: Long, hi: Long): String =
      s"(((`$c`) - ${lo}L) * ${bits}L) div ${math.max(hi - lo, 0L) + 1}L"
    // the write callback sees the PHYSICAL frame: z-expressions must
    // reference physical names
    val (pA, pB) = (base.physical(colA), base.physical(colB))
    replaceCommitAt(spark, table, base, snap, "compact",
      (d, p) => write(d, p, files,
        norm(pA, aMin, aMax), norm(pB, bMin, bMax)),
      statsCols = Seq(colA, colB))
  }

  /** INCREMENTAL small-file compaction (the public Delta OPTIMIZE
    * bin-packing idea): rewrite ONLY the live files smaller than
    * `targetBytes` into ~target-sized packed files, leaving every
    * already-large file untouched on disk. This is the maintenance op a
    * streaming-ingested 100 TB table actually needs — micro-batch
    * commits leave thousands of KB-sized files per day, and a FULL
    * compact ([[compact]]) re-writes the accumulated terabytes just to
    * fix them; bin-packing touches only the small tail, so its cost
    * tracks the ingest rate, not the table size. Tagged "compact": the
    * live ROWS are unchanged (small files' deletion vectors are
    * materialized into the packed output and die with their files), so
    * the change feed skips it and MatView folds stay incremental across
    * it. Optional `statsCols` re-record per-file stats for the packed
    * output. Returns the committed version, or the current version
    * unchanged when fewer than two files are small. */
  def optimizeBinPack(spark: SparkSession, table: String, targetBytes: Long,
                      statsCols: String*): Long = {
    require(targetBytes > 0, "txlog: targetBytes must be positive")
    val snap = latestSnapshot(spark, table, "compact")
    val base = snap.version
    val live = snap.files
    val sizes = live.zip(fileSizes(spark, table, snap, live)).toMap
    val small = live.filter(sizes(_) < targetBytes)
    if (small.size < 2) return base // nothing worth packing
    val numOut = math.max(1L,
      (small.map(sizes).sum + targetBytes - 1) / targetBytes).toInt
    // packing N small files into >= N outputs consolidates nothing —
    // committing it anyway would rewrite the same bytes forever (and
    // under StreamingOptimize.maintain each pointless commit retriggers
    // the next, an infinite rewrite loop). Only rewrite when files merge.
    if (small.size <= numOut) return base
    val packed = scanLive(spark, table, snap, small, snap.schema, snap.liveDvs)
    val rel = f"data/v${base + 1}%08d-compact-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(packed, snap.schema)
      .repartition(numOut).write.parquet(dataDir.toString)
    val written = writtenFiles(spark, table, rel)
    commitRewrite(spark, table, base, written, small, "compact", dataDir,
      stats = statsCols.flatMap(c => footerStats(spark, table, written, snap.physical(c))))
  }

  /** Live files' recorded (min, max) for `statsCol` as of `asOf` —
    * checkpoint + suffix replay (last payload per file wins), then
    * intersected with the live set. Files with no recorded stats are
    * simply absent (readers must treat absence as "cannot skip"). */
  def statsAt(spark: SparkSession, table: String, statsCol: String,
              asOf: Option[Long] = None): Map[String, (Long, Long)] =
    statsIn(snapshot(spark, table, asOf), statsCol)

  /** [[statsAt]] over a snapshot already in hand. */
  private def statsIn(snap: Snapshot, statsCol: String): Map[String, (Long, Long)] = {
    // payloads are keyed by PHYSICAL name (rename-stable) — resolve
    val phys = snap.physical(statsCol)
    snap.stats.flatMap { payload =>
      payload.split('|') match {
        case Array(p, c, mn, mx) if c == phys && snap.liveSet.contains(p) =>
          Some(p -> ((mn.toLong, mx.toLong)))
        case _ => None
      }
    }.toMap
  }

  /** [[statsIn]] for STRING-bounded columns: recorded UTF-8 byte bounds
    * per live file. */
  private def stringStatsIn(snap: Snapshot, statsCol: String
                           ): Map[String, (Array[Byte], Array[Byte])] = {
    val phys = snap.physical(statsCol)
    val dec = java.util.Base64.getDecoder
    snap.stats.flatMap { payload =>
      payload.split('|') match {
        case Array(p, c, mn, mx, "s") if c == phys && snap.liveSet.contains(p) =>
          Some(p -> ((dec.decode(mn), dec.decode(mx))))
        case _ => None
      }
    }.toMap
  }

  // PRUNING RUNGS: functions of a snapshot in hand, each returning the
  // live files it cannot rule out, in first-added order; absence of a
  // record never skips. Readers pass rungs to [[readPruned]].

  /** One rung over the snapshot at `asOf`: (kept, live count). */
  private def pruned(spark: SparkSession, table: String, asOf: Option[Long])(
      rung: Snapshot => Seq[String]): (Seq[String], Int) = {
    val snap = snapshot(spark, table, asOf)
    (rung(snap), snap.files.size)
  }

  /** Range rung: the live files whose recorded [min, max] intersects
    * EVERY `(col, lo, hi)` — one predicate's miss skips the file (the
    * AND-of-ranges pruning a Z-ordered layout is built for). */
  private def keepRanges(snap: Snapshot,
                         preds: Seq[(String, Long, Long)]): Seq[String] = {
    val statsByCol = preds.map(_._1).distinct.map(c => c -> statsIn(snap, c)).toMap
    snap.files.filter { p =>
      preds.forall { case (c, lo, hi) =>
        statsByCol(c).get(p).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
  }

  /** String rung: the live files whose recorded UTF-8 byte bounds for
    * `col` meet `[lo, hi]` (`[lo, hi)` when `hiExclusive`; no `hi` is
    * unbounded). Bounds compare in UTF-8 byte order (= parquet's BINARY
    * stats order = Spark's UTF8String order, so the skip can never
    * disagree with the residual filter). */
  private def keepBytes(snap: Snapshot, col: String, lo: Array[Byte],
                        hi: Option[Array[Byte]], hiExclusive: Boolean): Seq[String] = {
    val stats = stringStatsIn(snap, col)
    snap.files.filter { p =>
      stats.get(p).forall { case (mn, mx) =>
        UnsignedBytes.compare(mx, lo) >= 0 && hi.forall { h =>
          val c = UnsignedBytes.compare(mn, h)
          if (hiExclusive) c < 0 else c <= 0
        }
      }
    }
  }

  /** [[keepBytes]] for the string range `[lo, hi]`. */
  private def keepString(snap: Snapshot, col: String, lo: String,
                         hi: String): Seq[String] =
    keepBytes(snap, col, lo.getBytes("UTF-8"), Some(hi.getBytes("UTF-8")),
      hiExclusive = false)

  /** The live files a string `[lo, hi]` range read must scan
    * ([[keepString]]): (kept, live count). */
  private[graft] def pruneFilesString(spark: SparkSession, table: String,
                                      statsCol: String, lo: String, hi: String,
                                      asOf: Option[Long] = None
                                     ): (Seq[String], Int) =
    pruned(spark, table, asOf)(keepString(_, statsCol, lo, hi))

  /** String-range read with log-native file skipping — [[readWhere]]
    * for a string column (the `WHERE lang BETWEEN 'de' AND 'fr'` shape
    * a language- or tenant-partitioned 100 TB corpus serves daily).
    * Deletion vectors anti-apply on the kept files as in [[read]]. */
  def readWhereString(spark: SparkSession, table: String, statsCol: String,
                      lo: String, hi: String,
                      asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    readPruned(spark, table, asOf)(keepString(_, statsCol, lo, hi))
      .filter(col(statsCol).between(lo, hi))
  }

  /** The live files a conjunction of `[lo, hi]` range predicates must
    * scan ([[keepRanges]]): (kept, live count). Exposed for the spec's
    * pruning assertions. */
  private[graft] def pruneFilesMulti(spark: SparkSession, table: String,
                                     preds: Seq[(String, Long, Long)],
                                     asOf: Option[Long] = None): (Seq[String], Int) = {
    require(preds.nonEmpty, "txlog: no pruning predicates")
    pruned(spark, table, asOf)(keepRanges(_, preds))
  }

  private[graft] def pruneFiles(spark: SparkSession, table: String,
                                statsCol: String, lo: Long, hi: Long,
                                asOf: Option[Long] = None): (Seq[String], Int) =
    pruneFilesMulti(spark, table, Seq((statsCol, lo, hi)), asOf)

  /** Range read with log-native file skipping over a CONJUNCTION of
    * range predicates: scans ONLY the live files every recorded range
    * intersects (plus any file without stats for a column), then
    * applies the exact residual filter. Equal to
    * `read(...).filter(AND of betweens)` by construction — the stats
    * decide file SKIPPING, never row membership. Deletion vectors are
    * anti-applied on the kept files exactly as in [[read]]. */
  def readWhereAll(spark: SparkSession, table: String,
                   preds: Seq[(String, Long, Long)],
                   asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(preds.nonEmpty, "txlog: no pruning predicates")
    preds.foldLeft(readPruned(spark, table, asOf)(keepRanges(_, preds))) {
      case (df, (c, lo, hi)) => df.filter(col(c).between(lo, hi))
    }
  }

  /** Single-predicate [[readWhereAll]]. */
  def readWhere(spark: SparkSession, table: String, statsCol: String,
                lo: Long, hi: Long, asOf: Option[Long] = None): DataFrame =
    readWhereAll(spark, table, Seq((statsCol, lo, hi)), asOf)

  // ---------------------------------------------------------------------
  // METADATA-ONLY AGGREGATES (the public Delta "numRecords in the log"
  // idea): every commit that lands data files records each file's row
  // count in the stats channel under the reserved `_g_rows` key, so
  // `SELECT COUNT(*)` on a 100 TB table is a driver-side log fold —
  // zero file opens, zero tasks — minus the deletion-vector mask counts
  // (a scan of the TINY dv sidecars, never the data). MIN/MAX serve
  // from recorded per-file bounds for every clean covered file and
  // scan ONLY the files a mask touches or stats never covered — the
  // aggregate's cost tracks the mask, not the table.
  // ---------------------------------------------------------------------

  private val RowsStatsCol = "_g_rows"

  /** The reserved stats key of a file's SIZE record, payload
    * `file|_g_size|<bytes>|<modification ms>`: what a scan's file index
    * needs ([[scanFiles]]), so reads never stat what the log landed.
    * Recorded for every data file a commit lands and for every
    * deletion-vector sidecar file; checkpoints keep the records of live
    * files and live sidecars ([[Snapshot.liveStats]]). */
  private val SizeStatsCol = "_g_size"

  private def sizeLine(rel: String, footer: FileFooter): String =
    s"$rel|$SizeStatsCol|${footer.size}|${footer.mtime}"

  /** The row-count and size lines of freshly written data `files` —
    * recorded by every data-landing commit path, from the footers the
    * write boundary already opens (metadata read; no new I/O). */
  private def landedLines(spark: SparkSession, table: String,
                          files: Seq[String]): Seq[String] = {
    prefetchFooters(spark, table, files)
    files.flatMap { f =>
      val footer = footerOf(spark, new Path(table, f))
      Seq(s"$f|$RowsStatsCol|${footer.rows}|${footer.rows}", sizeLine(f, footer))
    }
  }

  /** file → (size, modification time) of the [[SizeStatsCol]] lines in
    * `stats` (the last line per file wins). */
  private def recordedSizes(stats: Seq[String]): Map[String, (Long, Long)] =
    stats.flatMap(_.split('|') match {
      case Array(f, SizeStatsCol, len, mtime) => Some(f -> ((len.toLong, mtime.toLong)))
      case _ => None
    }).toMap

  /** The directory part of a relative path (a sidecar file's dv dir). */
  private def parentOf(rel: String): String =
    rel.substring(0, math.max(0, rel.lastIndexOf('/')))

  /** Rows each live masked file's CURRENT deletion vector hides —
    * counted per (file → its own bound dir), never across dirs (an old
    * dir may still hold a superseded copy of another file's positions). */
  private def dvMaskedCounts(spark: SparkSession, table: String,
                             snap: Snapshot): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    snap.liveDvs.groupBy(_._2).flatMap { case (dir, bound) =>
      val names = bound.keys.map(f => new Path(f).getName).toSeq
      val got = dvScan(spark, table, snap, Seq(dir))
        .filter(col("file").isin(names: _*))
        .groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      bound.keys.map(f => f -> got.getOrElse(new Path(f).getName, 0L))
    }
  }

  /** Metadata-only GROUP BY a recorded partition column: per-value
    * EXACT row counts (recorded footer counts minus dv mask counts) —
    * None unless EVERY live file records both its partition value and
    * its row count (partial coverage cannot be grouped exactly; the
    * caller falls back to the scan). The `SELECT day, COUNT(*) …
    * GROUP BY day` a 100 TB date-partitioned table answers with zero
    * tasks. */
  private[graft] def partitionedCounts(spark: SparkSession, table: String,
                                       partCol: String, asOf: Option[Long]
                                      ): Option[Map[String, Long]] = {
    val snap = snapshot(spark, table, asOf)
    val live = snap.files
    if (live.isEmpty) return Some(Map.empty)
    val pv = partitionValuesIn(snap, partCol)
    if (!live.forall(pv.contains)) return None
    val rows = statsIn(snap, RowsStatsCol)
    if (!live.forall(rows.contains)) return None
    val masked = dvMaskedCounts(spark, table, snap)
    Some(live.groupBy(pv).map { case (v, fs) =>
      v -> fs.map(f => rows(f)._1 - masked.getOrElse(f, 0L)).sum
    })
  }

  /** [[partitionedCounts]]'s MIN/MAX sibling for an integral stats
    * column: per-partition-value bounds folded from the recorded
    * per-file bounds — None unless every live file records both, and
    * None whenever ANY deletion vector is bound (a masked file's
    * recorded bound may belong to a deleted row; unlike the global
    * [[minMaxSkipping]] there is no per-group dirty-scan fallback
    * here, so the caller takes the honest full plan). */
  private[graft] def partitionedMinMax(spark: SparkSession, table: String,
                                       partCol: String, statsCol: String,
                                       asOf: Option[Long]
                                      ): Option[Map[String, (Long, Long)]] = {
    val snap = snapshot(spark, table, asOf)
    val live = snap.files
    if (live.isEmpty) return Some(Map.empty)
    if (snap.liveDvs.nonEmpty) return None
    val pv = partitionValuesIn(snap, partCol)
    if (!live.forall(pv.contains)) return None
    val st = statsIn(snap, statsCol)
    if (!live.forall(st.contains)) return None
    Some(live.groupBy(pv).map { case (v, fs) =>
      v -> ((fs.map(st(_)._1).min, fs.map(st(_)._2).max))
    })
  }

  /** Exact COUNT(*) with provenance: (count, files counted from parquet
    * footers because the log carried no record — 0 on tables written by
    * this engine — , files whose dv mask was subtracted). */
  def countRowsDetail(spark: SparkSession, table: String,
                      asOf: Option[Long] = None): (Long, Int, Int) =
    countRowsIn(spark, table, snapshot(spark, table, asOf))

  /** [[countRowsDetail]] over a snapshot already in hand. */
  private[graft] def countRowsIn(spark: SparkSession, table: String,
                                 snap: Snapshot): (Long, Int, Int) = {
    val recorded = statsIn(snap, RowsStatsCol)
    val missing = snap.files.filterNot(recorded.contains)
    val fromLog = recorded.values.map(_._1).sum
    prefetchFooters(spark, table, missing)
    val fromFooter = missing.map(f => footerOf(spark, new Path(table, f)).rows).sum
    val masked = dvMaskedCounts(spark, table, snap)
    (fromLog + fromFooter - masked.values.sum, missing.size, masked.size)
  }

  /** Exact row count served from the log alone (plus the dv sidecars'
    * mask counts; parquet footers only for files some FOREIGN writer
    * landed without a count record). Never scans a data row. */
  def countRows(spark: SparkSession, table: String,
                asOf: Option[Long] = None): Long =
    countRowsDetail(spark, table, asOf)._1

  /** Exact (MIN, MAX, scanned-file-count) of integral `statsCol`: log
    * bounds serve every live file with recorded stats and no deletion
    * vector; ONLY the dirty remainder (masked, or stats never recorded)
    * is scanned — a masked file's recorded bound may belong to a
    * deleted row, so trusting it would be wrong, and scanning just
    * those files is the honest minimum. Loud on an empty table. */
  def minMaxSkipping(spark: SparkSession, table: String, statsCol: String,
                     asOf: Option[Long] = None): (Long, Long, Int) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val snap = snapshot(spark, table, asOf)
    val live = snap.files
    val stats = statsIn(snap, statsCol)
    val dvs = snap.liveDvs
    val (clean, dirty) = live.partition(f =>
      stats.contains(f) && !dvs.contains(f))
    val cleanBounds = clean.map(stats)
    val scanned =
      if (dirty.isEmpty) None
      else {
        val r = scanLive(spark, table, snap, dirty, snap.schema,
          dvs.filter(kv => dirty.contains(kv._1)))
          .agg(min(col(statsCol)), max(col(statsCol))).head()
        if (r.isNullAt(0)) None // every dirty row was masked out
        else Some((r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      }
    val all = cleanBounds ++ scanned
    require(all.nonEmpty,
      s"txlog: MIN/MAX of '$statsCol' over zero live rows in $table")
    (all.map(_._1).min, all.map(_._2).max, dirty.size)
  }

  // ---------------------------------------------------------------------
  // LOG-NATIVE PER-FILE BLOOM FILTERS (the public Delta bloom-filter
  // index idea): min/max stats prune range reads on CLUSTERED columns,
  // but a point lookup on a high-cardinality column the layout is NOT
  // sorted by (needle-in-haystack: one doc id, one user hash, one URL
  // in a 100 TB table) intersects every file's [min,max] and scans
  // everything. appendWithBloom records one bloom filter PER DATA FILE
  // over the column's values — the filters live in a sidecar parquet
  // next to the data (like deletion vectors; far too big for log
  // lines), referenced from the stats channel (payload
  // `file|physCol|sidecarRel|numBits|bf`, checkpoint-replayed and
  // rename-stable like every stats line) — and an equality read skips
  // every file whose filter excludes the probe: no false negatives
  // (bloom contract), so the skip can never drop a real row; false
  // positives only cost a wasted file scan. Files without a recorded
  // filter are conservatively kept; rewrites (compaction, clustering)
  // drop their inputs' filters with the files. The filter bytes and
  // probe hashing are Spark's OWN runtime-filter machinery
  // (BloomFilterAggregate / spark-sketch, probed over xxhash64), so
  // executor build and driver probe can never disagree on format.
  // ---------------------------------------------------------------------

  private val BloomSuffix = "bf"

  /** [[append]] that additionally records a per-file bloom filter over
    * `bloomCol` (plus optional min/max `statsCols`, as in
    * [[appendWithStats]]). Sizing: one filter per file, all sized for
    * the batch's LARGEST file (footer row counts — no data scan) at
    * `fpp`; build is ONE extra pass over the just-written batch (a
    * file-grouped aggregate — no shuffle wider than the batch), riding
    * inside [[appendCommit]]'s claim loop so a lost claim rebuilds
    * data AND filters against the re-minted frame. */
  def appendWithBloom(spark: SparkSession, table: String, df: DataFrame,
                      bloomCol: String, statsCols: String*): Long =
    appendWithBloomFpp(spark, table, df, bloomCol, 0.01, statsCols: _*)

  /** [[appendWithBloom]] with an explicit false-positive rate. */
  def appendWithBloomFpp(spark: SparkSession, table: String, df: DataFrame,
                         bloomCol: String, fpp: Double,
                         statsCols: String*): Long = {
    require(fpp > 0 && fpp < 0.5, s"txlog: bloom fpp out of range: $fpp")
    appendCommit(spark, table, df, "append", None, statsCols,
      writeBatch = Some { (dfW, rel, snap) =>
        require(dfW.schema.fieldNames.contains(bloomCol),
          s"txlog: bloom column '$bloomCol' is not in the appended schema " +
            s"(${dfW.schema.fieldNames.mkString(", ")})")
        physicalize(dfW, snap.schema)
          .write.parquet(new Path(table, rel).toString)
        val files = writtenFiles(spark, table, rel)
        (files, requiredStats(spark, table, snap, files, statsCols) ++
          buildBloomLines(spark, table, files, snap.physical(bloomCol), fpp,
            s"$rel-bloom"))
      }).get
  }

  /** Build the per-file bloom sidecar `sidecarRel` over the column
    * physically named `phys` for `files` (a freshly written batch, or
    * [[rebloom]]'s unfiltered live files); returns their stats-channel
    * lines. */
  private def buildBloomLines(spark: SparkSession, table: String,
                              files: Seq[String], phys: String, fpp: Double,
                              sidecarRel: String): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    require(!phys.contains('|') && !phys.contains('"') && !phys.contains('\\'),
      s"txlog: bloom column name unsupported by the line format: $phys")
    // size every filter for the batch's largest file, from footer row
    // counts alone (metadata read, same as footerStats)
    val footers = files.map(f => f -> footerOf(spark, new Path(table, f)))
    val maxRows = footers.map(_._2.rows).max.max(1L)
    // optimal bits for n items at fpp: -n·ln(p)/ln(2)²; clamp to keep a
    // single sidecar row bounded (16 MiB ≈ 100M items at 1%)
    val numBits = math.min(1L << 27, math.max(64L,
      math.ceil(-maxRows * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions.{col, lit, xxhash64, call_function}
    // the files, physically named, under the schema they were written
    // with (a declared table's physical one)
    val scanned = scanFiles(spark, table, files, None,
      footers.map { case (f, ft) => f -> ((ft.size, ft.mtime)) }.toMap)
    require(!scanned.columns.contains("_g_bloom_file"),
      "txlog: table schema collides with the bloom build's internal column")
    scanned
      .withColumn("_g_bloom_file", col("_metadata.file_name"))
      .groupBy("_g_bloom_file")
      .agg(call_function("seen_filter_agg",
        xxhash64(col(phys)), lit(maxRows), lit(numBits)).as("filter"))
      // keyed by file NAME (globally unique part-file UUIDs) — the dv
      // sidecar convention, which also keeps probes resolvable after a
      // shallow clone rebases the log's file keys to absolute paths
      .select(col("_g_bloom_file").as("file"), col("filter"))
      .coalesce(1) // one row per file: driver-side metadata scale
      .write.parquet(new Path(table, sidecarRel).toString)
    files.map(f => s"$f|$phys|$sidecarRel|$numBits|$BloomSuffix")
  }

  /** REBLOOM — restore needle skipping after rewrites: build filters
    * for every live file MISSING one on `bloomCol` (compaction and
    * clustering drop their inputs' filters with the files; their packed
    * outputs land unbloomed) and commit the references metadata-only.
    * Incremental: already-filtered files are untouched, so the cost
    * tracks the rewritten tail, not the table — run it after OPTIMIZE
    * the way Delta re-indexes. Files are immutable, so a filter built
    * here can never go stale; the commit rides [[commitRewrite]] with
    * the row-invisible "compact" classification (the change feed and
    * view maintenance skip it) and the sidecar is cleaned on an
    * aborted claim like any orphan. Returns the committed version, or
    * the current one when nothing is missing. */
  def rebloom(spark: SparkSession, table: String, bloomCol: String,
              fpp: Double = 0.01): Long = {
    require(fpp > 0 && fpp < 0.5, s"txlog: bloom fpp out of range: $fpp")
    val snap = latestSnapshot(spark, table, "rebloom")
    val base = snap.version
    val existing = bloomsIn(snap, bloomCol)
    val missing = snap.files.filterNot(existing.contains)
    if (missing.isEmpty) return base
    val sidecarRel = f"data/v${base + 1}%08d-rebloom-${uniq()}"
    val lines = buildBloomLines(spark, table, missing, snap.physical(bloomCol),
      fpp, sidecarRel)
    commitRewrite(spark, table, base, Seq.empty, Seq.empty, "compact",
      new Path(table, sidecarRel), stats = lines)
  }

  /** Rebuild per-file MIN/MAX STATS for every live file missing them —
    * [[rebloom]]'s twin for the min/max channel: rewrites (plain
    * [[compact]], [[compactClustered]] without the WithStats flavor,
    * CoW delete, overwrite) drop their inputs' recorded stats with the
    * files and land their outputs unrecorded, so a table's skipping
    * contract silently degrades to full scans after routine
    * maintenance. `restat` re-records bounds for exactly the missing
    * tail as ONE row-invisible metadata commit — and unlike rebloom it
    * reads ONLY parquet FOOTERS (the bounds are already there; no data
    * pass at any table size): cost = one footer open per unrecorded
    * live file. Already-covered files are untouched (their recorded
    * bounds may be tighter than a re-derivation — never clobbered);
    * commit-free no-op when nothing is missing. Numeric and string
    * columns both supported (the two payload channels
    * [[footerStats]] emits). */
  def restat(spark: SparkSession, table: String, statsCols: String*): Long = {
    require(statsCols.nonEmpty, "txlog: restat needs at least one column")
    val snap = latestSnapshot(spark, table, "restat")
    val base = snap.version
    val lines = statsCols.flatMap { c =>
      val phys = snap.physical(c)
      val covered = snap.stats.flatMap(_.split('|') match {
        case Array(f, pc, _, _) if pc == phys => Some(f)
        case Array(f, pc, _, _, "s") if pc == phys => Some(f)
        case _ => None // partition values / blooms serve other rungs
      }).toSet
      footerStats(spark, table, snap.files.filterNot(covered), phys)
    }
    if (lines.isEmpty) return base
    commitRewrite(spark, table, base, Seq.empty, Seq.empty, "compact",
      new Path(table, f"data/v${base + 1}%08d-restat-${uniq()}"),
      stats = lines)
  }

  /** Live files' bloom sidecar references for `bloomCol` as of `asOf`
    * (file → sidecar dir; empty when the column was never bloomed —
    * readers treat absence as "cannot skip"). */
  private def bloomsIn(snap: Snapshot, bloomCol: String): Map[String, String] = {
    val phys = snap.physical(bloomCol)
    snap.stats.flatMap { payload =>
      payload.split('|') match {
        case Array(p, c, sidecar, _, `BloomSuffix`)
          if c == phys && snap.liveSet.contains(p) => Some(p -> sidecar)
        case _ => None
      }
    }.toMap
  }

  /** Bloom sidecar dirs referenced by the snapshot's live bloom lines —
    * the vacuum protection set (mirror of the dv-dir rule). */
  private def bloomDirsIn(snap: Snapshot): Set[String] = {
    snap.stats.flatMap { payload =>
      payload.split('|') match {
        case Array(p, _, sidecar, _, `BloomSuffix`) if snap.liveSet.contains(p) =>
          Some(sidecar)
        case _ => None
      }
    }.toSet
  }

  /** The probe hash: `c` as the column's stored type `t`, through the
    * ENGINE's own xxhash64 the build uses, so probe and filter agree. */
  private def bloomHash(c: Column, t: DataType): Column =
    org.apache.spark.sql.functions.xxhash64(c.cast(t))

  /** [[bloomHash]] of each of `values` as `bloomCol`'s type in `snap`:
    * one constant projection over a local relation, however many. */
  private def probeHashes(spark: SparkSession, table: String, snap: Snapshot,
                          bloomCol: String, values: Seq[Any]): Seq[Long] = {
    import org.apache.spark.sql.functions.{array, lit}
    import spark.implicits._
    val t = snap.schema
      .flatMap(_.fields.find(_.name == bloomCol)).map(_.dataType)
      .getOrElse(inferredSchema(spark, table, snap.files)(bloomCol).dataType)
    Seq(0).toDF("_").select(array(values.map(v => bloomHash(lit(v), t)): _*))
      .head().getSeq[Long](0)
  }

  /** The bloom sidecar convention: one row per data-file name. */
  private val BloomSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType),
    StructField("filter", org.apache.spark.sql.types.BinaryType)))

  /** Live file → decoded bloom filter on `bloomCol` in `snap`, from one
    * read of the column's sidecars under [[BloomSchema]]; files with no
    * filter are absent. */
  private def bloomFiltersIn(spark: SparkSession, table: String, snap: Snapshot,
                             bloomCol: String): Map[String, BloomFilter] = {
    val refs = bloomsIn(snap, bloomCol)
    if (refs.isEmpty) return Map.empty
    val bytes = spark.read.schema(BloomSchema)
      .parquet(refs.values.toSeq.distinct.map(p => new Path(table, p).toString): _*)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    refs.keys.flatMap { f =>
      bytes.get(new Path(f).getName).filter(b => b != null && b.nonEmpty)
        .map(b => f -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
    }.toMap
  }

  /** Bloom rung: the live files whose filter might hold one of `hashes`
    * (taken only when some file has a filter), plus unfiltered files. */
  private def keepBloom(snap: Snapshot, filters: Map[String, BloomFilter],
                        hashes: => Seq[Long]): Seq[String] =
    if (filters.isEmpty) snap.files
    else {
      val hs = hashes
      snap.files.filter(f => filters.get(f).forall(bf => hs.exists(bf.mightContainLong)))
    }

  /** [[keepBloom]] for the probe `values` of `bloomCol`. */
  private def keepBloomValues(spark: SparkSession, table: String, snap: Snapshot,
                              bloomCol: String, values: Seq[Any]): Seq[String] = {
    require(values.forall(_ != null), "txlog: bloom probe value must be " +
      "non-null (equality to NULL matches no row)")
    keepBloom(snap, bloomFiltersIn(spark, table, snap, bloomCol),
      probeHashes(spark, table, snap, bloomCol, values))
  }

  /** The live files an equality probe `bloomCol = value` must scan:
    * every file whose recorded filter might contain the probe, plus
    * every file with no filter (conservative keep). Returns
    * (kept, live-count). */
  def pruneFilesBloom(spark: SparkSession, table: String, bloomCol: String,
                      value: Any,
                      asOf: Option[Long] = None): (Seq[String], Int) =
    pruned(spark, table, asOf)(keepBloomValues(spark, table, _, bloomCol, Seq(value)))

  /** Multi-probe bloom prune: the live files that might contain AT
    * LEAST ONE of `values` in `bloomCol` — [[pruneFilesBloom]] for a
    * key SET (the MERGE address scan's shape: a file no batch key can
    * live in holds no superseded row, so the scan skips it whole).
    * Unbloomed files are conservatively kept. */
  def pruneFilesBloomAny(spark: SparkSession, table: String, bloomCol: String,
                         values: Seq[Any],
                         asOf: Option[Long] = None): (Seq[String], Int) = {
    require(values.nonEmpty, "txlog: bloom multi-probe needs values")
    pruned(spark, table, asOf)(keepBloomValues(spark, table, _, bloomCol, values))
  }

  /** Probe-key ceiling for the bloom-accelerated merge: above this the
    * driver-side files × keys membership sweep costs more than it
    * saves, and the merge falls back to the full address scan. */
  private val MaxMergeBloomProbes = 100000

  // ---------------------------------------------------------------------
  // LOG-NATIVE SKIPPING FOR THE SQL SURFACE: the catalog relation's
  // filtered scan ([[TxLogCatalog]]) reads through [[readForFilters]]:
  // the files [[keptForFilters]] keeps from one snapshot, scanned on
  // that snapshot. The composer runs every rung this log records —
  // numeric min/max stats, string byte bounds, partition values,
  // per-file bloom filters — on that snapshot and combines their
  // answers by the filter tree. Strictly conservative: a rung that
  // cannot answer keeps its files, unknown filter shapes prune nothing,
  // and the caller re-applies every filter on the returned rows, so
  // pruning only skips files that hold no matching row.
  // ---------------------------------------------------------------------

  /** [[keptForFilters]] over the snapshot at `asOf`. */
  private[graft] def pruneForFilters(spark: SparkSession, table: String,
                                     filters: Seq[org.apache.spark.sql.sources.Filter],
                                     asOf: Option[Long]): Seq[String] =
    keptForFilters(spark, table, snapshot(spark, table, asOf), filters)

  /** The catalog scan's rows: [[readPruned]] keeping [[keptForFilters]]. */
  private[graft] def readForFilters(spark: SparkSession, table: String,
                                    filters: Seq[org.apache.spark.sql.sources.Filter],
                                    asOf: Option[Long]): DataFrame =
    readPruned(spark, table, asOf)(keptForFilters(spark, table, _, filters))

  /** The live files of `snap` that pushed `filters` cannot rule out.
    * A rung runs only for a column it recorded something for; an `IN`
    * list is hashed once and a column's sidecars read once per call. */
  private def keptForFilters(spark: SparkSession, table: String, snap: Snapshot,
                             filters: Seq[org.apache.spark.sql.sources.Filter]
                            ): Seq[String] = {
    import org.apache.spark.sql.sources._
    val live = snap.files
    if (filters.isEmpty || live.isEmpty) return live
    val recorded: Set[(String, Char)] =
      snap.stats.flatMap(_.split('|') match {
        case Array(_, c, _, _) => Some((c, 'n'))
        case Array(_, c, _, _, "s") => Some((c, 's'))
        case Array(_, c, _, _, "p") => Some((c, 'p'))
        case Array(_, c, _, _, BloomSuffix) => Some((c, 'b'))
        case _ => None
      }).toSet
    def has(attr: String, rung: Char): Boolean =
      recorded.contains((snap.physical(attr), rung))
    def longOf(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None // doubles/decimals: integral stats cannot bound them
    }
    def rangeKeep(attr: String, lo: Long, hi: Long): Set[String] =
      if (lo > hi) Set.empty
      else if (!has(attr, 'n')) live.toSet
      else keepRanges(snap, Seq((attr, lo, hi))).toSet
    val sidecars = scala.collection.mutable.Map.empty[String, Map[String, BloomFilter]]
    // the files some value of `vs` can live in (an EqualTo is a 1-list)
    def eqKeep(attr: String, vs: Seq[Any]): Set[String] = {
      if (attr.contains('.')) return live.toSet // nested: no record
      val byBloom: Seq[Option[Set[String]]] =
        if (!has(attr, 'b')) vs.map(_ => None)
        else try {
          val filters = sidecars.getOrElseUpdate(attr,
            bloomFiltersIn(spark, table, snap, attr))
          vs.zip(probeHashes(spark, table, snap, attr, vs)).map { case (v, h) =>
            if (v == null) None else Some(keepBloom(snap, filters, Seq(h)).toSet)
          }
        } catch { case scala.util.control.NonFatal(_) => vs.map(_ => None) }
      vs.zip(byBloom).map { case (v, bloom) =>
        val rungs = Seq(
          longOf(v).map(n => rangeKeep(attr, n, n)),
          v match {
            case s: String =>
              val byStats =
                if (!has(attr, 's')) live.toSet else keepString(snap, attr, s, s).toSet
              val byPart =
                if (!has(attr, 'p')) live.toSet else keepPartition(snap, attr, s).toSet
              Some(byStats.intersect(byPart))
            case _ => None
          },
          bloom)
        rungs.flatten.foldLeft(live.toSet)(_ intersect _)
      }.reduce(_ union _)
    }
    // one filter → the files it keeps; None = cannot answer (keep all)
    def keep(f: Filter): Option[Set[String]] = f match {
      case And(l, r) => (keep(l), keep(r)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => for (a <- keep(l); b <- keep(r)) yield a.union(b)
      case EqualTo(attr, v) => Some(eqKeep(attr, Seq(v)))
      case In(attr, vs) if vs.nonEmpty => Some(eqKeep(attr, vs.toSeq))
      case GreaterThan(attr, v) => longOf(v).map(n =>
        if (n == Long.MaxValue) Set.empty[String]
        else rangeKeep(attr, n + 1, Long.MaxValue))
      case GreaterThanOrEqual(attr, v) =>
        longOf(v).map(n => rangeKeep(attr, n, Long.MaxValue))
      case LessThan(attr, v) => longOf(v).map(n =>
        if (n == Long.MinValue) Set.empty[String]
        else rangeKeep(attr, Long.MinValue, n - 1))
      case LessThanOrEqual(attr, v) =>
        longOf(v).map(n => rangeKeep(attr, Long.MinValue, n))
      case StringStartsWith(attr, p) if p.nonEmpty && has(attr, 's') =>
        // LIKE 'p%' = the byte range [p, next(p)): next(p) drops trailing
        // 0xFF bytes and increments the last remaining one (the smallest
        // bytes above EVERY string with the prefix; all-0xFF: unbounded)
        val b = p.getBytes("UTF-8")
        val i = b.lastIndexWhere(_ != 0xFF.toByte)
        val next = if (i < 0) None else Some(b.take(i) :+ (b(i) + 1).toByte)
        Some(keepBytes(snap, attr, b, next, hiExclusive = true).toSet)
      case _ => None // IsNull / Not / EndsWith / …: no pruning
    }
    val keptSet = filters.flatMap(keep)
      .foldLeft(live.toSet)(_ intersect _)
    live.filter(keptSet) // preserve first-added order
  }

  /** Point-equality read with log-native bloom skipping — the
    * needle-in-haystack lookup ([[readWhere]]'s range twin for columns
    * the layout is NOT clustered by). The filters decide file
    * SKIPPING, never row membership: the exact equality predicate runs
    * on every kept file, and deletion vectors anti-apply as in
    * [[read]]. */
  def readWhereEquals(spark: SparkSession, table: String, bloomCol: String,
                      value: Any, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    readPruned(spark, table, asOf)(keepBloomValues(spark, table, _, bloomCol, Seq(value)))
      .filter(col(bloomCol) === lit(value))
  }

  // ---------------------------------------------------------------------
  // PARTITION COLUMNS (Hive-style): each add action of a partitioned
  // append records the file's partition VALUE in the log (payload
  // `file|physCol|b64(value)|-|p`, riding the stats channel and its
  // checkpoint replay), so an equality read prunes whole partitions
  // from the log ALONE — the coarsest and most-used pruning rung in
  // every public lakehouse, one level above min/max stats. The data
  // files keep the partition column PHYSICALLY (the layout writer
  // partitions on a duplicate), so every existing read path — time
  // travel, dv anti-apply, schema evolution — works unchanged.
  // ---------------------------------------------------------------------

  /** The partitioned writer's internal layout-driver columns for up to
    * `n` partition levels: `_g_pv`, `_g_pv1`, `_g_pv2`, … (the first
    * keeps its legacy name so existing single-level tables read
    * unchanged). */
  private def pvCols(n: Int): Seq[String] =
    (0 until n).map(i => if (i == 0) "_g_pv" else s"_g_pv$i")

  /** Undo the Hive path-escaping (%XX) the partitioned writer applies
    * to directory-name-hostile characters in partition values. */
  private def unescapePathSegment(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** List the files of a (possibly multi-level) partitioned write as
    * (relative path, decoded partition values in level order) pairs. */
  private def writtenPartitionedFiles(spark: SparkSession, table: String,
                                      rel: String, levels: Int
                                     ): Seq[(String, Seq[String])] = {
    val f = fs(spark, new Path(table, rel))
    val drivers = pvCols(levels)
    def walk(dir: Path, depth: Int, vals: List[String],
             relSoFar: String): Seq[(String, Seq[String])] =
      if (depth == levels)
        f.listStatus(dir).toSeq.map(_.getPath.getName)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
          .sorted
          .map(n => (s"$relSoFar/$n", vals.reverse))
      else {
        val want = drivers(depth) + "="
        f.listStatus(dir).toSeq.filter(_.isDirectory)
          .sortBy(_.getPath.getName)
          .flatMap { d =>
            val seg = d.getPath.getName
            require(seg.startsWith(want),
              s"txlog: unexpected non-partition directory $seg under $relSoFar")
            walk(d.getPath, depth + 1,
              unescapePathSegment(seg.stripPrefix(want)) :: vals,
              s"$relSoFar/$seg")
          }
      }
    walk(new Path(table, rel), 0, Nil, rel)
  }

  /** The shared partitioned-write tail: lay `physFrame` out by the
    * physical partition columns (each duplicated into a layout-driver
    * column — partitionBy drops its driver from the files, and readers
    * here scan explicit file lists, so the real columns must stay
    * physically present), list the written files with their decoded
    * values, and render the per-file partition payload lines. */
  private def writePartitioned(spark: SparkSession, table: String,
                               physFrame: DataFrame, pParts: Seq[String],
                               rel: String, onePerLeaf: Boolean
                              ): (Seq[(String, Seq[String])], Seq[String]) = {
    import org.apache.spark.sql.functions.col
    val drivers = pvCols(pParts.length)
    val driven = pParts.zip(drivers).foldLeft(physFrame) {
      case (df, (p, d)) => df.withColumn(d, col(p))
    }
    // compaction wants one file per leaf: co-locate each value tuple
    val laid = if (onePerLeaf) driven.repartition(drivers.map(col): _*) else driven
    laid.write.partitionBy(drivers: _*).parquet(new Path(table, rel).toString)
    val files0 = writtenPartitionedFiles(spark, table, rel, pParts.length)
    files0.foreach { case (_, vs) =>
      require(!vs.contains("__HIVE_DEFAULT_PARTITION__"),
        "txlog: null partition value — partitioned writes require " +
          "non-null partition columns")
    }
    // NAME-UNIQUENESS RENAME: the deletion-vector and bloom sidecars
    // key their rows by file NAME (root-independent, which is what
    // makes shallow-clone rebasing free) — but ONE partitioned write
    // job reuses each task's `part-NNNNN-<jobUUID>` name in EVERY leaf
    // dir it writes, so two leaves of the same write can collide and a
    // MOR delete in one partition would mask same-positioned rows of
    // its name-twin in another (TxLogCatalogSpec pins the 39-vs-38
    // count this caused). A per-file index prefix restores global
    // uniqueness as a pure metadata rename; no other write shape can
    // collide (every other path writes one directory per job, where
    // Spark's own split numbering is already unique).
    val fsys = fs(spark, new Path(table))
    val files = files0.zipWithIndex.map { case ((p, vs), i) =>
      val old = new Path(table, p)
      val dst = new Path(old.getParent, s"u$i-${old.getName}")
      require(fsys.rename(old, dst),
        s"txlog: could not uniquify partitioned output $p")
      (p.stripSuffix(old.getName) + dst.getName, vs)
    }
    val enc = java.util.Base64.getEncoder
    val partLines = files.flatMap { case (p, vs) =>
      pParts.zip(vs).map { case (c, v) =>
        s"$p|$c|${enc.encodeToString(v.getBytes("UTF-8"))}|-|p"
      }
    }
    (files, partLines)
  }

  /** Validate the partitioned-append arguments against the frame that
    * lands — for an append, the one the WRITE BOUNDARY already completed
    * with GENERATED ALWAYS derivations and IDENTITY columns — so
    * partitioning (or recording stats) BY a derived column works, the
    * Delta idiom `PARTITIONED BY (date_bucket)` where date_bucket is
    * GENERATED ALWAYS AS (…): the value exists in every landed file
    * even though the incoming batch never carries it (r16). */
  private def requirePartitionArgs(df: DataFrame, partCols: Seq[String],
                                   statsCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "txlog: at least one partition column")
    require(partCols.distinct == partCols, "txlog: duplicate partition columns")
    val have = df.schema.fieldNames.toSet
    partCols.foreach(c => require(have.contains(c),
      s"txlog: partition column '$c' is neither in the batch nor " +
        "engine-derived (generated/identity)"))
    statsCols.foreach { c =>
      require(!partCols.contains(c),
        "txlog: the partition value subsumes stats for a partition column")
      require(have.contains(c),
        s"txlog: stats column '$c' is neither in the batch nor " +
          "engine-derived (generated/identity)")
    }
    pvCols(partCols.length).foreach(d =>
      require(!have.contains(d),
        s"txlog: table schema collides with the partitioned writer's '$d'"))
  }

  /** Append `df` laid out and RECORDED by `partCol`: rows land in
    * per-value directories, each file's partition value rides the
    * commit, and [[readWherePartition]] prunes by value from the log
    * alone — no stats, no footers. Optional `statsCols` additionally
    * record min/max per file (composable pruning: partition equality
    * AND ranges). Partition columns must be non-null (Hive's
    * default-partition sentinel would make the recorded value lie). */
  def appendPartitioned(spark: SparkSession, table: String, df: DataFrame,
                        partCol: String, statsCols: String*): Long =
    appendPartitionedBy(spark, table, df, Seq(partCol), statsCols)

  /** [[appendPartitioned]] with MULTI-LEVEL partitioning (Hive's
    * `a=…/b=…` nesting): every level's value is recorded per file, and
    * equality pruning composes across levels (and with range stats). */
  def appendPartitionedBy(spark: SparkSession, table: String, df: DataFrame,
                          partCols: Seq[String],
                          statsCols: Seq[String] = Seq.empty): Long =
    appendPartitionedCommit(spark, table, df, partCols, statsCols, None).get

  /** [[appendPartitionedBy]] with the txn marker — the partitioned twin
    * of [[appendIdempotent]] (None = this (appId, batchId) already
    * landed), so a streaming epoch into a PARTITIONED BY table records
    * its files' partition values AND stays exactly-once. */
  def appendPartitionedIdempotent(spark: SparkSession, table: String,
                                  df: DataFrame, partCols: Seq[String],
                                  appId: String, batchId: Long,
                                  statsCols: Seq[String] = Seq.empty
                                 ): Option[Long] = {
    requireAppId(appId)
    appendPartitionedCommit(spark, table, df, partCols, statsCols,
      Some((appId, batchId)))
  }

  private def appendPartitionedCommit(spark: SparkSession, table: String,
                                      df: DataFrame, partCols: Seq[String],
                                      statsCols: Seq[String],
                                      txn: Option[(String, Long)]
                                     ): Option[Long] = {
    // funnel through appendCommit's OCC loop: the partitioned flavor
    // thereby inherits the SAME write-boundary discipline as a plain
    // append — constraints/generated/identity commits that land while
    // the claim retries re-gate THIS batch (re-validate, re-derive,
    // re-mint), and claims never leapfrog an unscanned commit. Before
    // r16 this path had its own leapfrogging loop with no recheck, so
    // an ADD CONSTRAINT racing a violating partitioned append could
    // admit the batch on the quiet (and identity was rejected outright).
    // The arguments are validated against the MINTED frame, which
    // already carries the generated and identity columns.
    appendCommit(spark, table, df, "partitioned append", txn, statsCols,
      writeBatch = Some { (dfW: DataFrame, rel: String, snap: Snapshot) =>
        requirePartitionArgs(dfW, partCols, statsCols)
        val (files, partLines) = writePartitioned(spark, table,
          physicalize(dfW, snap.schema), partCols.map(snap.physical), rel,
          onePerLeaf = false)
        (files.map(_._1),
          partLines ++ requiredStats(spark, table, snap, files.map(_._1), statsCols))
      })
  }

  /** COMPACTION that PRESERVES the partition layout and its recorded
    * values: a plain [[compact]] on a partitioned table rewrites the
    * live set into value-less files, silently degrading every later
    * partition-pruned read to a conservative full keep. This flavor
    * rewrites the snapshot into ONE file per partition-value tuple,
    * re-records every value (and optional stats), and commits with the
    * same "compact" tag — row-invisible to the change feed, MatView
    * folds stay incremental across it, and pruning keeps working. */
  def compactPartitioned(spark: SparkSession, table: String,
                         partCols: Seq[String],
                         statsCols: Seq[String] = Seq.empty): Long = {
    val state = latestSnapshot(spark, table, "compact")
    val base = state.version
    val snap = read(spark, table, Some(base))
    requirePartitionArgs(snap, partCols, statsCols)
    val rel = f"data/v${base + 1}%08d-compact-${uniq()}"
    val (files, partLines) = writePartitioned(spark, table,
      physicalize(snap, state.schema), partCols.map(state.physical), rel,
      onePerLeaf = true)
    val stats = statsCols.flatMap(c =>
      footerStats(spark, table, files.map(_._1), state.physical(c)))
    commitRewrite(spark, table, base, files.map(_._1), state.files, "compact",
      new Path(table, rel), stats = partLines ++ stats)
  }

  /** PARTITION-SCOPED compaction — `OPTIMIZE t WHERE part = value`:
    * rewrite ONLY the live files whose RECORDED partition value matches
    * into ceil(scopeBytes / targetBytes) packed files, as one commit
    * that never touches any other partition's files — the maintenance
    * a date-partitioned 100 TB table runs on yesterday's slice while
    * the other 3,650 days stay untouched. The rewritten rows pass
    * through [[scanLive]], so the scope's deletion-vector masks are
    * PURGED into the new files (the public OPTIMIZE side effect);
    * recorded stats for other columns die with the rewritten files
    * (conservative — [[restat]] re-records from footers). Files
    * appended without partition recording are never scoped (their rows
    * may span values); already-packed unmasked scopes return
    * commit-free. */
  def compactPartition(spark: SparkSession, table: String, partCol: String,
                       value: String,
                       targetBytes: Long = 128L << 20): Long = {
    require(targetBytes > 0, s"txlog: target bytes must be positive")
    val snap = latestSnapshot(spark, table, "compact")
    val base = snap.version
    val pv = partitionValuesIn(snap, partCol)
    val scope = snap.files.filter(f => pv.get(f).contains(value))
    require(scope.nonEmpty,
      s"txlog: no live file of $table records $partCol=$value — nothing " +
        "to optimize (files appended without partition recording are " +
        "never scoped)")
    val bytes = fileSizes(spark, table, snap, scope).sum
    val numFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val dvs = snap.liveDvs.filter(kv => scope.contains(kv._1))
    if (scope.size <= numFiles && dvs.isEmpty) return base
    val declared = snap.schema
    val rel = f"data/v${base + 1}%08d-compact-${uniq()}"
    physicalize(scanLive(spark, table, snap, scope, declared, dvs)
      .repartition(numFiles), declared)
      .write.parquet(new Path(table, rel).toString)
    val files = writtenFiles(spark, table, rel)
    val phys = snap.physical(partCol)
    val enc = java.util.Base64.getEncoder
    val partLines = files.map(f =>
      s"$f|$phys|${enc.encodeToString(value.getBytes("UTF-8"))}|-|p")
    commitRewrite(spark, table, base, files, scope, "compact",
      new Path(table, rel), stats = partLines)
  }

  /** Live files' recorded partition value for `partCol` as of `asOf`
    * (files appended without partitioning are simply absent — readers
    * must treat absence as "cannot skip", like stats). */
  def partitionValuesAt(spark: SparkSession, table: String, partCol: String,
                        asOf: Option[Long] = None): Map[String, String] =
    partitionValuesIn(snapshot(spark, table, asOf), partCol)

  private def partitionValuesIn(snap: Snapshot,
                                partCol: String): Map[String, String] = {
    val phys = snap.physical(partCol)
    val dec = java.util.Base64.getDecoder
    snap.stats.flatMap { payload =>
      payload.split('|') match {
        case Array(p, c, v, _, "p") if c == phys && snap.liveSet.contains(p) =>
          Some(p -> new String(dec.decode(v), "UTF-8"))
        case _ => None
      }
    }.toMap
  }

  /** Partition rung: the live files whose recorded partition value for
    * `partCol` is `value` (no stats, no footers); files without a
    * recorded value can never be skipped. */
  private def keepPartition(snap: Snapshot, partCol: String,
                            value: String): Seq[String] = {
    val pv = partitionValuesIn(snap, partCol)
    snap.files.filter(p => pv.get(p).forall(_ == value))
  }

  /** The live files a `partCol = value` read must scan
    * ([[keepPartition]]): (kept, live count). */
  private[graft] def pruneFilesPartition(spark: SparkSession, table: String,
                                         partCol: String, value: String,
                                         asOf: Option[Long] = None
                                        ): (Seq[String], Int) =
    pruned(spark, table, asOf)(keepPartition(_, partCol, value))

  /** Equality read on the partition column, COMPOSED with optional
    * range predicates: files are kept only if the recorded partition
    * value matches AND every range predicate's recorded min/max
    * intersects — partition pruning and data skipping stack, exactly
    * as in the public lakehouses. Residual filters keep the result
    * exact; deletion vectors anti-apply as in [[read]]. */
  def readWherePartition(spark: SparkSession, table: String, partCol: String,
                         value: String,
                         preds: Seq[(String, Long, Long)] = Seq.empty,
                         asOf: Option[Long] = None): DataFrame =
    readWherePartitionAll(spark, table, Seq((partCol, value)), preds, asOf)

  /** [[readWherePartition]] over a CONJUNCTION of partition equalities
    * (the multi-level layout's natural read: `lang = 'de' AND source =
    * 'web'`), still composable with range stats. */
  def readWherePartitionAll(spark: SparkSession, table: String,
                            eqs: Seq[(String, String)],
                            preds: Seq[(String, Long, Long)] = Seq.empty,
                            asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(eqs.nonEmpty, "txlog: at least one partition equality")
    val base = readPruned(spark, table, asOf) { snap =>
      val keep = eqs.map { case (c, v) => keepPartition(snap, c, v).toSet } :+
        keepRanges(snap, preds).toSet
      snap.files.filter(f => keep.forall(_(f)))
    }
    val eqFiltered = eqs.foldLeft(base) { case (df, (c, v)) =>
      df.filter(col(c).cast("string") === v)
    }
    preds.foldLeft(eqFiltered) {
      case (df, (c, lo, hi)) => df.filter(col(c).between(lo, hi))
    }
  }

  /** DROP PARTITION — `DELETE FROM t WHERE partCol = value` against a
    * partition-recorded layout, at the cheapest shape a delete can
    * take: every file whose RECORDED value matches holds ONLY that
    * partition's rows (the writer's per-leaf layout guarantees it), so
    * those files are simply REMOVED — zero bytes read, zero bytes
    * written, the retention-sweep cost model (`DROP PARTITION
    * date='2024-01-01'` on a 100 TB table is one metadata commit).
    * Files WITHOUT a recorded value (plain appends) are conservatively
    * copy-on-write rewritten minus their matching rows, deletion
    * vectors anti-applied. Tagged "delete" with removes: the change
    * feed reconstructs its images as a touched-file-bounded CoW diff
    * and MatView folds it signed. Returns the committed version, or
    * `base` unchanged when nothing matches. */
  def deletePartition(spark: SparkSession, table: String, partCol: String,
                      value: String): Long = {
    import org.apache.spark.sql.functions.col
    val snap = latestSnapshot(spark, table, "delete")
    val base = snap.version
    val live = snap.files
    val recorded = partitionValuesIn(snap, partCol)
    val dropped = live.filter(p => recorded.get(p).contains(value))
    val unrecorded = live.filterNot(recorded.contains)
    if (dropped.isEmpty && unrecorded.isEmpty) return base
    if (unrecorded.isEmpty)
      // the pure metadata case: one commit of removes, nothing written
      return commitRewrite(spark, table, base, Seq.empty, dropped, "delete",
        new Path(table, f"data/v${base + 1}%08d-delete-${uniq()}"))
    val declared = snap.schema
    val unrecordedDvs = snap.liveDvs.filter(kv => unrecorded.contains(kv._1))
    // a value-less file might hold no matching row at all: probe before
    // paying a rewrite (and stay commit-free when nothing matches)
    val anyUnrecordedMatch = !scanLive(spark, table, snap, unrecorded, declared,
      unrecordedDvs)
      .filter(col(partCol).cast("string") <=> value).isEmpty
    if (!anyUnrecordedMatch) {
      if (dropped.isEmpty) return base
      return commitRewrite(spark, table, base, Seq.empty, dropped, "delete",
        new Path(table, f"data/v${base + 1}%08d-delete-${uniq()}"))
    }
    val keptRows = scanLive(spark, table, snap, unrecorded, declared, unrecordedDvs)
      .filter(!(col(partCol).cast("string") <=> value))
    val rel = f"data/v${base + 1}%08d-delete-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(keptRows, declared).write.parquet(dataDir.toString)
    val written = writtenFiles(spark, table, rel)
    commitRewrite(spark, table, base, written, dropped ++ unrecorded,
      "delete", dataDir)
  }

  /** DELETE FROM … WHERE `statsCol` BETWEEN lo AND hi, as a PARTIAL
    * copy-on-write rewrite: the recorded file stats decide which live
    * files can contain matching rows, ONLY those are rewritten (minus
    * the deleted rows; files without stats are conservatively
    * touched), and every other file stays byte-identical on disk —
    * at 100 TB a targeted erasure (the GDPR case) rewrites the handful
    * of files holding the subject, not the table. One commit adds the
    * rewritten files (with fresh stats) and removes exactly the
    * touched ones; pinned readers keep the pre-delete snapshot, the
    * change feed classifies the commit as a rewrite (loud unless
    * `skipChangeCommits`), and [[graft.operators.MatView]] falls back
    * to recompute across it. Returns the committed version, or the
    * current version unchanged when no file can contain a match. */
  def deleteWhere(spark: SparkSession, table: String, statsCol: String,
                  lo: Long, hi: Long): Long = {
    val snap = latestSnapshot(spark, table, "delete")
    val base = snap.version
    val touched = keepRanges(snap, Seq((statsCol, lo, hi)))
    if (touched.isEmpty) return base // no file can contain a match
    import org.apache.spark.sql.functions.col
    // the rewrite must anti-apply any existing deletion vectors on the
    // touched files — a plain re-scan would resurrect MOR-deleted rows
    val keptRows = scanLive(spark, table, snap, touched, snap.schema, snap.liveDvs)
      .filter(!col(statsCol).between(lo, hi))
    val rel = f"data/v${base + 1}%08d-delete-${uniq()}"
    val dataDir = new Path(table, rel)
    keptRows.write.parquet(dataDir.toString)
    val written = writtenFiles(spark, table, rel)
    commitRewrite(spark, table, base, written, touched, "delete", dataDir,
      stats = footerStats(spark, table, written, snap.physical(statsCol)))
  }

  /** DELETE FROM … WHERE `statsCol` BETWEEN lo AND hi, MERGE-ON-READ:
    * instead of rewriting the touched data files ([[deleteWhere]]'s
    * copy-on-write), the commit binds each touched file to a DELETION
    * VECTOR — a tiny parquet sidecar of (file_name, row position) pairs
    * that [[read]] anti-applies (the public Delta/Iceberg deletion-
    * vector idea, addressed by the parquet reader's stable
    * `_metadata.row_index`). No data file is written, moved, or
    * removed, which is what makes a one-row GDPR erasure on a 100 TB
    * table cost kilobytes instead of re-writing gigabyte files; a later
    * [[compact]] (whose input is the DV-applied [[read]]) materializes
    * the deletes and drops the vectors with the files they masked.
    *
    * A repeat delete on an already-masked file re-binds it to a NEW
    * vector containing the UNION of old and new positions ("last
    * binding wins, positions only accumulate" — the [[Snapshot.dvs]]
    * replay contract). Stats recorded for the touched files stay valid:
    * deletion only shrinks a file's value range, so min/max remain
    * sound (possibly loose) pruning bounds. The change feed classifies
    * the commit as a rewrite (its row changes cannot be expressed as
    * appends), and [[graft.operators.MatView]] recomputes across it.
    * Returns the committed version, or the current version unchanged
    * when no row matches. */
  def deleteWhereMor(spark: SparkSession, table: String, statsCol: String,
                     lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.col
    val snap = latestSnapshot(spark, table, "delete")
    val base = snap.version
    val touched = keepRanges(snap, Seq((statsCol, lo, hi)))
    if (touched.isEmpty) return base // no file can contain a match
    // positions of the rows to delete, addressed physically: the raw
    // per-file row index (NOT dv-filtered — positions of already-deleted
    // rows may re-match; the union dedups them). Raw = physical schema
    // and physical predicate name (the _metadata struct needs the
    // un-projected scan)
    val newPos = scanFiles(spark, table, touched, snap.schema, snap.sizes)
      .filter(col(snap.physical(statsCol))
        .between(lo, hi))
      .select(col("_metadata.file_name").as("file"),
        col("_metadata.row_index").as("pos"))
    bindDeletionVectors(spark, table, snap, newPos, touched)
  }

  /** The MOR-delete commit tail shared by the range and free-predicate
    * flavors: union the new (file, pos) matches with the prior vectors
    * of every re-masked file in `scope`, write ONE sidecar, and commit
    * dv bindings for exactly the files that have matches. Returns the
    * committed version, or `base` unchanged when nothing matched. */
  private def bindDeletionVectors(spark: SparkSession, table: String,
                                  snap: Snapshot, newPosRaw: DataFrame,
                                  scope: Seq[String],
                                  adds: Seq[String] = Seq.empty,
                                  tag: String = "delete",
                                  commitOnNoMatch: Boolean = false,
                                  schemaB64: Option[String] = None,
                                  metas: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{col, lit, max, sum}
    val base = snap.version
    val oldDvs = snap.liveDvs
    val scopeNames = scope.map(p => p.split('/').last)
    // prior vectors for the re-masked files ride into the new vector,
    // so "last binding wins" stays exact
    val oldPos = oldDvs.filter { case (f, _) => scope.contains(f) }
      .values.toSeq.distinct match {
      case Nil => None
      case dirs => Some(dvScan(spark, table, snap, dirs)
        .filter(col("file").isin(scopeNames: _*)))
    }
    // ONE materialization for the whole commit tail (r17, guide §1.2/§2.4):
    // tag new-vs-prior, dedup per (file, pos) keeping the tag, checkpoint;
    // a single collect of the per-file tag sums then answers BOTH probes
    // the r16 shape paid four actions for (newPos checkpoint + isEmpty +
    // allPos checkpoint + match-map collect) — "any new match?" is a
    // positive tag sum anywhere, and the match map is the collected file
    // set itself (bounded by touched files). The masked-position scan
    // still runs exactly once, at the checkpoint; the sidecar write
    // re-reads checkpointed blocks, never the table.
    val tagged = oldPos.fold(newPosRaw.withColumn("_n", lit(1)))(op =>
      newPosRaw.withColumn("_n", lit(1))
        .unionByName(op.withColumn("_n", lit(0))))
    val allPos = tagged.groupBy(col("file"), col("pos"))
      .agg(max(col("_n")).as("_n"))
      .localCheckpoint(true) // consumed twice: the match probe and the write
    val perFile = allPos.groupBy(col("file"))
      .agg(sum(col("_n")).as("_new")).collect()
    if (!perFile.exists(_.getLong(1) > 0L)) {
      // no superseded row: a delete no-ops; a merge still lands its
      // appended images (pure-insert batch) as one tagged commit
      if (!commitOnNoMatch || adds.isEmpty) return base
      return commitRewrite(spark, table, base, adds, Seq.empty, tag,
        new Path(table, adds.head).getParent, schemaB64 = schemaB64,
        metas = metas)
    }
    val matchedFiles = perFile.map(_.getString(0)).toSet
    val rel = f"data/v${base + 1}%08d-dv-${uniq()}"
    val dvDir = new Path(table, rel)
    allPos.select("file", "pos").repartition(1).write.parquet(dvDir.toString)
    val bindings = scope
      .filter(p => matchedFiles.contains(p.split('/').last))
      .map(p => s"$p|$rel")
    // the sidecar's files ride in the log with their sizes, so a masked
    // read scans them without listing the dir ([[dvScan]])
    val sidecar = writtenFiles(spark, table, rel)
      .map(f => sizeLine(f, footerOf(spark, new Path(table, f))))
    commitRewrite(spark, table, base, adds, Seq.empty, tag, dvDir,
      stats = sidecar, dvs = bindings, schemaB64 = schemaB64, metas = metas)
  }

  /** MOR DELETE with a FREE predicate over the table's logical columns
    * (`deleteWhereMor` prunes candidate files by stats; this flavor
    * scans every live file for positions — the honest cost when the
    * predicate isn't a range on a stats column, e.g. "erase everything
    * this customer id touches" over a non-clustered 100 TB table: one
    * read-only scan, kilobytes written, zero files rewritten). The
    * predicate sees LOGICAL column names (post-rename). */
  def deleteWhereMorExpr(spark: SparkSession, table: String,
                         predicateSql: String): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val snap = latestSnapshot(spark, table, "delete")
    // positions of already-deleted rows may re-match: the union with the
    // prior vectors dedups them
    val newPos = addressedRows(spark, table, snap)
      .filter(expr(predicateSql))
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    bindDeletionVectors(spark, table, snap, newPos, snap.files)
  }

  /** REPLACE WHERE (the public Delta `INSERT INTO … REPLACE WHERE` /
    * writer-option idea): atomically replace EXACTLY the rows matching
    * `predicateSql` with `df`, in ONE merge-tagged merge-on-read
    * commit — the matched rows' positions bind to deletion vectors
    * (zero files rewritten, moved, or removed) and the new images
    * append. This is the BACKFILL idiom: re-land one day/tenant/
    * language slice of a 100 TB table without touching any other byte,
    * atomically (a reader sees the old slice or the new one, never a
    * mix, never a gap). Contract (Delta parity): every incoming row
    * must itself satisfy the predicate — a batch that spills outside
    * its declared slice fails loudly BEFORE any write (NULL predicate
    * counts as outside, mirroring the replace scan where NULL rows are
    * not replaced). Write-boundary features apply as on any merge:
    * generated columns derive, CHECK constraints gate, identity
    * columns mint fresh ids for every image (all images are new rows
    * by definition; the high-water advance rides inside the commit,
    * race-proof by the merge serializability argument). The change
    * feed delivers positional deletes + the appended inserts;
    * MatView folds it. */
  def replaceWhere(spark: SparkSession, table: String, df: DataFrame,
                   predicateSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not, sum, when}
    val snap = latestSnapshot(spark, table, "merge")
    val base = snap.version
    // identity: explicit values rejected (GENERATED ALWAYS), fresh ids
    // minted for every image — all images are NEW rows by definition
    val idCols = snap.identities.toSeq.sortBy(_._1)
    val cleaned = idCols.foldLeft(df) { case (acc, (n, _)) =>
      if (!acc.columns.contains(n)) acc
      else {
        val r = acc.agg(sum(when(col(n).isNotNull, 1L).otherwise(0L))).head()
        val nonNull = if (r.isNullAt(0)) 0L else r.getLong(0)
        require(nonNull == 0L,
          s"txlog: REPLACE WHERE batch carries $nonNull explicit values " +
            s"for identity column '$n' — it is GENERATED ALWAYS AS IDENTITY")
        acc.drop(n)
      }
    }
    val images0 = applyGeneratedColumns(table, snap, cleaned, "merge")
    requireFitsDeclared(snap, images0, "merge")
    requireSatisfiesConstraints(table, snap, images0, "merge")
    val outside = images0
      .filter(not(coalesce(expr(predicateSql), lit(false)))).count()
    require(outside == 0L,
      s"txlog: $outside incoming rows fall OUTSIDE the REPLACE WHERE " +
        s"slice ($predicateSql) — a backfill must stay inside the slice " +
        "it replaces, or it silently duplicates rows it did not erase")
    val images = idCols.foldLeft(images0) { case (acc, (n, (_, st, nx))) =>
      assignIdentityIds(acc, n, nx, st)
    }
    val nImg = if (idCols.isEmpty) 0L else images.count()
    val idMetas = idCols.map { case (n, (s0, st, nx)) =>
      metaPayload(IdentityKeyPrefix + n, s"$s0|$st|${nx + nImg * st}")
    }
    val rel = f"data/v${base + 1}%08d-replace-${uniq()}"
    physicalize(images, snap.schema).write.parquet(new Path(table, rel).toString)
    val adds = writtenFiles(spark, table, rel)
    // addresses of the replaced slice — the deleteWhereMorExpr scan
    val newPos = addressedRows(spark, table, snap)
      .filter(expr(predicateSql))
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    bindDeletionVectors(spark, table, snap, newPos, snap.files, adds = adds,
      tag = "merge", commitOnNoMatch = true, metas = idMetas)
  }

  /** The rows of `files` under their logical names ALONGSIDE the
    * physical address columns (`_g_dv_file`, `_g_dv_pos`), deletion
    * vectors NOT applied: a physical scan (the _metadata struct needs the
    * un-projected scan), so a caller's predicate binds to what read()
    * would show. */
  private def addressedRows(spark: SparkSession, table: String,
                            snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.col
    val declared = snap.schema
    val addressed = scanFiles(spark, table, snap.files, declared, snap.sizes)
      .withColumn("_g_dv_file", col("_metadata.file_name"))
      .withColumn("_g_dv_pos", col("_metadata.row_index"))
    declared.filter(mappingEnabled) match {
      case None => addressed
      case Some(s) => addressed.select(
        s.fields.map(f => col(physicalName(f)).as(f.name)).toSeq ++
          Seq(col("_g_dv_file"), col("_g_dv_pos")): _*)
    }
  }

  /** The live-row universe at `base`, addressed for MOR writes: logical
    * column names plus the physical address columns
    * (`_g_dv_file`, `_g_dv_pos`), prior deletion vectors anti-applied
    * with scanLive's per-file scoping (rows of files a later restore
    * UNBOUND stay live), so a dead physical copy can neither re-mask nor
    * re-image. Every MOR write (UPDATE / conditional MERGE) derives its
    * masks and images from this frame. */
  private def liveAddressed(spark: SparkSession, table: String,
                            snap: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val logical = addressedRows(spark, table, snap)
    val priorDvs = snap.liveDvs
    if (priorDvs.isEmpty) logical else {
      val boundNames = priorDvs.keys.map(_.split('/').last).toSeq
      val dvRows = dvScan(spark, table, snap, priorDvs.values.toSeq)
        .filter(col("file").isin(boundNames: _*))
      logical.join(broadcast(dvRows),
        logical("_g_dv_file") === dvRows("file") &&
          logical("_g_dv_pos") === dvRows("pos"), "left_anti")
    }
  }

  /** MOR UPDATE with a FREE predicate: rows matching `predicateSql`
    * are superseded — their positions bound to a deletion vector, their
    * post-assignment images appended — in ONE commit tagged "merge"
    * (the change feed delivers delete+insert images; [[graft.operators
    * .MatView]] folds it signed). `sets` assigns LOGICAL columns from
    * SQL expressions over the row's logical view (`n = n + 1` works).
    * Zero data files rewritten, moved, or removed — the SQL `UPDATE`
    * shape at 100 TB. Probe-first: no matching row, no commit.
    * Serializable like a merge (the mask is derived against `base`). */
  def updateMorExpr(spark: SparkSession, table: String, predicateSql: String,
                    sets: Seq[(String, String)]): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    require(sets.nonEmpty, "txlog: UPDATE needs at least one assignment")
    require(sets.map(_._1).distinct.size == sets.size,
      s"txlog: a column is assigned twice (${sets.map(_._1).mkString(", ")})")
    val snap = latestSnapshot(spark, table, "update")
    val base = snap.version
    val declared = snap.schema
    val logicalCols = declared.map(_.fieldNames.toSeq).getOrElse(
      inferredSchema(spark, table, snap.files).fieldNames.toSeq)
    sets.foreach { case (c, _) => require(logicalCols.contains(c),
      s"txlog: UPDATE assigns unknown column '$c' " +
        s"(table has: ${logicalCols.mkString(", ")})") }
    // the matched subframe feeds BOTH the mask and the images; prior
    // deletion vectors anti-apply ([[liveAddressed]]) so an
    // already-deleted row can neither re-mask nor re-image
    val matched = liveAddressed(spark, table, snap).filter(expr(predicateSql))
    val newPos = matched
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    if (newPos.isEmpty) return base // probe-first: nothing matched
    // ONE projection, so every RHS binds to the PRE-update row — SQL
    // UPDATE semantics. A foldLeft of withColumn would let a later
    // assignment's RHS see an earlier assignment's NEW value
    // (`SET a = b, b = a` must swap, not duplicate)
    val setsByCol = sets.toMap
    // GENERATED ALWAYS: assignment is forbidden (SQL standard) and the
    // stored values are RECOMPUTED from the updated images — dropping
    // them first makes applyGeneratedColumns take its compute path, so
    // an update to a source column can never leave a stale derivation
    val gens = snap.gens.keySet
    sets.foreach { case (c, _) => require(!gens.contains(c),
      s"txlog: cannot assign to generated column '$c' — it is " +
        "GENERATED ALWAYS and recomputed from its expression") }
    // identity ids are STABLE under update: images carry the existing
    // values; only assignment to the column itself is forbidden
    val idents = snap.identities.keySet
    sets.foreach { case (c, _) => require(!idents.contains(c),
      s"txlog: cannot assign to identity column '$c' — it is " +
        "GENERATED ALWAYS AS IDENTITY") }
    val images = applyGeneratedColumns(table, snap,
      matched.select(logicalCols.map(c =>
        setsByCol.get(c).map(v => expr(v).as(c)).getOrElse(col(c))): _*)
        .drop(gens.toSeq: _*),
      "update")
    requireFitsDeclared(snap, images, "update")
    requireSatisfiesConstraints(table, snap, images, "update")
    val rel = f"data/v${base + 1}%08d-update-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(images, declared).write.parquet(dataDir.toString)
    val adds = writtenFiles(spark, table, rel)
    try bindDeletionVectors(spark, table, snap, newPos, snap.files,
      adds = adds, tag = "merge", commitOnNoMatch = true)
    catch { case e: Throwable =>
      fs(spark, dataDir).delete(dataDir, true) // no orphans on a lost race
      throw e
    }
  }

  /** MOR DELETE of every row whose key appears in `keys` — the
    * delete-by-id-list (GDPR erasure) shape: one broadcast semi-join
    * scan for positions, kilobytes of deletion vector written, zero
    * data files rewritten. `WHEN MATCHED THEN DELETE` merges and the
    * library's id-list erasure both land here. Probe-first: keys that
    * match nothing commit nothing. */
  def deleteKeysMor(spark: SparkSession, table: String, keys: DataFrame,
                    keyCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(keyCols.nonEmpty, "txlog: deleteKeysMor needs key columns")
    val snap = latestSnapshot(spark, table, "delete")
    val pKeys = keyCols.map(snap.physical)
    val batchKeys = physicalize(keys.select(keyCols.map(col): _*).distinct(),
      snap.schema)
    val newPos = scanFiles(spark, table, snap.files, snap.schema, snap.sizes)
      .withColumn("_g_dv_file", col("_metadata.file_name"))
      .withColumn("_g_dv_pos", col("_metadata.row_index"))
      .join(broadcast(batchKeys), pKeys, "left_semi")
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    bindDeletionVectors(spark, table, snap, newPos, snap.files)
  }

  /** RESTORE the table to the state of `toVersion` as a NEW commit —
    * the public Delta RESTORE idea, and like it METADATA-ONLY: the
    * commit re-ADDS the target snapshot's files (they still exist —
    * immutability is the point), REMOVES the current head's extras, and
    * re-binds (or unbinds) every restored file's deletion vector to its
    * state at the target, so zero data bytes move no matter how many
    * terabytes the rollback "rewrites". History is preserved (the bad
    * versions stay time-travelable until vacuumed); the restore is
    * serializable like an overwrite (ANY intervening commit aborts);
    * the change feed classifies it as a rewrite; MatView recomputes
    * across it. If the declared schema changed since the target, the
    * target's effective schema is re-declared in the same commit.
    * Restoring to the current head is a commit-free no-op.
    *
    * CHECK constraints and RESTORE — intended behavior, Delta parity:
    * constraints gate NEW row images at write time ([[appendCommit]],
    * merge/update); a restore re-lands HISTORICAL rows metadata-only
    * and deliberately does NOT re-validate them against constraints
    * added after the target version, exactly like Delta's RESTORE. So
    * a restore can reintroduce rows that predate (and violate) an
    * active constraint — by design: re-validating would force a full
    * data scan inside a metadata-only rollback, and rejecting would
    * make RESTORE unusable as the incident-recovery tool it exists to
    * be. Callers that want the strict check can run
    * `read(table).filter(not(constraint)).count()` after restoring. */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val head = latestSnapshot(spark, table, "restore")
    val base = head.version
    val wm = earliestReadableVersion(spark, table)
    require(toVersion >= wm,
      s"txlog: version $toVersion was vacuumed (earliest readable: $wm)")
    require(toVersion <= base,
      s"txlog: cannot restore $table to future version $toVersion (latest: $base)")
    if (toVersion == base) return base
    val target = snapshot(spark, table, Some(toVersion))
    val cur = head.files.toSet
    val adds = target.files.filterNot(cur)
    val removes = (cur -- target.files.toSet).toSeq
    // self-contained mask state: bind-or-unbind EVERY restored file, so
    // no later binding from the rolled-back range can leak through
    val dvLines = target.files.map(fl =>
      s"$fl|${target.liveDvs.getOrElse(fl, DvUnbound)}")
    // the re-added files and the re-bound sidecars keep their size
    // records (a checkpoint since the target may have dropped them)
    val sizeLines = target.liveStats.filter { line =>
      val t = line.split('|')
      t(1) == SizeStatsCol && !cur.contains(t(0))
    }
    val schemaB64 = {
      val tgtDecl = target.schema
      if (tgtDecl == head.schema) None
      else Some(encodeSchema(tgtDecl.getOrElse(StructType(
        inferredSchema(spark, table, target.files).fields.map(_.copy(nullable = true))))))
    }
    val v = base + 1
    // serializable: "roll back to the state I read" is invalidated by
    // ANY commit that landed after the base (same rule as overwrite) —
    // a lost claim IS that commit; metadata-only, so nothing to clean
    if (!tryCommit(spark, table, v, adds, removes, Some("restore"),
      schemaB64, Seq.empty, sizeLines, dvLines))
      throw new TxLogConcurrentModificationException(
        s"txlog: restore of $table to $toVersion lost to a concurrent " +
          "commit — re-read the table and retry")
    maybeCheckpoint(spark, table, v)
    v
  }

  /** SHALLOW CLONE — the public Delta `CREATE TABLE … SHALLOW CLONE`
    * idea: fork `src` (at `asOf`, default its head) into a brand-new
    * table `dst` as ONE metadata-only commit that copies ZERO data
    * bytes. The clone's commit 0 re-ADDS the source snapshot's live
    * files by ABSOLUTE path (the log format's relative paths resolve
    * through `new Path(table, rel)`, and Hadoop path resolution lets an
    * absolute child win — exactly how Delta clone logs carry
    * `absolutePath=true` entries), carries the snapshot's deletion-
    * vector bindings and per-file stats (rebased to the same absolute
    * keys, so data skipping and MOR masks survive the fork), re-declares
    * the source's schema (column mapping included), and replicates the
    * source's active commit metadata — CHECK constraints, GENERATED
    * columns, and IDENTITY high-water marks all ride the metas channel,
    * so the clone enforces the same write-boundary contracts and its
    * future identity mints continue past the fork point without
    * colliding with rows it inherited. Provenance is recorded under the
    * `clone-source` meta key (`<absolute src>@<version>`).
    *
    * After the fork the tables evolve INDEPENDENTLY: writes to either
    * side are invisible to the other (both sides mint identity ids from
    * the same fork high-water mark — cross-table uniqueness after a
    * fork is not a contract, same as Delta). Vacuum interplay, both
    * directions:
    *  - vacuum on the CLONE only walks the clone's own `data/` root
    *    ([[vacuum]] lists `new Path(table, "data")`), so inherited
    *    source files are never candidates — a clone can compact away
    *    every inherited reference and vacuum aggressively without
    *    touching one source byte.
    *  - vacuum on the SOURCE does not know its clones exist: a
    *    `RETAIN n VERSIONS` source vacuum may reclaim files a clone
    *    still references (the documented Delta shallow-clone hazard,
    *    kept deliberately — tracking clones would couple the tables the
    *    fork exists to decouple). The bare `VACUUM` (retain ALL,
    *    orphan-only) is always clone-safe.
    * The change feed classifies the clone commit like an overwrite
    * (full snapshot as inserts at version 0), so CDF consumers of the
    * clone start from a consistent base. */
  def shallowClone(spark: SparkSession, src: String, dst: String,
                   asOf: Option[Long] = None): Long = {
    val log = listLog(spark, src)
    require(log.commits.nonEmpty,
      s"txlog: cannot clone an empty table (no commits in $src)")
    val head = log.commits.last
    val v = asOf.getOrElse(head)
    val wm = earliestReadableVersion(spark, src)
    require(v >= wm,
      s"txlog: version $v was vacuumed (earliest readable: $wm)")
    require(v <= head,
      s"txlog: cannot clone $src at future version $v (latest: $head)")
    require(versions(spark, dst).isEmpty,
      s"txlog: clone target $dst already exists")
    // fully qualified absolute root: resolution-stable from any caller,
    // on any filesystem (the same qualify-both-sides rule vacuum uses)
    val srcRoot = fs(spark, new Path(src))
      .makeQualified(new Path(src)).toString
    def abs(rel: String): String =
      if (new Path(rel).isAbsolute || rel.contains(":/")) rel // clone-of-clone
      else s"$srcRoot/$rel"
    val snap = replay(spark, src, log, Some(v))
    val adds = snap.files.map(abs)
    val dvLines = snap.liveDvs.toSeq
      .map { case (fl, dvDir) => s"${abs(fl)}|${abs(dvDir)}" }
    val statsLines = snap.liveStats
      .map { s =>
        val t = s.split('|')
        // bloom lines carry a SECOND path (the sidecar dir) — rebase it
        // with the file key so the clone's probes resolve the filters
        if (t.length == 5 && t(4) == BloomSuffix)
          Seq(abs(t(0)), t(1), abs(t(2)), t(3), t(4)).mkString("|")
        else (abs(t(0)) +: t.drop(1)).mkString("|")
      }
    val schemaB64 = snap.schema.map(encodeSchema)
    val metaLines = snap.metas.toSeq
      .map { case (k, value) => metaPayload(k, value) } :+
      metaPayload("clone-source", s"$srcRoot@$v")
    require(tryCommit(spark, dst, 0L, adds, Seq.empty, Some("clone"),
      schemaB64, Seq.empty, statsLines, dvLines, metaLines),
      s"txlog: clone target $dst claimed by a concurrent writer")
    0L
  }

  /** DESCRIBE HISTORY: one row per commit — version, kind, action
    * counts, txn markers, and the commit file's (monotonized)
    * timestamp. Driver-side log scan, bounded by commit count. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"txlog: no commits in $table")
    val f = fs(spark, logDir(table))
    var maxTs = 0L
    val rows = vs.map { v =>
      val path = commitPath(table, v)
      val actions = readLogFile(spark, path)
      val counts = actions.groupBy(_._1).view.mapValues(_.size).toMap
      val kind = actions.collectFirst { case ("tag", k) => k }.getOrElse(
        if (counts.contains("schema") && !counts.contains("add") &&
          !counts.contains("remove")) "schema-change"
        else "append")
      val txns = actions.collect { case ("txn", t) => t }.mkString(",")
      // monotonized mtimes (a copied/restored log dir can have ties or
      // inversions; time travel by timestamp needs a monotone mapping)
      maxTs = math.max(maxTs, f.getFileStatus(path).getModificationTime)
      (v, kind, counts.getOrElse("add", 0), counts.getOrElse("remove", 0),
        counts.getOrElse("dv", 0), counts.contains("schema"), txns, maxTs)
    }
    spark.createDataFrame(rows).toDF("version", "kind", "n_adds",
      "n_removes", "n_dvs", "declares_schema", "txn_markers", "timestamp_ms")
  }

  /** The latest version whose (monotonized) commit timestamp is at or
    * before `tsMillis` — timestamp-based time travel ("train on the
    * corpus as of last midnight"), resolved from the log files' own
    * modification times exactly as the public Delta protocol does. */
  def versionAtTime(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"txlog: no commits in $table")
    val f = fs(spark, logDir(table))
    var maxTs = 0L
    val stamped = vs.map { v =>
      maxTs = math.max(maxTs,
        f.getFileStatus(commitPath(table, v)).getModificationTime)
      (v, maxTs)
    }
    stamped.takeWhile(_._2 <= tsMillis).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"txlog: no commit in $table at or before timestamp $tsMillis " +
          s"(first commit: ${stamped.head._2})"))
  }

  /** [[read]] pinned by wall-clock timestamp instead of version. */
  def readAsOfTime(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAtTime(spark, table, tsMillis)))

  /** Replace the table's contents with `df` in one commit — how a
    * [[graft.operators.Merge.mergeUpsert]] result (or any recomputed
    * snapshot) LANDS as a new version while every older version stays
    * readable: the copy-on-write transaction, with the old snapshot as
    * free time travel. */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long =
    replaceCommit(spark, table, df, "overwrite")

  /** Reclaim data files no retained version references — the storage
    * half of the lifecycle: without it a copy-on-write table only ever
    * GROWS (every compaction/overwrite leaves the full old snapshot on
    * disk), which is exactly the cost that matters at 100 TB. Retains
    * the last `retainLast` versions' file sets; anything referenced
    * ONLY by older versions is deleted, and the read watermark rises so
    * a time travel into the vacuumed range fails LOUDLY at the API
    * (not with a missing-file scan error mid-job). The log files
    * themselves stay (tiny, and replay needs the full prefix).
    *
    * `minFileAgeMs`: concurrency horizon — a data file younger than
    * this is never deleted even if unreferenced, because it may belong
    * to an IN-FLIGHT writer that has written data but not yet claimed
    * its commit (the public lakehouse retention-period idea; Delta
    * defaults to 7 days). The default is 24 HOURS: the horizon exists
    * to backstop crashed writers, not to bound legitimate write
    * duration — a 100 TB compaction's data-write phase can easily run
    * for hours, and reclaiming its not-yet-committed files would let
    * the subsequent commit reference deleted files (silent corruption
    * until scan time). 0 keeps the single-writer behavior: delete
    * every unreferenced file immediately.
    *
    * `dryRun`: report the files a real vacuum would reclaim, delete
    * nothing, leave the watermark untouched — the Delta `VACUUM ...
    * DRY RUN` audit step before an irreversible retention trim. */
  def vacuum(spark: SparkSession, table: String,
             retainLast: Int = 1, minFileAgeMs: Long = 86400000L,
             dryRun: Boolean = false): Seq[String] = {
    require(retainLast >= 1, "txlog: must retain at least the latest version")
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"txlog: nothing to vacuum in $table")
    val retained = vs.takeRight(retainLast)
    // the retention CUTOFF is fixed from the log as first read (it
    // becomes the watermark). Candidate files are enumerated first and
    // the referenced set is computed from a log re-read AFTER the
    // listing, so any commit that lands while we walk the data tree —
    // a concurrent append, a compaction that won an OCC race — keeps
    // its files. What the re-read CANNOT see is a writer whose data
    // files exist but whose commit hasn't landed yet; that window is
    // covered by the age horizon, which is why minFileAgeMs defaults
    // to 24 hours (Delta's equivalent default is 7 days). Pass 0
    // only in single-writer contexts: it disables the horizon entirely
    // (exact, immune to same-millisecond modification-time ties).
    val cutoff = retained.head
    val deleteBefore =
      if (minFileAgeMs == 0L) Long.MaxValue
      else System.currentTimeMillis() - minFileAgeMs
    val dataRoot = new Path(table, "data")
    val f = fs(spark, dataRoot)
    // qualify BOTH sides before relativizing: listFiles returns
    // scheme-qualified paths (file:/…) while `table` is usually bare —
    // a scheme mismatch would relativize to the absolute path, match
    // nothing, and delete the retained files too (the spec pins this)
    val rootPrefix = f.makeQualified(new Path(table)).toString + "/"
    val candidates = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
    if (f.exists(dataRoot)) {
      val it = f.listFiles(dataRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val full = st.getPath.toString
          require(full.startsWith(rootPrefix),
            s"txlog: data file $full outside table root $rootPrefix")
          if (st.getModificationTime < deleteBefore)
            candidates += ((st.getPath, full.stripPrefix(rootPrefix)))
        }
      }
    }
    // fresh referenced set AFTER the listing: everything at or after
    // the cutoff — including commits that landed mid-walk — stays
    val log = listLog(spark, table)
    val retainedSnaps = log.commits.filter(_ >= cutoff)
      .map(v => replay(spark, table, log, Some(v)))
    val referenced = retainedSnaps.flatMap(_.files).toSet
    // deletion-vector sidecars referenced by any retained version's live
    // bindings must survive too — they are part of those snapshots'
    // read path even though their files list does not name them
    val referencedDvDirs = retainedSnaps.flatMap(_.liveDvs.values).toSet
    // ...and the bloom sidecars referenced by any retained version's
    // live bloom lines — same part-of-the-read-path rule as dv dirs
    val referencedBloomDirs = retainedSnaps.flatMap(bloomDirsIn).toSet
    val referencedSidecarDirs = referencedDvDirs ++ referencedBloomDirs
    def underReferencedSidecar(rel: String): Boolean =
      referencedSidecarDirs.exists(d => rel.startsWith(d + "/"))
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    candidates.foreach { case (p, rel) =>
      if (!referenced.contains(rel) && !underReferencedSidecar(rel)) {
        if (!dryRun) f.delete(p, false)
        removed += rel
      }
    }
    // the streaming sink's `_staging` tree: an epoch that COMMITS (or
    // aborts) deletes its own dir, so any staged file older than the
    // age horizon belongs to a query that died mid-epoch and will
    // re-stage from its checkpoint — never referenced by any commit,
    // reclaimable without a log check (the same horizon covers a LIVE
    // epoch's in-flight files, exactly as it covers in-flight appends)
    val stagingRoot = new Path(table, "_staging")
    if (f.exists(stagingRoot)) {
      val it = f.listFiles(stagingRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getModificationTime < deleteBefore) {
          val full = st.getPath.toString
          require(full.startsWith(rootPrefix),
            s"txlog: staged file $full outside table root $rootPrefix")
          if (!dryRun) f.delete(st.getPath, false)
          removed += full.stripPrefix(rootPrefix)
        }
      }
    }
    if (dryRun) return removed.toSeq.sorted // nothing moved, no watermark
    // the watermark is REPLACED atomically (write-temp + rename): a
    // racing reader of a half-written watermark would otherwise parse a
    // truncated number and mis-gate its time travel
    val wp = watermarkPath(table)
    if (f.getUri.getScheme == "file") {
      val local = java.nio.file.Paths.get(wp.toUri.getPath)
      val tmp = local.resolveSibling(s".${local.getFileName}.${uniq()}.tmp")
      java.nio.file.Files.write(tmp, retained.head.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, local,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = f.create(wp, true)
      try out.write(retained.head.toString.getBytes("UTF-8")) finally out.close()
    }
    removed.toSeq.sorted
  }

  /** All (action, payload) lines of commit `version` — for consumers
    * that classify a commit themselves ([[TxLogStreamProvider]]'s CDF
    * mode plans delete-image partitions from the dv lines). */
  private[graft] def commitActions(spark: SparkSession, table: String,
                                   version: Long): Seq[(String, String)] =
    readLogFile(spark, commitPath(table, version))

  /** The kind tag of commit `version`: None for a plain append,
    * Some("compact"/"overwrite") for rewrites (untagged pre-r10 rewrite
    * commits read as None but still carry removes). */
  def commitKind(spark: SparkSession, table: String, version: Long): Option[String] =
    readLogFile(spark, commitPath(table, version))
      .collectFirst { case ("tag", k) => k }

  /** True iff commit `version` removes files — i.e. it rewrites prior
    * table state (compact/overwrite/merge) rather than purely appending.
    * Change-feed-style consumers ([[graft.operators.MatView]]) branch on
    * this to decide whether a delta fold is still exact. */
  def commitRemoves(spark: SparkSession, table: String, version: Long): Boolean =
    readLogFile(spark, commitPath(table, version))
      .exists(_._1 == "remove")

  /** True iff commit `version` changes already-delivered DATA — it
    * removes files OR binds deletion vectors (a MOR delete removes no
    * file yet still deletes rows). This, not [[commitRemoves]], is the
    * predicate change-feed-style consumers must branch on. */
  def commitChangesData(spark: SparkSession, table: String, version: Long): Boolean =
    readLogFile(spark, commitPath(table, version))
      .exists(a => a._1 == "remove" || a._1 == "dv")

  /** True iff commit `version` touches ROWS at all (adds, removes, or
    * DV bindings). False for the row-invisible metadata commits —
    * schema changes, constraint add/drop — which fold to NOTHING in an
    * incremental consumer (a materialized-view refresh over a range of
    * only such commits is a no-op, not a "no row changes" error). */
  def commitTouchesRows(spark: SparkSession, table: String, version: Long): Boolean =
    readLogFile(spark, commitPath(table, version))
      .exists(a => a._1 == "add" || a._1 == "remove" || a._1 == "dv")

  /** The files a change-feed consumer should DELIVER for commit
    * `version`:
    *  - plain append → its added files;
    *  - compaction → NOTHING (a compaction rewrites already-delivered
    *    rows and appends none; skipping it is exact, not lossy);
    *  - overwrite (or an untagged commit carrying removes) → LOUD
    *    failure unless `skipChangeCommits` — its rows ARE data changes
    *    an append-only feed cannot express, and silently re-delivering
    *    or dropping them would corrupt any downstream consumer. The
    *    escape hatch mirrors Delta's public `skipChangeCommits` option:
    *    the consumer explicitly accepts that rewritten data is skipped. */
  private[sources] def appendedFiles(spark: SparkSession, table: String,
                                     version: Long,
                                     skipChangeCommits: Boolean = false): Seq[String] = {
    val path = commitPath(table, version)
    val actions = readLogFile(spark, path)
    val kind = actions.collectFirst { case ("tag", k) => k }
    // a dv binding is a data change even with zero removes (MOR delete)
    val isRewrite = actions.exists(a => a._1 == "remove" || a._1 == "dv")
    if (kind.contains("compact")) Seq.empty
    // any removes, or any non-compact tag (compact returned above),
    // means this commit rewrites delivered data
    else if (isRewrite || kind.nonEmpty) {
      if (skipChangeCommits) Seq.empty
      else throw new IllegalArgumentException(
        s"txlog: version $version of $table is a rewrite " +
          s"(${kind.getOrElse("untagged")}), not an append — the change feed " +
          "delivers append commits only (skipChangeCommits=true skips rewrites)")
    } else actions.collect { case ("add", p) => p }
  }

  /** Batch CHANGE FEED: the rows appended by commits in
    * `(fromExclusive, toInclusive]`, tagged with `_commit_version` — the
    * incremental-consumption primitive ("process exactly the data that
    * arrived between training snapshot V1 and V2", reproducibly,
    * without diffing snapshots). Reads only the delta's files; the
    * table's accumulated history is never rescanned. Fails loudly if
    * the range contains a rewrite commit (see [[appendedFiles]]) or
    * names versions that don't exist. */
  def readChanges(spark: SparkSession, table: String,
                  fromExclusive: Long, toInclusive: Long): DataFrame = {
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"txlog: no commits in $table")
    require(toInclusive <= vs.last,
      s"txlog: version $toInclusive does not exist yet (latest: ${vs.last})")
    require(fromExclusive <= toInclusive,
      s"txlog: empty/inverted change range ($fromExclusive, $toInclusive]")
    val range = vs.filter(v => v > fromExclusive && v <= toInclusive)
    require(range.nonEmpty,
      s"txlog: no commits in ($fromExclusive, $toInclusive]")
    // compactions deliver no rows (appendedFiles → empty) — drop them;
    // overwrites in range fail loudly inside appendedFiles
    val delivering = range
      .map(v => v -> appendedFiles(spark, table, v)).filter(_._2.nonEmpty)
    // a delivering version below the vacuum watermark may reference
    // reclaimed files — fail at the API, not with a missing-file scan
    // error mid-job (the same loud contract as read/asOf)
    locally {
      val wm = earliestReadableVersion(spark, table)
      delivering.map(_._1).find(_ < wm).foreach { v =>
        throw new IllegalArgumentException(
          s"txlog: change-feed version $v of $table was vacuumed " +
            s"(earliest readable: $wm) — its appended files may be reclaimed")
      }
    }
    require(delivering.nonEmpty,
      s"txlog: no appended rows in ($fromExclusive, $toInclusive] " +
        "(only compaction commits)")
    // under a declared schema every slice reads with the schema as of
    // the RANGE END, so slices from both sides of an evolution align
    // (pre-evolution files read the new column as null, promoted types)
    val declared = schemaAt(spark, table, Some(toInclusive))
    delivering.map { case (v, files) =>
      // the appending commit records its files' sizes
      val sizes = recordedSizes(readLogFile(spark, commitPath(table, v))
        .collect { case ("stats", p) => p })
      // physical read + logical rename: slices from both sides of a
      // RENAME align under the range-end logical names
      val slice = logicalize(scanFiles(spark, table, files, declared, sizes), declared)
      slice.withColumn("_commit_version", org.apache.spark.sql.functions.lit(v))
    }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // ROW-LEVEL CHANGE FEED (the public Delta CDF `_change_type` idea):
  // deliver every commit in a range as insert/delete ROW IMAGES, so
  // consumers that can invert their aggregates (count/sum) fold deletes
  // instead of recomputing, and CDC pipelines replicate MOR deletes
  // incrementally. Images are RECONSTRUCTED from the log + immutable
  // data files (no extra write-side artifacts):
  //  - append        → its files' rows as inserts (delta-file scan);
  //  - compact       → nothing (rows unchanged by definition);
  //  - MOR delete /
  //    MOR merge     → deletes = rows at the positions NEWLY masked by
  //                    this commit's dv bindings (new vector ∖ prior
  //                    vector, per file — positional, bounded by the
  //                    touched files); merge adds its new images as
  //                    inserts;
  //  - CoW delete    → deletes = touched files' live rows ∖ the kept
  //                    rows it wrote (bounded by the touched files);
  //  - overwrite /
  //    restore (and untagged legacy rewrites) → full snapshot multiset
  //                    diff v-1 ↔ v — the honest general fallback, the
  //                    one shape where reconstruction costs two
  //                    snapshot scans (callers that need these cheap
  //                    should route through delete/merge commits).
  // ---------------------------------------------------------------------

  /** Row-level change feed for `(fromExclusive, toInclusive]`: the
    * table's columns (under the range-end schema, like [[readChanges]])
    * plus `_change_type` ("insert"/"delete") and `_commit_version`.
    * Unlike [[readChanges]], REWRITE commits are delivered as
    * insert/delete row images instead of failing. Multiset-exact: a
    * row appearing k times delivers k images. */
  def readChangesCdf(spark: SparkSession, table: String,
                     fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val log = listLog(spark, table)
    val vs = log.commits
    require(vs.nonEmpty, s"txlog: no commits in $table")
    require(toInclusive <= vs.last,
      s"txlog: version $toInclusive does not exist yet (latest: ${vs.last})")
    require(fromExclusive <= toInclusive,
      s"txlog: empty/inverted change range ($fromExclusive, $toInclusive]")
    val range = vs.filter(v => v > fromExclusive && v <= toInclusive)
    require(range.nonEmpty,
      s"txlog: no commits in ($fromExclusive, $toInclusive]")
    def at(v: Long): Snapshot = replay(spark, table, log, Some(v))
    val declared = at(toInclusive).schema
    val wm = earliestReadableVersion(spark, table)
    // one slice reader: files (recorded in `recs`) scanned under the
    // RANGE-END schema so slices from both sides of an evolution/rename
    // align (readChanges' contract), with the given dv state anti-applied
    def slice(recs: Snapshot, files: Seq[String], dvs: Map[String, String]): DataFrame =
      scanLive(spark, table, recs, files, declared, dvs)
    def stamp(df: DataFrame, kind: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
    // positional delete images: the rows of `bindings`' files sitting at
    // positions present in the NEW vectors but not the prior ones
    def morDeletes(v: Long, bindings: Seq[(String, String)]): Option[DataFrame] = {
      val bound = bindings.filter(_._2 != DvUnbound)
      if (bound.isEmpty) return None
      val names = bound.map(_._1.split('/').last)
      val (now, before) = (at(v), at(v - 1))
      val newPos = dvScan(spark, table, now, bound.map(_._2))
        .filter(col("file").isin(names: _*))
      val prior = before.dvs.toMap
      val priorDirs = bound.flatMap(b => prior.get(b._1))
        .filter(_ != DvUnbound).distinct
      val freshPlan = if (priorDirs.isEmpty) newPos
        else {
          val priorNames = bound
            .filter(b => prior.get(b._1).exists(_ != DvUnbound))
            .map(_._1.split('/').last)
          newPos.exceptAll(dvScan(spark, table, before, priorDirs)
            .filter(col("file").isin(priorNames: _*)))
        }
      // ONE action where the r16 shape paid three (checkpoint + isEmpty +
      // the broadcast build's own job): collect the newly-masked (file,
      // pos) set — the SAME bytes the broadcast join below was already
      // shipping through the driver, so no new driver-size assumption —
      // and hand the join a driver-local relation, whose broadcast builds
      // without submitting a job (r17, guide §2.4).
      val freshRows = freshPlan.collect()
      if (freshRows.isEmpty) return None
      val fresh = spark.createDataFrame(
        java.util.Arrays.asList(freshRows: _*), freshPlan.schema)
      val imaged = scanFiles(spark, table, bound.map(_._1), declared, now.sizes)
        .withColumn("_g_dv_file", col("_metadata.file_name"))
        .withColumn("_g_dv_pos", col("_metadata.row_index"))
        .join(broadcast(fresh),
          col("_g_dv_file") === fresh("file") && col("_g_dv_pos") === fresh("pos"))
        .drop("_g_dv_file", "_g_dv_pos", "file", "pos")
      Some(logicalize(imaged, declared))
    }
    val slices: Seq[DataFrame] = range.flatMap { v =>
      val actions = readLogFile(spark, commitPath(table, v))
      val kind = actions.collectFirst { case ("tag", k) => k }
      val adds = actions.collect { case ("add", p) => p }
      val removes = actions.collect { case ("remove", p) => p }
      val dvLines = actions.collect { case ("dv", p) =>
        val t = p.split('|'); (t(0), t(1))
      }
      def requireReadable(need: Long): Unit = require(need >= wm,
        s"txlog: change-feed reconstruction for version $v of $table needs " +
          s"vacuumed version $need (earliest readable: $wm)")
      kind match {
        case Some("compact") => Seq.empty // rows unchanged by contract
        case None if removes.isEmpty && dvLines.isEmpty =>
          if (adds.isEmpty) Seq.empty // schema-only / marker-only commit
          else {
            requireReadable(v)
            Seq(stamp(slice(at(v), adds, Map.empty), "insert", v))
          }
        case Some("delete") if removes.isEmpty =>
          requireReadable(v - 1)
          morDeletes(v, dvLines).map(stamp(_, "delete", v)).toSeq
        case Some("merge") =>
          requireReadable(v - 1)
          val ins = if (adds.isEmpty) Seq.empty
            else Seq(stamp(slice(at(v), adds, Map.empty), "insert", v))
          ins ++ morDeletes(v, dvLines).map(stamp(_, "delete", v)).toSeq
        case Some("delete") => // copy-on-write: touched-file-bounded diff
          requireReadable(v - 1)
          val (before, after) = (at(v - 1), at(v))
          val priorDvs = before.liveDvs.filter(kv => removes.contains(kv._1))
          val gone = slice(before, removes, priorDvs)
            .exceptAll(if (adds.isEmpty) slice(before, removes, priorDvs).limit(0)
              else slice(after, adds, Map.empty))
          Seq(stamp(gone, "delete", v))
        case _ => // overwrite / restore / legacy rewrite: full snapshot diff
          requireReadable(v - 1)
          val (before, after) = (at(v - 1), at(v))
          val pre = slice(before, before.files, before.liveDvs)
          val post = slice(after, after.files, after.liveDvs)
          Seq(stamp(post.exceptAll(pre), "insert", v),
            stamp(pre.exceptAll(post), "delete", v))
      }
    }
    require(slices.nonEmpty,
      s"txlog: no row changes in ($fromExclusive, $toInclusive]")
    slices.reduce(_ unionByName _)
  }

  /** MERGE INTO, MERGE-ON-READ: apply `updates` (full new images, one
    * row per key) to the table in ONE commit that binds the superseded
    * rows' positions to deletion vectors and APPENDS the new images —
    * zero data files rewritten, moved, or removed, which is what an
    * upsert/GDPR-update against a 100 TB table should cost (the
    * copy-on-write [[graft.operators.Merge.mergeUpsert]] rewrites every
    * touched file). Matched keys are superseded (masked + re-inserted);
    * unmatched keys are plain inserts. The commit is tagged "merge": the
    * change feed ([[readChangesCdf]]) delivers its delete images
    * positionally and its inserts from the appended files, and
    * invertible consumers ([[graft.operators.MatView]]) fold it.
    * Duplicate keys in `updates` fail loudly (nondeterministic merge).
    *
    * Identity columns (r16): matched keys KEEP their existing id
    * untouched; unmatched keys MINT fresh ids whose high-water advance
    * rides inside this commit (serializable, so the reservation can
    * never go stale); a batch carrying explicit id values, or a merge
    * KEYED on the identity column, is rejected loudly.
    * Returns the committed version. */
  def mergeMor(spark: SparkSession, table: String, updatesIn: DataFrame,
               keys: Seq[String], evolve: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    require(keys.nonEmpty, "txlog: mergeMor needs at least one key column")
    val snap = latestSnapshot(spark, table, "merge")
    val base = snap.version
    // identity columns (r16): a MERGE is the default upsert idiom on an
    // identity table — matched keys KEEP their existing id untouched
    // (joined back from the same address scan that computes the mask),
    // not-matched keys mint fresh ids against the high-water observed
    // at `base`, and the advanced high-water rides INSIDE the merge
    // commit. Race-proof without a re-mint loop because a merge is
    // serializable: commitRewrite aborts on ANY intervening commit, so
    // the commit landing at base+1 PROVES no other writer advanced the
    // sequence since we read it. Keying ON an identity column is
    // rejected — GENERATED ALWAYS means a source can never legitimately
    // carry the ids an upsert-by-id would need.
    val idCols = snap.identities.toSeq.sortBy(_._1)
    idCols.foreach { case (n, _) => require(!keys.contains(n),
      s"txlog: merge into $table cannot key on identity column '$n' — " +
        "it is GENERATED ALWAYS AS IDENTITY, so a merge source never " +
        "legitimately carries its values; key on the natural key instead") }
    val cleaned = idCols.foldLeft(updatesIn) { case (acc, (n, _)) =>
      if (!acc.columns.contains(n)) acc
      else {
        import org.apache.spark.sql.functions.{sum, when}
        val r = acc.agg(sum(when(col(n).isNotNull, 1L).otherwise(0L))).head()
        val nonNull = if (r.isNullAt(0)) 0L else r.getLong(0)
        require(nonNull == 0L,
          s"txlog: merge batch carries $nonNull explicit values for " +
            s"identity column '$n' — it is GENERATED ALWAYS AS IDENTITY")
        acc.drop(n)
      }
    }
    // complete/validate generated columns BEFORE evolution sees the
    // batch schema — a merge image must land the stored derivation
    val updates = applyGeneratedColumns(table, snap, cleaned, "merge")
    // `evolve` (r15): `MERGE WITH SCHEMA EVOLUTION` — the batch's extra
    // columns are ADDED to the declared schema (old files read them as
    // null) and its wider numeric types WIDEN it (old files read
    // promoted), under exactly [[evolveSchema]]'s contract; anything
    // incompatible fails loudly before any write. The schema action
    // rides INSIDE the merge commit, so the evolution is atomic with
    // the data that introduced it and time travel reads each version's
    // own schema. Without the flag, a batch beyond the declared schema
    // stays a loud error (requireFitsDeclared) — evolution is opt-in.
    val evolution: Option[StructType] = if (!evolve) {
      requireFitsDeclared(snap, updates, "merge")
      None
    } else {
      val cur = snap.schema.getOrElse(inferredSchema(spark, table, snap.files))
      keys.foreach(k => require(cur.fieldNames.contains(k),
        s"txlog: merge key '$k' is not a column of $table — a merge " +
          "cannot key on a column the evolution itself introduces"))
      val evolved = evolveSchema(cur, updates.schema)
      val needsDeclare = snap.schema match {
        case Some(d) => evolved != d
        case None => evolved != StructType(cur.fields.map(_.copy(nullable = true)))
      }
      if (!needsDeclare) {
        requireFitsDeclared(snap, updates, "merge")
        None
      } else Some(evolved)
    }
    requireSatisfiesConstraints(table, snap, updates, "merge")
    val dup = updates.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"txlog: merge batch names key (${dup.headOption.map(_.mkString(", "))
        .getOrElse("")}) more than once — a merge must name each key once")
    // bloom-accelerated address scan (r16): when the leading key column
    // carries per-file filters ([[appendWithBloom]]), skip every file
    // whose filter excludes ALL batch keys — no false negatives means a
    // skipped file holds zero superseded rows, so the mask, the
    // duplicate guard, and the identity join-back are unaffected; the
    // merge's scan cost tracks the TOUCHED files, not the table. Capped
    // at [[MaxMergeBloomProbes]] distinct keys (beyond that the
    // driver-side membership sweep stops paying for itself).
    val liveAll = snap.files
    val live = {
      // hash through the TABLE's key type: a legally narrower batch key
      // (upcast at physicalize time) must probe as the stored type, or
      // a hash mismatch would skip files that DO hold matches
      val keyType = evolution.orElse(snap.schema)
        .flatMap(_.fields.find(_.name == keys.head)).map(_.dataType)
      keyType match {
        case None => liveAll // undeclared legacy table: no safe probe type
        case Some(t) =>
          val filters = bloomFiltersIn(spark, table, snap, keys.head)
          lazy val hashes = updates.select(bloomHash(col(keys.head), t)).distinct()
            .limit(MaxMergeBloomProbes + 1).collect().map(_.getLong(0)).toSeq
          if (filters.isEmpty || hashes.length > MaxMergeBloomProbes) liveAll
          else keepBloom(snap, filters, hashes)
      }
    }
    // under an evolution the EVOLVED schema governs every read and
    // write below: old files scan with the new columns null / the
    // widened types promoted (the same read path a declared ADD
    // COLUMN produces), and the images land physicalized to it
    val declared = evolution.orElse(snap.schema)
    // positions of the superseded rows: physical scan (the _metadata
    // struct needs the un-projected scan) + broadcast semi-join on the
    // batch's keys — the 100 TB side never shuffles
    val raw = scanFiles(spark, table, live, declared, snap.sizes)
    val pKeys = keys.map(snap.physical)
    val batchKeys = physicalize(updates.select(keys.map(col): _*).distinct(),
      declared)
    // the hidden _metadata struct resolves only on the scan itself —
    // materialize the address columns BEFORE the semi-join
    val addressed = raw
      .withColumn("_g_dv_file", col("_metadata.file_name"))
      .withColumn("_g_dv_pos", col("_metadata.row_index"))
      .join(broadcast(batchKeys), pKeys, "left_semi")
    // LIVE matched rows only (prior vectors anti-applied, per-file like
    // scanLive): dead physical copies from earlier merges must neither
    // trip the duplicate guard below nor depend on harmless re-masking
    val priorDvs = snap.liveDvs
    val liveMatched = (if (priorDvs.isEmpty) addressed else {
      val boundNames = priorDvs.keys.map(_.split('/').last).toSeq
      val dvRows = dvScan(spark, table, snap, priorDvs.values.toSeq)
        .filter(col("file").isin(boundNames: _*))
      addressed.join(broadcast(dvRows),
        addressed("_g_dv_file") === dvRows("file") &&
          addressed("_g_dv_pos") === dvRows("pos"), "left_anti")
    }).select(pKeys.map(col) ++
        idCols.map { case (n, _) =>
          col(snap.physical(n)).as(s"_g_id_$n")
        } ++ Seq(col("_g_dv_file"), col("_g_dv_pos")): _*)
      .localCheckpoint(true) // narrow (keys+ids+address), consumed twice:
    // the guard and the mask. A keyed merge on a DUPLICATE-keyed target
    // would silently collapse the copies into one image — fail loudly
    // instead (SQL MERGE keeps every copy; this engine's merge is the
    // CDC one-image-per-key upsert, and the two must never blur silently)
    import org.apache.spark.sql.functions.countDistinct
    val guard = liveMatched
      .agg(count(lit(1)), countDistinct(pKeys.head, pKeys.tail: _*)).head()
    val (posCnt, keyCnt) = (guard.getLong(0), guard.getLong(1))
    require(posCnt == keyCnt,
      s"txlog: merge matched $posCnt live rows across $keyCnt keys — " +
        s"$table carries duplicate-keyed rows a keyed merge would " +
        "collapse; deduplicate first (exactDedup / deleteKeysMor)")
    val newPos = liveMatched
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    // identity fill: matched keys inherit their existing id from the
    // address scan (broadcast key→id map, batch-sized); unmatched keys
    // mint [next, next + n·step) — the commit carries the advance
    val (images, idMetas) = if (idCols.isEmpty) (updates, Seq.empty[String])
    else {
      val keyIds = liveMatched.select(
        keys.zip(pKeys).map { case (l, p) => col(p).as(l) } ++
          idCols.map { case (n, _) => col(s"_g_id_$n").as(n) }: _*)
      val enriched = updates.join(broadcast(keyIds), keys, "left")
      val firstId = idCols.head._1
      val toMint = enriched.filter(col(firstId).isNull)
        .drop(idCols.map(_._1): _*)
      val kept = enriched.filter(col(firstId).isNotNull)
      val mintN = toMint.count()
      val minted = idCols.foldLeft(toMint) { case (acc, (n, (_, st, nx))) =>
        assignIdentityIds(acc, n, nx, st)
      }
      (kept.unionByName(minted), idCols.map { case (n, (s0, st, nx)) =>
        metaPayload(IdentityKeyPrefix + n, s"$s0|$st|${nx + mintN * st}")
      })
    }
    // new images land as appended files regardless of match state
    val rel = f"data/v${base + 1}%08d-merge-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(images, declared).write.parquet(dataDir.toString)
    val adds = writtenFiles(spark, table, rel)
    try bindDeletionVectors(spark, table, snap, newPos, live,
      adds = adds, tag = "merge", commitOnNoMatch = true,
      schemaB64 = evolution.map(encodeSchema), metas = idMetas)
    catch { case e: Throwable =>
      fs(spark, dataDir).delete(dataDir, true) // no orphans on a lost race
      throw e
    }
  }

  /** CONDITIONAL merge-on-read MERGE — the full SQL `MERGE INTO` clause
    * algebra ([[mergeMor]] is the canonical-upsert fast path; this is
    * everything else): matched clauses fire FIRST-TRUE-WINS per target
    * row (`WHEN MATCHED [AND cond] THEN UPDATE SET c = expr…` with
    * partial column lists, or `THEN DELETE`); not-matched clauses fire
    * first-true-wins per unmatched SOURCE row (`WHEN NOT MATCHED
    * [AND cond] THEN INSERT`, unassigned columns land typed NULL). A
    * matched row no clause fires for stays untouched; `bySource`
    * clauses (`WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE /
    * DELETE`) fire first-true-wins per target row WITHOUT a source
    * match. Clause conditions and assignment RHS are SQL over a
    * namespace where the TARGET's logical columns bind BARE and the
    * source's bind as `_src_<name>` (insert values see only `_src_`
    * columns; BY SOURCE clauses see only target columns).
    *
    * Lands as ONE "merge" commit with [[mergeMor]]'s physical shape —
    * fired target positions into a deletion vector, update + insert
    * images appended, zero files rewritten — so the change feed and
    * [[graft.operators.MatView]]'s signed fold treat it identically.
    * SQL cardinality rule enforced: two source rows firing for the same
    * target row fail loudly (never a silent double-image). Probe-first:
    * nothing fired, nothing committed.
    *
    * `residual` (r15) extends the ON beyond key equality: match =
    * `keys equal AND residual`, where residual is SQL over the merge
    * namespace (target bare, source `_src_<name>`) — the
    * range/point-in-interval merge (`ON t.id = s.id AND t.ts >= s.lo
    * AND t.ts < s.hi`). The pair join STAYS a broadcast hash join on
    * the equi keys with the residual as its non-equi filter, so the
    * plan shape is unchanged; a target row equi-matching a source row
    * that fails the residual is NOT matched (it is eligible for BY
    * SOURCE clauses, and the source row for NOT MATCHED INSERT) —
    * exactly SQL MERGE's ON semantics. A pure-theta ON (no equi key at
    * all) is rejected loudly upstream: with no hash key the pair join
    * would be a nested loop over the 100 TB side.
    *
    * Scale shape: the target side never shuffles OR broadcasts — both
    * classification joins stream the target against the BROADCAST
    * batch (the matched side joins src in; the not-matched side
    * anti-joins src's row ids against the pair join's matched ids, a
    * ≤|src| frame — never a distinct of the 100 TB side's keys, r14
    * advice); masks and images are batch-sized. */
  def mergeMorConditional(spark: SparkSession, table: String,
                          source: DataFrame, keys: Seq[String],
                          matched: Seq[MergeMatchedClause],
                          notMatched: Seq[MergeNotMatchedInsert],
                          bySource: Seq[MergeMatchedClause] = Seq.empty,
                          residual: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count,
      countDistinct, expr, lit, monotonically_increasing_id, when}
    // pure-theta ON (r16): an ON with NO equi key is accepted when a
    // residual is given — the pair join lowers to a broadcast
    // nested-loop join (the target STREAMS once against the broadcast
    // batch, per-row cost |src| residual evaluations), which is the
    // honest bounded-build-side plan for a theta merge and still never
    // shuffles or broadcasts the 100 TB side. An ON with neither keys
    // nor residual would be a cross join — rejected loudly.
    require(keys.nonEmpty || residual.nonEmpty,
      "txlog: merge needs equi key columns or a residual ON condition " +
        "(pure-theta) — an ON with neither is a cross join")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "txlog: merge needs at least one WHEN clause")
    keys.foreach(k => require(source.columns.contains(k),
      s"txlog: merge source carries no key column '$k'"))
    val snap = latestSnapshot(spark, table, "merge")
    val base = snap.version
    // identity columns (r16): matched/by-source images keep the target
    // row's id untouched (they project the target's columns, so the id
    // rides through — SET naming it is rejected below, mirroring MOR
    // UPDATE); not-matched INSERT images mint fresh ids against the
    // high-water at `base`, whose advance rides inside the merge commit
    // — serializable like mergeMor, so no re-mint loop is needed.
    val idCols = snap.identities.toSeq.sortBy(_._1)
    val idents = idCols.map(_._1).toSet
    idCols.foreach { case (n, _) => require(!keys.contains(n),
      s"txlog: merge into $table cannot key on identity column '$n' — " +
        "it is GENERATED ALWAYS AS IDENTITY; key on the natural key") }
    val live = snap.files
    val declared = snap.schema
    val target = liveAddressed(spark, table, snap)
    val tgtSchema = org.apache.spark.sql.types.StructType(
      target.schema.filterNot(f => f.name.startsWith("_g_dv_")))
    val logicalCols = tgtSchema.fieldNames.toSeq
    require(logicalCols.forall(c => !c.startsWith("_src_")),
      "txlog: conditional merge reserves the _src_ column prefix")
    (matched ++ bySource).foreach {
      case MergeMatchedUpdate(_, sets) =>
        require(sets.nonEmpty, "txlog: UPDATE clause assigns no column")
        sets.foreach { case (c, _) =>
          require(logicalCols.contains(c),
            s"txlog: merge UPDATE assigns unknown column '$c'")
          require(!idents.contains(c),
            s"txlog: merge cannot assign to identity column '$c' — it is " +
              "GENERATED ALWAYS AS IDENTITY (matched rows keep their id)") }
      case _: MergeMatchedDelete => ()
    }
    notMatched.foreach { ins =>
      require(ins.values.nonEmpty, "txlog: INSERT clause assigns no column")
      ins.values.foreach { case (c, _) =>
        require(logicalCols.contains(c),
          s"txlog: merge INSERT assigns unknown column '$c'")
        require(!idents.contains(c),
          s"txlog: merge INSERT cannot name identity column '$c' — it is " +
            "GENERATED ALWAYS AS IDENTITY (inserted rows mint fresh ids)") }
    }
    // the source, namespaced: every column rides as _src_<name>, plus a
    // per-row id (_g_src_rid) the not-matched classification keys on —
    // under a residual ON, "this source row matched" is not a function
    // of its key columns alone. Tiny relative to the target at 100 TB —
    // broadcast both joins below.
    val src = source.select(
      source.columns.map(c => col(c).as(s"_src_$c")).toSeq: _*)
      .withColumn("_g_src_rid", monotonically_increasing_id())
      .localCheckpoint(true) // pin the ids: both classification joins
    // must see the SAME id per row, and the source may be nondeterministic
    def fireCol(conds: Seq[Option[String]]): org.apache.spark.sql.Column =
      // first-true-wins: clause i fires iff its condition is true and no
      // earlier clause's was (NULL conditions read as false, SQL WHEN)
      conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), rest) =>
        when(coalesce(c.map(expr).getOrElse(lit(true)), lit(false)),
          lit(i)).otherwise(rest)
      }
    // ---- matched side: pair join (broadcast hash on the equi keys,
    // residual as its non-equi filter), fire, mask + update images (an
    // insert-only merge constant-folds this side to empty — the
    // lit(false) filter keeps the target from being scanned for it) ----
    val equiCond = keys.map(k => target(k) === src(s"_src_$k"))
      .reduceOption(_ && _)
    val joinCond = (equiCond, residual.map(expr)) match {
      case (Some(e), Some(r)) => e && r
      case (Some(e), None) => e
      case (None, Some(r)) => r // pure-theta: broadcast nested loop
      case (None, None) => lit(false) // unreachable (require above)
    }
    val fired = target.join(broadcast(src), joinCond, "inner")
      .withColumn("_g_fire", fireCol(matched.map(_.cond)))
      .filter(if (matched.isEmpty) lit(false) else col("_g_fire") >= 0)
      .localCheckpoint(true) // batch-sized; guard + mask + images below
    val guard = fired.agg(count(lit(1)),
      countDistinct(col("_g_dv_file"), col("_g_dv_pos"))).head()
    require(guard.getLong(0) == guard.getLong(1),
      s"txlog: merge fired ${guard.getLong(0)} times across " +
        s"${guard.getLong(1)} target rows — multiple source rows match " +
        "one target row (SQL MERGE cardinality violation); deduplicate " +
        "the source")
    val newPos = fired
      .select(col("_g_dv_file").as("file"), col("_g_dv_pos").as("pos"))
    val updIdx = matched.zipWithIndex.collect {
      case (u: MergeMatchedUpdate, i) => (u.sets.toMap, i)
    }
    val updateImages = fired
      .filter(col("_g_fire").isin(updIdx.map(_._2): _*))
      .select(logicalCols.map { c =>
        updIdx.foldRight(col(c)) { case ((sets, i), older) =>
          sets.get(c).fold(older)(rhs =>
            when(col("_g_fire") === i, expr(rhs)).otherwise(older))
        }.as(c)
      }: _*)
    // ---- unmatched-TARGET side (WHEN NOT MATCHED BY SOURCE): the
    // source keys broadcast into a left-anti probe of the one target
    // scan; masks and images stay bounded by the FIRED rows, so a
    // selective condition keeps the commit batch-sized even though the
    // clause's domain is the whole unmatched table ----
    val bySourceSides = if (bySource.isEmpty) None else {
      // "no source match" under a residual ON must test the FULL ON,
      // not just key presence — anti-join the streamed target against
      // the broadcast source on equi+residual; without a residual the
      // narrower distinct-keys probe keeps the broadcast minimal
      val unmatchedTarget = residual match {
        case None =>
          val srcKeys = src
            .select(keys.map(k => col(s"_src_$k").as(k)): _*).distinct()
          target.join(broadcast(srcKeys), keys, "left_anti")
        case Some(_) => target.join(broadcast(src), joinCond, "left_anti")
      }
      val firedBs = unmatchedTarget
        .withColumn("_g_fire", fireCol(bySource.map(_.cond)))
        .filter(col("_g_fire") >= 0)
        .localCheckpoint(true) // consumed by the mask AND the images
      val bsUpdIdx = bySource.zipWithIndex.collect {
        case (u: MergeMatchedUpdate, i) => (u.sets.toMap, i)
      }
      val img = firedBs
        .filter(col("_g_fire").isin(bsUpdIdx.map(_._2): _*))
        .select(logicalCols.map { c =>
          bsUpdIdx.foldRight(col(c)) { case ((sets, i), older) =>
            sets.get(c).fold(older)(rhs =>
              when(col("_g_fire") === i, expr(rhs)).otherwise(older))
          }.as(c)
        }: _*)
      Some((firedBs.select(col("_g_dv_file").as("file"),
        col("_g_dv_pos").as("pos")), img))
    }
    // ---- unmatched-source side: a source row is unmatched iff NO
    // target row satisfied the full ON for it — classified by the pair
    // join's matched source-row ids (≤|src|, broadcast), NEVER by a
    // distinct of the target's keys (unbounded at 100 TB, and
    // collecting it for broadcast risks driver OOM — r14 advice). The
    // classification pass streams the target scan against the
    // broadcast batch, prunes to the ON's columns, and shuffles
    // nothing. ----
    val insImages = if (notMatched.isEmpty) None else {
      val matchedRids = target.join(broadcast(src), joinCond, "inner")
        .select(col("_g_src_rid")).distinct()
      val unmatched = src.join(broadcast(matchedRids), Seq("_g_src_rid"),
        "left_anti")
        .withColumn("_g_fire", fireCol(notMatched.map(_.cond)))
        .filter(col("_g_fire") >= 0)
      // r14 advice: an INSERT value whose resolved type does not WIDEN
      // to the declared column must fail loudly BEFORE the cast below
      // wraps/nulls it (the UPDATE path lands uncast and is checked by
      // requireFitsDeclared; this makes the INSERT path as loud).
      // Values bind only _src_ columns, so they resolve against src.
      notMatched.foreach(_.values.foreach { case (c, rhs) =>
        val f = tgtSchema(tgtSchema.fieldIndex(c))
        val t = src.select(expr(rhs).as("_g_t")).schema.head.dataType
        require(t == org.apache.spark.sql.types.NullType || t == f.dataType ||
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(t, f.dataType),
          s"txlog: merge INSERT value for '$c' has type " +
            s"${t.catalogString}, which does not widen to the declared " +
            s"${f.dataType.catalogString} — cast explicitly in the INSERT " +
            "clause if the narrowing is intended")
      })
      Some(unmatched.select(tgtSchema.map { f =>
        notMatched.zipWithIndex.foldRight(
          lit(null).cast(f.dataType): org.apache.spark.sql.Column) {
          case ((ins, i), older) =>
            ins.values.toMap.get(f.name).fold(older)(rhs =>
              when(col("_g_fire") === i, expr(rhs).cast(f.dataType))
                .otherwise(older))
        }.as(f.name)
      }: _*))
    }
    val allPos = bySourceSides.fold(newPos)(s => newPos.unionByName(s._1))
    val withBs = bySourceSides.fold(updateImages)(s =>
      updateImages.unionByName(s._2))
    // identity mint for the INSERT images only — update/by-source images
    // carry the target row's existing id through their projection. The
    // typed-NULL id the unassigned-column fill produced is replaced by
    // the minted value; the high-water advance rides the merge commit.
    val (insMinted, idMetas) =
      if (idCols.isEmpty || insImages.isEmpty) (insImages, Seq.empty[String])
      else {
        val pinned = insImages.get.localCheckpoint(true) // count + write
        val mintN = pinned.count()
        val mintedIns = idCols.foldLeft(pinned) { case (acc, (n, (_, st, nx))) =>
          assignIdentityIds(acc, n, nx, st)
        }
        (Some(mintedIns), idCols.map { case (n, (s0, st, nx)) =>
          metaPayload(IdentityKeyPrefix + n, s"$s0|$st|${nx + mintN * st}")
        })
      }
    val images = applyGeneratedColumns(table, snap,
      insMinted.fold(withBs)(withBs.unionByName(_)), "merge")
    requireFitsDeclared(snap, images, "merge")
    requireSatisfiesConstraints(table, snap, images, "merge")
    if (images.isEmpty) {
      // delete-only (or nothing-fired) batch: mask without images (no
      // insert fired, so there is no identity advance to record)
      return bindDeletionVectors(spark, table, snap, allPos, live,
        tag = "merge")
    }
    val rel = f"data/v${base + 1}%08d-merge-${uniq()}"
    val dataDir = new Path(table, rel)
    physicalize(images, declared).write.parquet(dataDir.toString)
    val adds = writtenFiles(spark, table, rel)
    try bindDeletionVectors(spark, table, snap, allPos, live,
      adds = adds, tag = "merge", commitOnNoMatch = true, metas = idMetas)
    catch { case e: Throwable =>
      fs(spark, dataDir).delete(dataDir, true) // no orphans on a lost race
      throw e
    }
  }

  // ---------------------------------------------------------------------
  // Transactional idempotence (the public Delta `txn` idea): a commit
  // carries an (appId, batchId) marker, so a replayed streaming batch —
  // the crash-between-table-commit-and-checkpoint-write window of
  // foreachBatch's at-least-once contract — is DETECTED and skipped
  // instead of landing twice.
  // ---------------------------------------------------------------------

  private def requireAppId(appId: String): Unit =
    require(appId.nonEmpty && !appId.contains('"') && !appId.contains('\\') &&
      !appId.contains(':'),
      s"txlog: appId must be nonempty without quote/backslash/colon: $appId")

  /** Highest batchId `appId` has committed to `table` as of `asOf`
    * (None if never). A field read of the [[Snapshot]] fold;
    * checkpoints carry every appId's high-water mark, so the cost is
    * bounded by [[checkpointEvery]]. */
  def lastCommittedBatch(spark: SparkSession, table: String,
                         appId: String, asOf: Option[Long] = None): Option[Long] = {
    requireAppId(appId)
    stateAt(spark, table, asOf).txns.get(appId)
  }

  /** Append `df` as batch `batchId` of writer `appId` — EXACTLY-ONCE
    * across replays: if this (appId, batchId) already committed, the
    * call is a no-op returning None (the replay case); otherwise the
    * commit lands with the txn marker inside it, so a crash anywhere
    * leaves either no commit (batch re-runs and lands) or a marked
    * commit (batch re-runs and is skipped). batchIds must be
    * monotonically increasing per appId — Structured Streaming's
    * foreachBatch contract. */
  def appendIdempotent(spark: SparkSession, table: String, df: DataFrame,
                       appId: String, batchId: Long): Option[Long] = {
    requireAppId(appId)
    appendCommit(spark, table, df, "idempotent append",
      Some((appId, batchId)), Seq.empty)
  }

  /** CAS-style first materialization: append `df` as version 0 with a
    * txn marker, succeeding ONLY if the table is still empty — a lost
    * race cleans up its data and returns false so the caller can
    * re-enter on the winner's state. The create-exclusive commit claim
    * is what makes two concurrent builders land exactly one build
    * ([[graft.operators.MatView]]'s build path). */
  def appendIfEmpty(spark: SparkSession, table: String, df: DataFrame,
                    appId: String, batchId: Long,
                    extraTxns: Seq[(String, Long)] = Seq.empty,
                    metas: Seq[String] = Seq.empty): Boolean = {
    requireAppId(appId)
    extraTxns.foreach(t => requireAppId(t._1))
    // identity columns are structurally impossible here: this claims
    // version 0, and declaring an identity column requires a committed
    // schema (createTable) — i.e. at least one prior commit, which makes
    // the version-0 claim below fail. No guard needed.
    val snap = snapshot(spark, table)
    val df1 = applyGeneratedColumns(table, snap, df, "append")
    requireFitsDeclared(snap, df1, "append")
    requireSatisfiesConstraints(table, snap, df1, "append")
    val rel = f"data/v00000000-${uniq()}"
    physicalize(df1, snap.schema)
      .write.parquet(new Path(table, rel).toString)
    val files = writtenFiles(spark, table, rel)
    if (tryCommit(spark, table, 0L, files, Seq.empty, None, None,
      (appId, batchId) +: extraTxns, landedLines(spark, table, files),
      metas = metas)) true
    else {
      val dir = new Path(table, rel)
      fs(spark, dir).delete(dir, true) // lost the build race: no orphans
      false
    }
  }

  /** [[overwriteIdempotent]] PINNED at `baseVersion`: the rewrite lands
    * only on top of the exact version the caller derived `df` from — a
    * concurrent commit in between aborts with
    * [[TxLogConcurrentModificationException]] instead of silently
    * basing the rewrite on state the caller never read (the
    * read-fold-commit CAS [[graft.operators.MatView]] leans on). */
  def overwriteIdempotentAt(spark: SparkSession, table: String,
                            baseVersion: Long, df: DataFrame,
                            appId: String, batchId: Long,
                            extraTxns: Seq[(String, Long)] = Seq.empty): Option[Long] = {
    requireAppId(appId)
    extraTxns.foreach(t => requireAppId(t._1))
    val head = latestSnapshot(spark, table, "overwrite")
    if (head.landed(appId, batchId)) return None
    val base =
      if (baseVersion == head.version) head else snapshot(spark, table, Some(baseVersion))
    try Some(replaceCommitAt(spark, table, base, df,
      "overwrite", (d, p) => d.write.parquet(p), Some((appId, batchId)),
      extraTxns = extraTxns))
    catch { case _: TxLogDuplicateBatchException => None }
  }

  /** [[overwrite]] with the txn marker — the exactly-once landing for a
    * versioned CDC sink whose batch output REPLACES the table
    * ([[graft.streaming.StreamingCdc.applyChangesVersioned]]). Returns
    * None when (appId, batchId) already landed (replay). */
  def overwriteIdempotent(spark: SparkSession, table: String, df: DataFrame,
                          appId: String, batchId: Long): Option[Long] = {
    requireAppId(appId)
    val head = latestSnapshot(spark, table, "overwrite")
    if (head.landed(appId, batchId)) return None
    try Some(replaceCommitAt(spark, table, head, df,
      "overwrite", (d, p) => d.write.parquet(p), Some((appId, batchId))))
    catch { case _: TxLogDuplicateBatchException => None }
  }

  /** `foreachBatch` adapter: every micro-batch lands as one versioned
    * append — the streaming-ingest sink for a versioned table (each
    * commit is a replayable offset: "train on everything up to version
    * V" is reproducible even while the stream keeps writing). Empty
    * micro-batches are skipped, so versions always carry data.
    *
    * AT-LEAST-ONCE: a batch replayed after a crash between this append
    * and the streaming checkpoint's commit write lands TWICE — use
    * [[appendSinkExactlyOnce]] when duplicates matter (they almost
    * always do; this adapter survives for sinks that dedup downstream).
    *
    * Usage: `stream.writeStream.foreachBatch(TxLog.appendSink(table)).start()` */
  def appendSink(table: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) { append(batch.sparkSession, table, batch); () }

  /** [[appendSink]] recording a per-file bloom filter over `bloomCol`
    * on every micro-batch ([[appendWithBloom]]): the streaming-ingested
    * table keeps point-lookup skipping WITHOUT a maintenance pass —
    * each micro-batch's files arrive filtered, so a needle probe skips
    * the whole ingest history except the files that might hold it. */
  def appendSinkWithBloom(table: String,
                          bloomCol: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        appendWithBloom(batch.sparkSession, table, batch, bloomCol); ()
      }

  /** [[appendSink]] with the txn guard: a replayed micro-batch is
    * detected by its (appId, batchId) marker and skipped — exactly-once
    * landing under foreachBatch's at-least-once replay contract
    * (StreamingFailureSpec injects the exact crash window and proves
    * it). */
  def appendSinkExactlyOnce(table: String, appId: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        appendIdempotent(batch.sparkSession, table, batch, appId, batchId); ()
      }

  /** Drop the table directory (test/fixture reset). */
  def destroy(spark: SparkSession, table: String): Unit = {
    val p = new Path(table)
    val f = fs(spark, p)
    if (f.exists(p)) f.delete(p, true)
  }
}
