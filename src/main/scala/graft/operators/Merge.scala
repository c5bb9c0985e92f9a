package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In,
  LessThanOrEqual}
import graft.sources.Tables
import graft.sources.TxLog.Layout

/** MERGE INTO — the incremental-corpus maintenance operator (upsert +
  * delete in one pass), the missing piece between append-only ingest
  * ([[Ingest]]) and a table that tracks a changing upstream: crawl
  * re-fetches replace stale documents, takedowns delete, new pages
  * insert. Spark has no MERGE without a lakehouse format on top, so
  * this is the Spark-first rewrite: COPY-ON-WRITE as one anti-join plus
  * one union —
  *
  *   merged = (base ⟕̸ update_keys) ∪ (updates where ¬delete)
  *
  * The anti-join ships only the update KEYS to the base side, so AQE
  * broadcasts them for any realistically-sized change batch and the
  * base scan stays a single pushdown-friendly pass — no shuffle of the
  * 100 TB side, no full outer join (whose both-sides shuffle is the
  * naive MERGE plan). [[mergeIntoPartitioned]] adds the storage half:
  * only partitions the batch touches are rewritten (dynamic partition
  * overwrite), which is what bounds a daily merge's write cost by the
  * change locality instead of the table size.
  *
  * Reference seed: the reference engine is strictly append/rerun
  * (`/root/reference/mapreduce.c:158-225` recomputes from scratch every
  * run); MERGE is the generalization its users would need first when
  * the corpus stops being immutable.
  */
object Merge {
  private val T = Tables

  /** Apply a change batch to `base` with MERGE INTO semantics:
    * a batch row whose `keys` match a base row REPLACES it (or, when
    * `deleteCol` is true, deletes it); an unmatched batch row is an
    * INSERT (a delete-flagged unmatched row is a no-op); base rows the
    * batch doesn't name pass through untouched.
    *
    * `updates` must carry every `base` column (the full new image —
    * partial-column updates are a projection the CALLER owns) plus the
    * optional boolean `deleteCol`. Batch keys must be UNIQUE: two
    * change rows for one key make the merged image nondeterministic in
    * any engine, so the plan fails loudly per offending key (an in-plan
    * `raise_error` guard — one window pass over the small batch side,
    * never over base). */
  def mergeUpsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
                  deleteCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "mergeUpsert: at least one key column")
    val missing = (base.columns.toSet ++ keys -- updates.columns).toSeq.sorted
    require(missing.isEmpty,
      s"mergeUpsert: updates lack base columns ${missing.mkString(", ")}")
    val n = "_graft_merge_n"
    require(!updates.columns.contains(n),
      s"mergeUpsert: updates may not carry the internal column $n")
    val guarded = updates.withColumn(n,
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    // the guard is WOVEN into the first key of the anti-join projection —
    // a free-standing guard column would be pruned away with the column
    // (nothing selects it), and riding the key means every batch row,
    // delete-flagged ones included, must pass it before the join resolves
    val guardedKey = when(col(n) === 1, col(keys.head))
      .otherwise(raise_error(format_string(
        s"mergeUpsert: %s change rows for key (${keys.mkString(", ")}) = (" +
          keys.map(_ => "%s").mkString(", ") + ") — a merge batch must " +
          "name each key once",
        col(n) +: keys.map(col): _*)).cast(updates.schema(keys.head).dataType))
      .as(keys.head)
    val applied = deleteCol match {
      case Some(c) => guarded.filter(!col(c))
      case None    => guarded
    }
    base.join(guarded.select(guardedKey +: keys.tail.map(col): _*), keys, "left_anti")
      .unionByName(applied.select(base.columns.toIndexedSeq.map(col): _*))
  }

  /** The storage half of MERGE at scale: apply `updates` to a
    * `partitionCol`-partitioned parquet table IN PLACE, rewriting ONLY
    * the partitions the batch touches (`partitionOverwriteMode=dynamic`
    * scoped to this one write). Untouched partitions' files are not
    * read, not rewritten, not even listed by the writer — a merge's
    * write cost tracks change locality, not table size. An insert row
    * may open a brand-new partition. Caveat of dynamic overwrite: a
    * partition whose rows the merge deletes ENTIRELY produces no output
    * rows, so the writer never claims it and its stale files survive —
    * the returned touched-partition list exists so the caller can
    * reconcile such full-partition deletes (MergeSpec pins this edge).
    *
    * Returns the touched partition values (driver-side — one row per
    * PARTITION, bounded by the batch's partition spread, not its rows). */
  def mergeIntoPartitioned(spark: SparkSession, basePath: String,
                           updates: DataFrame, keys: Seq[String],
                           partitionCol: String,
                           deleteCol: Option[String] = None): Seq[String] = {
    val base = spark.read.parquet(basePath)
    val touched = updates.select(col(partitionCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    // scope: only rows of touched partitions enter the merge; everything
    // else is untouchable by construction (partition pruning on the scan)
    val scoped = base.filter(col(partitionCol).cast("string").isin(touched: _*))
    val merged = mergeUpsert(scoped, updates, keys, deleteCol)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode("overwrite").partitionBy(partitionCol).parquet(basePath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    touched
  }

  /** QW1 — MERGE end to end on `orders`: a deterministic change batch
    * (keys ≡3 mod 13 re-priced and re-statused, ≡7 deleted, ≡5 cloned
    * to fresh keys as inserts) applied via [[mergeUpsert]]. Oracle =
    * the same batch as NOT-IN + UNION ALL SQL — exact row parity pins
    * all four fates (update, delete, insert, untouched) at once. */
  def qwMergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val base = T.orders(spark, d)
    val mods = base.filter(col("o_orderkey") % 13 === 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("_delete", lit(false))
    val dels = base.filter(col("o_orderkey") % 13 === 7)
      .withColumn("_delete", lit(true))
    val ins = base.filter(col("o_orderkey") % 13 === 5)
      .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("_delete", lit(false))
    val updates = mods.unionByName(dels).unionByName(ins)
    mergeUpsert(base, updates, Seq("o_orderkey"), Some("_delete"))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Snapshot DIFF — the inverse of [[mergeUpsert]]: given yesterday's
    * and today's snapshot of the same keyed table, derive the change
    * feed (added / removed / changed per key, with old and new values
    * for the compared columns). This is how a pipeline whose upstream
    * only publishes full snapshots (most crawl dumps, vendor drops)
    * manufactures the incremental batch that MERGE, SCD2
    * ([[Temporal]]) and the CDC stream ([[graft.streaming.StreamingCdc]])
    * consume.
    *
    * Scale shape: ONE full-outer hash join on the key — inherent to the
    * semantics (either side may hold keys the other lacks), but only
    * key + compared columns are read (column pruning reaches both
    * scans), unchanged rows are dropped immediately after the join, and
    * at 100 TB the join is co-located by bucketing both snapshots on
    * the key at write time ([[graft.sources.FileFormats]]' bucketed
    * sink) so neither snapshot reshuffles. Null-safe comparison: a
    * column going null⇄value is a change, not a join miss. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    val oldSel = oldSnap.select((keys.map(col) :+ lit(1).as("_in_old")) ++
      compareCols.map(c => col(c).as(s"old_$c")): _*)
    val newSel = newSnap.select((keys.map(col) :+ lit(1).as("_in_new")) ++
      compareCols.map(c => col(c).as(s"new_$c")): _*)
    val joined = oldSel.join(newSel, keys, "full_outer")
    val differs = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    joined
      .withColumn("change",
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(differs, "changed"))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++ Seq(col("change")) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** QW2 — [[snapshotDiff]] end to end: today's `orders` is yesterday's
    * with keys ≡3 (mod 101) dropped, ≡5 re-priced, and ≡7 cloned to
    * fresh keys — the diff must recover exactly those three planted
    * change classes and nothing else. */
  def qwSnapshotDiff(spark: SparkSession, d: String): DataFrame = {
    val old = T.orders(spark, d)
    val neu = old.filter(col("o_orderkey") % 101 =!= 3)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 101 === 5, col("o_totalprice") + 100)
          .otherwise(col("o_totalprice")))
      .unionByName(old.filter(col("o_orderkey") % 101 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
    snapshotDiff(old, neu, Seq("o_orderkey"), Seq("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** QW3 — the versioned-table lifecycle ([[graft.sources.TxLog]])
    * under the oracle gate: three appends partition `documents` by
    * doc_id mod 3, a compaction rewrites the live set — and the latest
    * snapshot must read back as EXACTLY the full table (hash-exact
    * against a plain `SELECT` from the source). The log machinery
    * (commit files, replay, add/remove semantics, compaction
    * invisibility) is what the row proves; time travel and reader
    * isolation are pinned in TxLogSpec. */
  def qwTxlogRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang")
    val table = Fixtures.table("txlog", d, "t")
    TxLog.destroy(spark, table)
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    TxLog.compact(spark, table)
    TxLog.read(spark, table)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** QW4 — the OPTIMIZE lifecycle under the hash gate: orders lands in
    * three interleaved appends (mod-split, so every file spans the whole
    * key range — the worst pre-clustering layout), a clustered rewrite
    * ([[graft.sources.TxLog.compactClustered]]) restores key locality,
    * and a RANGE read off the rewritten table must equal a plain SQL
    * range scan — proving the layout rewrite loses and duplicates
    * nothing. The range predicate is the point: after clustering it
    * prunes to ~1 of the 6 live files by footer stats (TxLogSpec proves
    * the disjoint ranges; this row proves the rows). */
  def qwOptimizeRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txopt", d, "t")
    TxLog.destroy(spark, table)
    (0 to 2).foreach(r => TxLog.append(spark, table,
      orders.filter(col("o_orderkey") % 3 === r)))
    TxLog.compactClustered(spark, table, files = 6, "o_orderkey")
    TxLog.read(spark, table)
      .filter(col("o_orderkey").between(10000, 20000))
      .orderBy("o_orderkey")
  }

  /** The filters a conjunction of `c BETWEEN lo AND hi` pushes to a
    * scan ([[graft.sources.TxLog.pruneForFilters]]' input). */
  private def pushedRanges(preds: Seq[(String, Any, Any)]): Seq[Filter] =
    preds.flatMap { case (c, lo, hi) => Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi)) }

  /** The same conjunction as a predicate over the read. */
  private def inRanges(preds: Seq[(String, Any, Any)]): Column =
    preds.map { case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _)

  /** QW5 — log-native DATA SKIPPING under the hash gate: orders lands
    * in three range-disjoint [[graft.sources.TxLog.append]] commits
    * with `Layout(stats = …)` (per-file min/max of `o_orderkey` recorded from the
    * parquet footers INTO the commit lines), and a range read
    * (`TxLog.read(...).where(...)`, whose file index keeps the files
    * [[graft.sources.TxLog.pruneForFilters]] keeps) prunes its file
    * list from the log alone — the row REQUIRES that at least one live
    * file was skipped (so a silently stats-less build cannot pass),
    * then must hash-match a plain SQL range scan. At 100 TB this is the lever
    * that turns "open 100k footers" into "read one small log". */
  def qwPrunedRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txstats", d, "t")
    TxLog.destroy(spark, table)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") < b1).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b1 && col("o_orderkey") < b2)
        .repartitionByRange(2, col("o_orderkey")), Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b2).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    val (lo, hi) = (maxKey / 6, maxKey / 3)
    val preds = Seq(("o_orderkey", lo, hi))
    val kept = TxLog.pruneForFilters(spark, table, pushedRanges(preds))
    val live = TxLog.snapshotFiles(spark, table).size
    require(kept.size < live,
      s"txlog: data skipping pruned nothing (${kept.size} of $live files kept)")
    TxLog.read(spark, table).where(inRanges(preds)).orderBy("o_orderkey")
  }

  /** QW6 — stats-targeted DELETE under the hash gate: the same
    * range-disjoint stats-bearing layout as [[qwPrunedRead]], then
    * [[graft.sources.TxLog.deleteWhere]] erases a key range — the row
    * REQUIRES that the files outside the range survived on disk
    * byte-identical (same live paths: the PARTIAL-rewrite proof), and
    * the post-delete table must hash-match a plain SQL anti-range scan. */
  def qwDeleteWhere(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txdel", d, "t")
    TxLog.destroy(spark, table)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") < b1).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b1 && col("o_orderkey") < b2)
        .repartitionByRange(2, col("o_orderkey")), Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b2).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    val before = TxLog.snapshotFiles(spark, table).toSet
    val (lo, hi) = (maxKey / 6, maxKey / 3)
    val wouldTouch = TxLog.pruneForFilters(spark, table,
      pushedRanges(Seq(("o_orderkey", lo, hi))))
    TxLog.deleteWhere(spark, table, "o_orderkey", lo, hi)
    val after = TxLog.snapshotFiles(spark, table).toSet
    val untouched = before -- wouldTouch.toSet
    require(untouched.subsetOf(after),
      "txlog: delete rewrote files its stats said could not contain a match")
    require((before -- after) == wouldTouch.toSet,
      "txlog: delete must remove exactly the stats-touched files")
    TxLog.read(spark, table).orderBy("o_orderkey")
  }

  /** QW7 — MULTI-COLUMN data skipping under the hash gate: orders lands
    * in three `o_orderkey`-range-disjoint appends, each internally split
    * into `o_custkey`-range-disjoint files, with per-file stats recorded
    * for BOTH columns. An AND-of-ranges read must then prune on both
    * axes — the row REQUIRES that the two-predicate prune keeps strictly
    * FEWER files than the `o_orderkey` predicate alone (so a file the
    * first column keeps is provably skipped by the second), and the
    * result must hash-match a plain two-range SQL scan. */
  def qwPrunedReadMulti(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val table = Fixtures.table("txstats2", d, "t")
    TxLog.destroy(spark, table)
    val mx = orders.agg(max("o_orderkey"), max("o_custkey")).head()
    val (maxKey, maxCust) = (mx.getLong(0), mx.getLong(1))
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    Seq(
      orders.filter(col("o_orderkey") < b1),
      orders.filter(col("o_orderkey") >= b1 && col("o_orderkey") < b2),
      orders.filter(col("o_orderkey") >= b2)
    ).foreach { wave =>
      TxLog.append(spark, table,
        wave.repartitionByRange(2, col("o_custkey")),
        Layout(stats = Seq("o_orderkey", "o_custkey")))
    }
    val (loK, hiK) = (maxKey / 6, maxKey / 3)    // inside wave 1 + wave 2
    val (loC, hiC) = (0L, maxCust / 4)           // lower custkey quartile
    val preds = Seq(("o_orderkey", loK, hiK), ("o_custkey", loC, hiC))
    val keptBoth = TxLog.pruneForFilters(spark, table, pushedRanges(preds))
    val keptKeyOnly = TxLog.pruneForFilters(spark, table, pushedRanges(preds.take(1)))
    val live = TxLog.snapshotFiles(spark, table).size
    require(keptKeyOnly.size < live,
      s"txlog: o_orderkey stats pruned nothing (${keptKeyOnly.size} of $live)")
    require(keptBoth.size < keptKeyOnly.size,
      s"txlog: o_custkey stats added no pruning (${keptBoth.size} vs " +
        s"${keptKeyOnly.size} by o_orderkey alone)")
    TxLog.read(spark, table).where(inRanges(preds)).orderBy("o_orderkey", "o_custkey")
  }

  /** QW8 — MERGE-ON-READ delete (deletion vectors) under the hash gate:
    * the same range-disjoint stats-bearing layout as [[qwDeleteWhere]],
    * then TWO overlapping [[graft.sources.TxLog.deleteWhereMor]] calls —
    * the row REQUIRES that the live DATA file set is byte-identical
    * before and after (nothing rewritten, moved, or removed: the whole
    * point of merge-on-read), that deletion vectors are actually bound,
    * and the post-delete read must hash-match a plain SQL anti-range
    * scan of the UNION of both ranges (the second delete's vector must
    * carry the first's positions forward). */
  def qwDeleteMor(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txdelmor", d, "t")
    TxLog.destroy(spark, table)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") < b1).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b1 && col("o_orderkey") < b2)
        .repartitionByRange(2, col("o_orderkey")), Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b2).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    val before = TxLog.snapshotFiles(spark, table).toSet
    // two OVERLAPPING erasures: [max/6, max/3] then [max/4, max/2] — the
    // second re-masks files the first already masked (position union)
    TxLog.deleteWhereMor(spark, table, "o_orderkey", maxKey / 6, maxKey / 3)
    TxLog.deleteWhereMor(spark, table, "o_orderkey", maxKey / 4, maxKey / 2)
    val after = TxLog.snapshotFiles(spark, table).toSet
    require(after == before,
      "txlog: merge-on-read delete must leave the data file set untouched")
    require(TxLog.dvAt(spark, table).nonEmpty,
      "txlog: merge-on-read delete bound no deletion vectors")
    TxLog.read(spark, table).orderBy("o_orderkey")
  }

  /** QW9 — OPTIMIZE … ZORDER under the hash gate: orders lands in three
    * interleaved appends, then TWO clustered rewrites are compared —
    * [[graft.sources.TxLog.compactClusteredWithStats]] (lexicographic on
    * (o_orderkey, o_custkey)) on one table and
    * [[graft.sources.TxLog.optimizeZOrder]] (Morton-interleaved) on its
    * twin. The row REQUIRES that a two-axis box read prunes STRICTLY
    * more files under the Z-order layout than under the lexicographic
    * one (the Z-order thesis, measured from the log's own stats), then
    * returns the Z-ordered read, which must hash-match a plain SQL
    * two-range scan. */
  def qwZorderRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val lex = Fixtures.table("txzorder", d, "lex")
    val zed = Fixtures.table("txzorder", d, "zed")
    val mx = orders.agg(max("o_orderkey"), max("o_custkey")).head()
    val (maxKey, maxCust) = (mx.getLong(0), mx.getLong(1))
    Seq(lex, zed).foreach { t =>
      TxLog.destroy(spark, t)
      (0 to 2).foreach(r => TxLog.append(spark, t,
        orders.filter(col("o_orderkey") % 3 === r)))
    }
    TxLog.compactClusteredWithStats(spark, lex, 64, "o_orderkey", "o_custkey")
    TxLog.optimizeZOrder(spark, zed, 64, "o_orderkey", "o_custkey")
    // a quarter-by-quarter box: the lexicographic layout must keep
    // ~16 of its 64 orderkey slices (custkey prunes nothing for it),
    // the z-order grid ~2x2 cells plus boundary
    val preds = Seq(
      ("o_orderkey", maxKey / 4, maxKey / 2),
      ("o_custkey", maxCust / 4, maxCust / 2))
    val (keptLex, liveLex) = (TxLog.pruneForFilters(spark, lex, pushedRanges(preds)),
      TxLog.snapshotFiles(spark, lex).size)
    val (keptZ, liveZ) = (TxLog.pruneForFilters(spark, zed, pushedRanges(preds)),
      TxLog.snapshotFiles(spark, zed).size)
    require(keptZ.size < keptLex.size,
      s"txlog: z-order pruned no better than lexicographic " +
        s"(${keptZ.size} of $liveZ vs ${keptLex.size} of $liveLex)")
    TxLog.read(spark, zed).where(inRanges(preds)).orderBy("o_orderkey", "o_custkey")
  }

  /** QW9h — [[qwZorderRead]]'s certification on the HILBERT curve
    * ([[graft.sources.TxLog.optimizeHilbert]]): same ingest, same
    * quarter-by-quarter two-axis box, same strict REQUIRE that the
    * curve layout prunes more files than the lexicographic twin built
    * in the same row (recall the adjudicated 64× boundary: when ONE
    * axis owns nearly all the entropy any space-filling curve converges
    * to lexicographic — correct behavior, loud fixture REQUIRE). The
    * Hilbert layout's per-file min/max boxes are CONNECTED plane
    * regions (no Z-seam teleports), which is what public lakehouse
    * clustering moved to; the returned frame is the box read itself, so
    * the hash gate also proves the rewrite was row-invisible. */
  def qwHilbertRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val lex = Fixtures.table("txhilbert", d, "lex")
    val hil = Fixtures.table("txhilbert", d, "hil")
    val mx = orders.agg(max("o_orderkey"), max("o_custkey")).head()
    val (maxKey, maxCust) = (mx.getLong(0), mx.getLong(1))
    Seq(lex, hil).foreach { t =>
      TxLog.destroy(spark, t)
      (0 to 2).foreach(r => TxLog.append(spark, t,
        orders.filter(col("o_orderkey") % 3 === r)))
    }
    TxLog.compactClusteredWithStats(spark, lex, 64, "o_orderkey", "o_custkey")
    TxLog.optimizeHilbert(spark, hil, 64, "o_orderkey", "o_custkey")
    val preds = Seq(
      ("o_orderkey", maxKey / 4, maxKey / 2),
      ("o_custkey", maxCust / 4, maxCust / 2))
    val (keptLex, liveLex) = (TxLog.pruneForFilters(spark, lex, pushedRanges(preds)),
      TxLog.snapshotFiles(spark, lex).size)
    val (keptH, liveH) = (TxLog.pruneForFilters(spark, hil, pushedRanges(preds)),
      TxLog.snapshotFiles(spark, hil).size)
    require(keptH.size < keptLex.size,
      s"txlog: hilbert pruned no better than lexicographic " +
        s"(${keptH.size} of $liveH vs ${keptLex.size} of $liveLex)")
    TxLog.read(spark, hil).where(inRanges(preds)).orderBy("o_orderkey", "o_custkey")
  }

  /** QW-CHECK — CHECK constraints at the write boundary (the Delta
    * invariants contract) under the hash gate: a library ADD and a SQL
    * `ALTER TABLE … ADD CONSTRAINT … CHECK` both land metadata-only
    * commits; a conforming append folds through; a VIOLATING append is
    * REQUIREd to fail loudly AND leave the table byte-identical
    * (version, live files); an ADD over violating existing data is
    * REQUIREd to fail; `SHOW CONSTRAINTS` lists both; a SQL DROP then
    * admits the previously-rejected shape. The final read hash-matches
    * a closed form that only holds if exactly the gated writes landed. */
  def qwCheckConstraint(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txcheck", d, "t")
    TxLog.destroy(spark, table)
    TxLog.append(spark, table, docs.filter(col("doc_id") % 4 === 0))
    TxLog.addCheckConstraint(spark, table, "n-chars-nonneg", "n_chars >= 0")
    spark.sql(s"ALTER TABLE graft.`$table` ADD CONSTRAINT lang_present " +
      "CHECK (lang IS NOT NULL)").head()
    val shown = spark.sql(s"SHOW CONSTRAINTS graft.`$table`").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    require(shown == Seq(("lang_present", "lang IS NOT NULL"),
      ("n-chars-nonneg", "n_chars >= 0")),
      s"txlog: SHOW CONSTRAINTS returned $shown")
    TxLog.append(spark, table, docs.filter(col("doc_id") % 4 === 1))
    val vPinned = TxLog.latestVersion(spark, table)
    val filesPinned = TxLog.snapshotFiles(spark, table).toSet
    def mustReject(what: String)(f: => Any): Unit = {
      val failed =
        try { f; false } catch { case e: IllegalArgumentException =>
          require(e.getMessage.contains("CHECK constraint") ||
            e.getMessage.contains("cannot add constraint"),
            s"txlog: $what failed for the wrong reason: ${e.getMessage}")
          true
        }
      require(failed, s"txlog: $what must be rejected by the constraint gate")
      require(TxLog.latestVersion(spark, table) == vPinned &&
        TxLog.snapshotFiles(spark, table).toSet == filesPinned,
        s"txlog: rejected $what still changed the table")
    }
    mustReject("violating append") {
      TxLog.append(spark, table, docs.filter(col("doc_id") % 4 === 2)
        .withColumn("n_chars", -col("n_chars") - 1))
    }
    mustReject("violating update") {
      TxLog.updateMorExpr(spark, table, "doc_id % 4 = 0",
        Seq("n_chars" -> "-1"))
    }
    mustReject("ADD over violating existing data") {
      TxLog.addCheckConstraint(spark, table, "too-tight", "n_chars > 100")
    }
    spark.sql(s"ALTER TABLE graft.`$table` DROP CONSTRAINT n-chars-nonneg")
    // the dropped gate no longer holds the shape back; lang_present does
    TxLog.append(spark, table, docs.filter(col("doc_id") % 4 === 2)
      .withColumn("n_chars", -col("n_chars") - 1))
    TxLog.read(spark, table).select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** QW-GEN — GENERATED ALWAYS columns under the hash gate: declared
    * on the empty table (one via the library, one via SQL `ALTER TABLE
    * … ADD COLUMN … GENERATED ALWAYS AS`), then: a batch WITHOUT the
    * columns lands them COMPUTED; a batch carrying the correct
    * derivation validates through; a batch carrying a WRONG value is
    * REQUIREd rejected with the table byte-identical; declaring over
    * landed data is REQUIREd rejected; an UPDATE to a source column
    * recomputes the derivation (and SET on the generated column itself
    * is REQUIREd forbidden). The final read hash-matches the closed
    * form applying the expressions in SQL — which only holds if every
    * stored derivation is exact. */
  def qwGeneratedCol(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txgen", d, "t")
    TxLog.destroy(spark, table)
    TxLog.createTable(spark, table, StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType))))
    TxLog.addGeneratedColumn(spark, table, "len_bucket", LongType,
      "n_chars div 100")
    spark.sql(s"ALTER TABLE graft.`$table` ADD COLUMN lang_len BIGINT " +
      "GENERATED ALWAYS AS (length(lang))").head()
    TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === 0).withColumn("n_chars",
        col("n_chars").cast("long")))
    TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === 1)
        .withColumn("n_chars", col("n_chars").cast("long"))
        .withColumn("len_bucket", expr("n_chars div 100")))
    val vPinned = TxLog.latestVersion(spark, table)
    def mustReject(what: String)(f: => Any): Unit = {
      val failed =
        try { f; false } catch { case _: IllegalArgumentException => true }
      require(failed, s"txlog: $what must be rejected")
      require(TxLog.latestVersion(spark, table) == vPinned,
        s"txlog: rejected $what still committed")
    }
    mustReject("wrong stored derivation") {
      TxLog.append(spark, table,
        docs.filter(col("doc_id") % 3 === 2)
          .withColumn("n_chars", col("n_chars").cast("long"))
          .withColumn("len_bucket", lit(-1L)))
    }
    mustReject("late generated-column declaration") {
      TxLog.addGeneratedColumn(spark, table, "late", LongType, "n_chars")
    }
    mustReject("SET on a generated column") {
      TxLog.updateMorExpr(spark, table, "doc_id % 3 = 0",
        Seq("len_bucket" -> "7"))
    }
    // an update to the SOURCE column recomputes the derivation
    TxLog.updateMorExpr(spark, table, "doc_id % 6 = 3",
      Seq("n_chars" -> "n_chars + 1000"))
    TxLog.read(spark, table)
      .select("doc_id", "lang", "n_chars", "len_bucket", "lang_len")
      .orderBy("doc_id")
  }

  /** QW-ID — IDENTITY columns under the hash gate: declared on the
    * empty table via SQL (`GENERATED ALWAYS AS IDENTITY (START WITH 1
    * INCREMENT BY 1)`), then three append waves mint ids per commit.
    * Ids depend on arrival order, so the HASHED frame carries only the
    * deterministic data columns; the identity CONTRACT is REQUIREd
    * in-row instead: the id multiset is exactly [1, n] (unique +
    * contiguous across all three commits), per-wave id ranges are
    * disjoint and ordered (the reservation is per-commit), the
    * persisted high-water equals n+1, an explicit-value append and a
    * merge keyed ON the identity column are rejected with the version
    * pinned, and a MOR delete retires ids WITHOUT reuse: the retired
    * band is re-appended and the row REQUIREs its fresh ids all sit
    * past the old high-water while the retired ids never reappear —
    * so the final data frame equals the full source again and the
    * hash gate closes over the whole retire/re-mint lifecycle. */
  def qwIdentityCol(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txident", d, "t")
    TxLog.destroy(spark, table)
    TxLog.createTable(spark, table, StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType))))
    spark.sql(s"ALTER TABLE graft.`$table` ADD COLUMN row_id BIGINT " +
      "GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1)").head()
    val longDocs = docs.withColumn("n_chars", col("n_chars").cast("long"))
    (0 to 2).foreach(w =>
      TxLog.append(spark, table, longDocs.filter(col("doc_id") % 3 === w)))
    val n = longDocs.count()
    val ids = TxLog.read(spark, table).select("row_id")
      .collect().map(_.getLong(0)).sorted
    require(ids.toSeq == (1L to n), s"txlog: ids not contiguous-unique " +
      s"(n=$n, got ${ids.take(5).mkString(",")}…)")
    val waveRanges = (0 to 2).map { w =>
      val r = TxLog.read(spark, table).filter(col("doc_id") % 3 === w)
        .agg(min("row_id"), max("row_id"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    waveRanges.foreach { case (lo, hi, cnt) =>
      require(hi - lo + 1 == cnt, s"txlog: wave reservation not contiguous") }
    require(waveRanges.sliding(2).forall {
      case Seq((_, hi1, _), (lo2, _, _)) => lo2 == hi1 + 1
      case _ => true
    }, "txlog: wave reservations must be ordered and adjacent")
    require(TxLog.identityColumns(spark, table)("row_id")._3 == n + 1,
      "txlog: high-water must sit one past the last minted id")
    val vPinned = TxLog.latestVersion(spark, table)
    def mustReject(what: String)(f: => Any): Unit = {
      val failed =
        try { f; false } catch { case _: IllegalArgumentException => true }
      require(failed && TxLog.latestVersion(spark, table) == vPinned,
        s"txlog: $what must be rejected with the version pinned")
    }
    mustReject("explicit identity value") {
      TxLog.append(spark, table, longDocs.limit(1).withColumn("row_id", lit(99999L)))
    }
    mustReject("merge keyed ON the identity column") {
      TxLog.mergeMor(spark, table,
        longDocs.limit(1).withColumnRenamed("doc_id", "row_id"), Seq("row_id"))
    }
    // retire-without-reuse: a MOR delete retires a band's ids; the band
    // re-appends and must mint STRICTLY past the old high-water
    val retired = TxLog.read(spark, table).filter(col("doc_id") % 10 === 7)
      .select("row_id").collect().map(_.getLong(0)).toSet
    require(retired.nonEmpty, "txlog: fixture grew no retire band")
    TxLog.deleteWhereMorExpr(spark, table, "doc_id % 10 = 7")
    TxLog.append(spark, table, longDocs.filter(col("doc_id") % 10 === 7))
    val fresh = TxLog.read(spark, table).filter(col("doc_id") % 10 === 7)
      .select("row_id").collect().map(_.getLong(0))
    require(fresh.forall(_ > n), s"txlog: re-appended band must mint past " +
      s"the old high-water $n, got ${fresh.min}")
    require(TxLog.read(spark, table).filter(col("row_id")
      .isin(retired.toSeq: _*)).count() == 0L,
      "txlog: a retired id was reused")
    TxLog.read(spark, table).select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** QW-MERGE-ID — MERGE INTO an IDENTITY table (the default Delta
    * upsert idiom, the r15 verdict's top gap): wave 1 lands the even
    * doc_ids SORTED, so the minted ids are exactly `row_number() OVER
    * (ORDER BY doc_id)` (the mint is a global zipWithIndex over the
    * batch — sorted input makes arrival order deterministic). One
    * [[graft.sources.TxLog.mergeMor]] then upserts a batch of matched
    * re-images (doc_id % 4 = 0: lang re-tagged, n_chars bumped) plus
    * brand-new odd keys, also sorted: matched rows must KEEP their
    * wave-1 id untouched, inserts must mint n1+rank — both closed-form
    * SQL, so the ids themselves sit inside the hash gate (unlike
    * [[qwIdentityCol]], where multi-commit arrival order forces the
    * contract into in-row REQUIREs). The high-water advance riding the
    * merge commit is REQUIREd in-row. */
  def qwMergeIdentity(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.functions.concat
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
      .withColumn("n_chars", col("n_chars").cast("long"))
    val table = Fixtures.table("txmergeid", d, "t")
    TxLog.destroy(spark, table)
    TxLog.createTable(spark, table, StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType))))
    spark.sql(s"ALTER TABLE graft.`$table` ADD COLUMN row_id BIGINT " +
      "GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1)").head()
    val wave1 = docs.filter(col("doc_id") % 2 === 0).orderBy("doc_id")
    TxLog.append(spark, table, wave1)
    val n1 = wave1.count()
    val updates = docs.filter(col("doc_id") % 4 === 0)
      .withColumn("lang", concat(lit("merged-"), col("lang")))
      .withColumn("n_chars", col("n_chars") + 5000L)
      .unionByName(docs.filter(col("doc_id") % 2 === 1))
      .orderBy("doc_id")
    val inserts = docs.filter(col("doc_id") % 2 === 1).count()
    TxLog.mergeMor(spark, table, updates, Seq("doc_id"))
    require(TxLog.identityColumns(spark, table)("row_id")._3 ==
      n1 + inserts + 1,
      "txlog: the merge must advance the high-water by its insert count")
    TxLog.read(spark, table).select("doc_id", "lang", "n_chars", "row_id")
      .orderBy("doc_id")
  }

  /** QW10 — column RENAME + DROP lifecycle (column mapping) under the
    * hash gate: documents lands, `n_chars` is renamed to `chars`
    * (metadata-only — the row REQUIRES the data file set is untouched),
    * a second wave appends under the new name, `lang` is DROPPED, and a
    * third wave re-ADDS `lang` through appendEvolve. The final read
    * must hash-match an oracle where `lang` is NULL for every pre-re-add
    * row — i.e. the drop is real and the re-added column NEVER
    * resurrects the dropped bytes still sitting in old files (the fresh
    * UUID physical). Time travel REQUIREs each side of the rename reads
    * under its own name. */
  def qwRenameLifecycle(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txrename", d, "t")
    TxLog.destroy(spark, table)
    TxLog.append(spark, table, docs.filter(col("doc_id") % 3 === 0))
    val v0 = TxLog.latestVersion(spark, table)
    val filesBefore = TxLog.snapshotFiles(spark, table).toSet
    TxLog.renameColumn(spark, table, "n_chars", "chars")
    require(TxLog.snapshotFiles(spark, table).toSet == filesBefore,
      "txlog: rename must move zero data files")
    TxLog.append(spark, table, docs.filter(col("doc_id") % 3 === 1)
      .withColumnRenamed("n_chars", "chars"))
    require(TxLog.read(spark, table, Some(v0)).columns.contains("n_chars"),
      "txlog: time travel below the rename must read the old name")
    require(TxLog.read(spark, table).columns.contains("chars"))
    TxLog.dropColumn(spark, table, "lang")
    require(!TxLog.read(spark, table).columns.contains("lang"),
      "txlog: dropped column still visible")
    TxLog.appendEvolve(spark, table, docs.filter(col("doc_id") % 3 === 2)
      .withColumnRenamed("n_chars", "chars"))
    TxLog.read(spark, table).select("doc_id", "chars", "lang").orderBy("doc_id")
  }

  /** QW11 — STRING-column data skipping under the hash gate: documents
    * lands in three lang-range-disjoint stats-bearing appends (the
    * recorded bounds are raw UTF-8 bytes — parquet's BINARY stats order
    * ≡ Spark's UTF8String order, so the skip can never disagree with
    * the residual filter), and a `lang BETWEEN 'd' AND 'ez'` read must
    * prune from the log alone — the row REQUIRES at least one live file
    * was skipped, then hash-matches a plain SQL string-range scan. */
  def qwPrunedReadStr(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txstatstr", d, "t")
    TxLog.destroy(spark, table)
    Seq(
      docs.filter(col("lang") < "es"),                          // de, en
      docs.filter(col("lang") >= "es" && col("lang") < "g"),    // es, fr
      docs.filter(col("lang") >= "g")                           // zh
    ).foreach(wave =>
      TxLog.append(spark, table, wave.coalesce(1), Layout(stats = Seq("lang"))))
    val preds = Seq(("lang", "d", "ez"))
    val kept = TxLog.pruneForFilters(spark, table, pushedRanges(preds))
    val live = TxLog.snapshotFiles(spark, table).size
    require(kept.size < live,
      s"txlog: string stats pruned nothing (${kept.size} of $live files kept)")
    TxLog.read(spark, table).where(inRanges(preds)).orderBy("doc_id")
  }

  /** QW12 — BIN-PACKING incremental OPTIMIZE under the hash gate: 90%
    * of orders lands as ONE large file, the remaining 10% dribbles in
    * as eight tiny streaming-shaped commits, and
    * [[graft.sources.TxLog.optimizeBinPack]] rewrites ONLY the small
    * tail — the row REQUIRES the large file survives byte-identical
    * (same live path), the small files are gone, the live file count
    * shrank, and the post-pack read hash-matches the identity scan. */
  def qwBinpackRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txbinpack", d, "t")
    TxLog.destroy(spark, table)
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") % 10 =!= 0).coalesce(1)) // the big file
    (0 to 7).foreach(r => TxLog.append(spark, table,
      orders.filter(col("o_orderkey") % 10 === 0 &&
        (col("o_orderkey") / 10) % 8 === r).coalesce(1)))      // the small tail
    val before = TxLog.snapshotFiles(spark, table)
    val big = before.head // first-added = the large file
    val fsys = new java.io.File(table, big)
    val bigLen = fsys.length()
    TxLog.optimizeBinPack(spark, table, targetBytes = bigLen, "o_orderkey")
    val after = TxLog.snapshotFiles(spark, table)
    require(after.contains(big),
      "txlog: bin-packing rewrote the already-large file")
    require(before.tail.forall(p => !after.contains(p)),
      "txlog: a small file survived the pack")
    require(after.size < before.size,
      s"txlog: pack did not shrink the file count (${before.size} -> ${after.size})")
    TxLog.read(spark, table).orderBy("o_orderkey")
  }

  /** QW13 — RESTORE under the hash gate: orders lands in three
    * stats-bearing appends, a copy-on-write DELETE then a merge-on-read
    * DELETE damage it, and [[graft.sources.TxLog.restore]] rolls the
    * table back to the pre-damage version — the row REQUIRES the
    * restored live set is EXACTLY the target version's file paths (the
    * rollback moved zero data bytes no matter the table size) with no
    * deletion vector bound, and the read hash-matches the identity
    * scan. The damaged versions stay time-travelable (history is
    * preserved, REQUIREd in-row). */
  def qwRestoreRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val orders = T.orders(spark, d).select("o_orderkey", "o_totalprice")
    val table = Fixtures.table("txrestore", d, "t")
    TxLog.destroy(spark, table)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val (b1, b2) = (maxKey / 3, 2 * maxKey / 3)
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") < b1).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b1 && col("o_orderkey") < b2)
        .repartitionByRange(2, col("o_orderkey")), Layout(stats = Seq("o_orderkey")))
    TxLog.append(spark, table,
      orders.filter(col("o_orderkey") >= b2).repartitionByRange(2, col("o_orderkey")),
      Layout(stats = Seq("o_orderkey")))
    val goodVersion = TxLog.latestVersion(spark, table)
    val goodFiles = TxLog.snapshotFiles(spark, table)
    TxLog.deleteWhere(spark, table, "o_orderkey", maxKey / 6, maxKey / 3) // CoW damage
    TxLog.deleteWhereMor(spark, table, "o_orderkey", maxKey / 2, maxKey)  // MOR damage
    val damagedCount = TxLog.read(spark, table).count()
    val rv = TxLog.restore(spark, table, goodVersion)
    require(TxLog.snapshotFiles(spark, table).toSet == goodFiles.toSet,
      "txlog: restore must re-add exactly the target version's files")
    require(TxLog.dvAt(spark, table).isEmpty,
      "txlog: restore must unbind the rolled-back deletion vectors")
    // the damaged state stays time-travelable behind the restore
    require(TxLog.read(spark, table, Some(rv - 1)).count() == damagedCount,
      "txlog: restore must preserve history, not erase it")
    TxLog.read(spark, table).orderBy("o_orderkey")
  }

  /** QW — SHALLOW CLONE ([[graft.sources.TxLog.shallowClone]]) under
    * the hash gate: documents lands in three appends, a MOR delete
    * erases `lang = 'de'`, the table is FORKED zero-copy, then the
    * SOURCE diverges (a second MOR delete the clone must not see) —
    * the row REQUIREs the clone's directory holds ZERO parquet bytes
    * (the fork copied nothing; every add is an absolute reference into
    * the source) and serves the CLONE, which must hash-match the
    * snapshot at the fork point, not the diverged source. This is the
    * zero-copy dev/test-sandbox fork a 100 TB table cannot afford to
    * materialize. */
  def qwCloneRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val src = Fixtures.table("txclonesrc", d, "t")
    val dst = Fixtures.table("txclonedst", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, src,
      docs.filter(col("doc_id") % 3 === r)))
    TxLog.deleteWhereMorExpr(spark, src, "lang = 'de'")
    TxLog.shallowClone(spark, src, dst)
    TxLog.deleteWhereMorExpr(spark, src, "n_chars % 2 = 0") // divergence
    val copied = {
      val root = java.nio.file.Paths.get(dst).getParent
      val it = java.nio.file.Files.walk(root)
      try it.filter(p => p.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    require(copied == 0L,
      s"txlog: shallow clone must copy zero data files, found $copied")
    require(TxLog.read(spark, src).count() < TxLog.read(spark, dst).count(),
      "txlog: the fixture's post-fork divergence must be visible on the source")
    TxLog.read(spark, dst).orderBy("doc_id")
  }

  /** QW — LOG-NATIVE BLOOM SKIPPING ([[graft.sources.TxLog.Layout]]'s
    * `bloom`, skipped by `TxLog.read(...).where(...)`)
    * under the hash gate: documents lands in 8 single-file waves split
    * `doc_id % 8` — every file spans the FULL doc_id range, so min/max
    * stats cannot skip ANY file for a point probe — each wave recording
    * a per-file bloom filter over doc_id. Two point lookups (the min
    * and max doc_id) must each prune to ≲1 of the 8 files (REQUIREd
    * in-row, with the 1% false-positive allowance) and their union must
    * hash-match the closed-form SQL. The needle-in-haystack lookup a
    * 100 TB table serves without touching 7/8ths of its bytes. */
  def qwBloomRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txbloom", d, "t")
    (0 until 8).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 8 === r).repartition(1),
      Layout(bloom = Some("doc_id"))))
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    require(lo < hi, "txlog: bloom fixture needs at least two documents")
    Seq(lo, hi).foreach { k =>
      val kept = TxLog.pruneForFilters(spark, table, Seq(EqualTo("doc_id", k)))
      val total = TxLog.snapshotFiles(spark, table).size
      require(total == 8 && kept.size <= 3, // 1 true hit + the fpp sliver
        s"txlog: bloom skip must prune the banded layout: " +
          s"kept ${kept.size} of $total for probe $k")
    }
    TxLog.read(spark, table).where(col("doc_id") === lo)
      .unionByName(TxLog.read(spark, table).where(col("doc_id") === hi))
      .orderBy("doc_id")
  }

  /** QW — LOG-NATIVE SKIPPING FOR SQL-SHAPED FILTERS
    * ([[graft.sources.TxLog.pruneForFilters]]): documents lands in FOUR
    * range-banded stats-covered waves. The row REQUIREs that
    * `pruneForFilters`, called directly with the filters a
    * `WHERE doc_id = ?` would push, keeps 1 file of 4 for the point
    * filter and the 2 end bands for the OR-of-points. The served rows
    * come from plain SQL over the catalog, whose scan takes the same
    * filters and reads only the kept files, and hash-match the closed
    * form. */
  def qwSqlPrune(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.sources.Or
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txsqlprune", d, "t")
    val banded = docs.withColumn("_b",
      ntile(4).over(Window.orderBy("doc_id")))
    (1 to 4).foreach(b => TxLog.append(spark, table,
      banded.filter(col("_b") === b).drop("_b").repartition(1),
      Layout(stats = Seq("doc_id"))))
    val bounds = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    require(lo < hi, "txlog: pushdown fixture needs two documents")
    val keptPoint = TxLog.pruneForFilters(spark, table,
      Seq(EqualTo("doc_id", lo)), None)
    require(keptPoint.size == 1,
      s"txlog: pushed point filter must keep 1 of 4 band files, " +
        s"kept ${keptPoint.size}")
    val keptOr = TxLog.pruneForFilters(spark, table,
      Seq(Or(EqualTo("doc_id", lo), EqualTo("doc_id", hi))), None)
    require(keptOr.size == 2,
      s"txlog: pushed OR-of-points must keep the 2 end bands, " +
        s"kept ${keptOr.size}")
    spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
      s"WHERE doc_id = $lo OR doc_id = $hi ORDER BY doc_id")
  }

  /** QW — DECLARED PARTITIONING BEHIND PLAIN SQL (r16): `CREATE TABLE
    * … PARTITIONED BY (lang)` persists the partition columns in
    * commit-0 metadata, and every later plain `INSERT INTO` lands
    * partitioned by them inside the append's commit path — per-file
    * values recorded WITHOUT the writer naming them. The row REQUIREs
    * that a partition probe through
    * [[graft.sources.TxLog.pruneForFilters]] prunes (the declared
    * contract actually held); the served snapshot is the identity. */
  def qwSqlPartition(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txsqlpart", d, "t")
    spark.sql(s"CREATE TABLE graft.`$table` " +
      "(doc_id BIGINT, lang STRING, n_chars BIGINT) PARTITIONED BY (lang)")
    require(TxLog.declaredPartitionCols(spark, table) == Seq("lang"),
      "txlog: commit 0 must persist the declared partition columns")
    val view = "graft_sqlpart_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    docs.createOrReplaceTempView(view)
    try (0 to 1).foreach(w => spark.sql(s"INSERT INTO graft.`$table` " +
      s"SELECT doc_id, lang, n_chars FROM $view WHERE doc_id % 2 = $w"))
    finally spark.catalog.dropTempView(view)
    val probe = docs.agg(min("lang")).head().getString(0)
    val kept = TxLog.pruneForFilters(spark, table, Seq(EqualTo("lang", probe)))
    val total = TxLog.snapshotFiles(spark, table).size
    require(kept.size < total,
      s"txlog: declared partitioning must prune: kept ${kept.size} of $total")
    spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
      "ORDER BY doc_id")
  }

  /** QW — METADATA-ONLY AGGREGATES ([[graft.sources.TxLog.countRows]] /
    * [[graft.sources.TxLog.minMaxSkipping]]) under the hash gate:
    * documents lands in three stats-covered waves (`doc_id % 3`), then
    * a MOR delete masks rows in wave 0 only — COUNT(*) must be served
    * as a LOG FOLD (zero footer fallbacks REQUIREd; the dv sidecar
    * counts subtract) and MIN/MAX of doc_id must scan ONLY the one
    * masked file (REQUIREd in-row) while the two clean waves serve
    * from their recorded bounds. The `SELECT COUNT(*)` a 100 TB table
    * answers without launching a single task. */
  def qwMetaAgg(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmetaagg", d, "t")
    (0 until 3).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r).repartition(1), Layout(stats = Seq("doc_id"))))
    TxLog.deleteWhereMorExpr(spark, table, "lang = 'de' AND doc_id % 3 = 0")
    val (n, fromFooter, maskedFiles) = TxLog.countRowsDetail(spark, table)
    require(fromFooter == 0,
      "txlog: engine-written files must be counted from the log alone")
    require(maskedFiles == 1,
      s"txlog: the fixture's mask must touch exactly wave 0, got $maskedFiles")
    val (lo, hi, scanned) = TxLog.minMaxSkipping(spark, table, "doc_id")
    require(scanned == 1,
      s"txlog: min/max must scan only the masked file, scanned $scanned")
    import spark.implicits._
    Seq((n, lo, hi)).toDF("n", "lo", "hi")
  }

  /** QW — SQL AGGREGATE PUSHDOWN under the hash gate: `SELECT COUNT(*),
    * MIN, MAX FROM graft.t` — plain SQL, no library call — must plan as
    * a [[org.apache.spark.sql.connector.read.LocalScan]] holding the
    * one answer row folded driver-side from the log (REQUIREd: the
    * executed plan is a LocalTableScan with no file scan anywhere), on
    * the same three-wave + MOR-mask fixture [[qwMetaAgg]] certifies for
    * the library ops. The zero-task 100 TB COUNT(*), now from SQL. */
  def qwAggPushdown(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txaggpush", d, "t")
    (0 until 3).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r).repartition(1), Layout(stats = Seq("doc_id"))))
    TxLog.deleteWhereMorExpr(spark, table, "lang = 'de' AND doc_id % 3 = 0")
    val df = spark.sql(s"SELECT COUNT(*) AS n, MIN(doc_id) AS lo, " +
      s"MAX(doc_id) AS hi FROM graft.`$table`")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan"),
      s"txlog: the aggregate must serve from the log fold, got: $plan")
    require(!plan.toLowerCase.contains("parquet"),
      "txlog: the pushed aggregate plan must carry no file scan")
    df
  }

  /** QW — GROUPED AGGREGATE PUSHDOWN (r16): `SELECT lang, COUNT(*),
    * MIN, MAX … GROUP BY lang` over a partition-recorded table plans as
    * a [[org.apache.spark.sql.connector.read.LocalScan]] of one row per
    * partition value — counts folded from recorded footer rows, bounds
    * from recorded per-file stats (restat supplies them for the
    * partitioned layout) — zero tasks for the per-partition dashboard
    * rollup (plan REQUIREd in-row, values hash-matched). */
  def qwAggGroup(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txagggrp", d, "t")
    (0 until 2).foreach(w => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 2 === w), Layout(partitionBy = Seq("lang"))))
    TxLog.restat(spark, table, "n_chars")
    val df = spark.sql(s"SELECT lang, COUNT(*) AS n, MIN(n_chars) AS lo, " +
      s"MAX(n_chars) AS hi FROM graft.`$table` GROUP BY lang ORDER BY lang")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan"),
      s"txlog: the grouped aggregate must serve from the log fold: $plan")
    require(!plan.toLowerCase.contains("parquet"),
      "txlog: the grouped pushed plan must carry no file scan")
    df
  }

  /** QW — BLOOM-ACCELERATED MERGE under the hash gate: documents lands
    * in 8 single-file waves split `doc_id % 8` (every file spans the
    * full id range — min/max stats prune nothing), each with a per-file
    * bloom on doc_id, then a NEEDLE upsert (re-price the min and max
    * docs, insert one fresh key) merges in. The row REQUIREs the
    * multi-probe prune admits ≤4 of the 8 files (the address scan a
    * 100 TB merge would otherwise pay in full), and the post-merge read
    * must hash-match the closed-form upsert — a false skip would land
    * the matched keys twice and break the hash. */
  def qwMergeBloom(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.types.StructType
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmergebloom", d, "t")
    TxLog.createTable(spark, table,
      StructType(docs.schema.fields.map(_.copy(nullable = true))))
    (0 until 8).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 8 === r).repartition(1),
      Layout(bloom = Some("doc_id"))))
    val b = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    require(lo < hi, "txlog: bloom-merge fixture needs two documents")
    val updates = docs
      .filter(col("doc_id") === lo || col("doc_id") === hi)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .unionByName(docs.filter(col("doc_id") === hi)
        .withColumn("doc_id", col("doc_id") + 10000000L))
    val kept = TxLog.pruneForFilters(spark, table,
      Seq(In("doc_id", Array(lo, hi, hi + 10000000L))))
    val total = TxLog.snapshotFiles(spark, table).size
    require(total == 8 && kept.size <= 5, // ≤2-3 true hits + the 1%-fpp sliver
      s"txlog: needle merge must skip most files: kept ${kept.size} of $total")
    TxLog.mergeMor(spark, table, updates, Seq("doc_id"))
    TxLog.read(spark, table).orderBy("doc_id")
  }

  /** QW — REBLOOM after OPTIMIZE ([[graft.sources.TxLog.rebloom]])
    * under the hash gate: the 8-way banded bloomed layout is COMPACTED
    * (filters die with their input files — the row REQUIREs the point
    * probe degrades to a conservative full keep), then rebloomed as a
    * row-invisible metadata commit — the row REQUIREs needle skipping
    * is RESTORED (kept < total) and the served read hash-matches the
    * identity scan. The maintenance pass that keeps point lookups
    * cheap across a 100 TB table's compaction lifecycle. */
  def qwRebloomRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txrebloom", d, "t")
    (0 until 8).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 8 === r).repartition(1),
      Layout(bloom = Some("doc_id"))))
    val probe = docs.agg(max("doc_id")).head().getLong(0)
    TxLog.compact(spark, table, numFiles = 4)
    val keptDegraded = TxLog.pruneForFilters(spark, table, Seq(EqualTo("doc_id", probe)))
    require(keptDegraded.size == TxLog.snapshotFiles(spark, table).size,
      "txlog: compacted output must start unbloomed (conservative keep)")
    val v = TxLog.rebloom(spark, table, "doc_id")
    require(v == TxLog.latestVersion(spark, table),
      "txlog: rebloom must land one maintenance commit")
    val kept = TxLog.pruneForFilters(spark, table, Seq(EqualTo("doc_id", probe)))
    val total = TxLog.snapshotFiles(spark, table).size
    require(kept.size < total,
      s"txlog: rebloom must restore skipping: kept ${kept.size} of $total")
    TxLog.read(spark, table).where(col("doc_id") === probe)
      .unionByName(TxLog.read(spark, table).filter(col("doc_id") =!= probe))
      .orderBy("doc_id")
  }

  /** QW — RESTAT ([[graft.sources.TxLog.restat]]) under the hash gate,
    * [[qwRebloomRead]]'s twin for the min/max channel: four
    * stats-covered range bands prune a point filter to 1 file; a
    * CLUSTERED compaction (no WithStats flavor) preserves the prunable
    * layout but drops every recorded bound — the point filter degrades
    * to full keep (REQUIREd); `restat` re-records bounds from FOOTERS
    * ALONE as one row-invisible commit and the skip returns (REQUIREd
    * kept=1). The maintenance step that keeps a long-lived table's
    * skipping contract alive across rewrites, priced at one footer
    * open per rewritten file. */
  def qwRestatRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txrestat", d, "t")
    val banded = docs.withColumn("_b",
      ntile(4).over(Window.orderBy("doc_id")))
    (1 to 4).foreach(b => TxLog.append(spark, table,
      banded.filter(col("_b") === b).drop("_b").repartition(1),
      Layout(stats = Seq("doc_id"))))
    val probe = docs.agg(max("doc_id")).head().getLong(0)
    require(TxLog.pruneForFilters(spark, table,
      Seq(EqualTo("doc_id", probe)), None).size == 1,
      "txlog: the banded fixture must prune the point filter to 1 of 4")
    TxLog.compactClustered(spark, table, files = 4, "doc_id")
    val degraded = TxLog.pruneForFilters(spark, table,
      Seq(EqualTo("doc_id", probe)), None)
    require(degraded.size == 4,
      s"txlog: clustered compaction must start unrecorded " +
        s"(conservative full keep), kept ${degraded.size}")
    val v = TxLog.restat(spark, table, "doc_id")
    require(v == TxLog.latestVersion(spark, table),
      "txlog: restat must land one maintenance commit")
    require(TxLog.restat(spark, table, "doc_id") == v,
      "txlog: a second restat must be a commit-free no-op")
    require(TxLog.pruneForFilters(spark, table,
      Seq(EqualTo("doc_id", probe)), None).size == 1,
      "txlog: restat must restore the 1-of-4 skip from footers alone")
    TxLog.read(spark, table).orderBy("doc_id")
  }

  /** QW — REPLACE WHERE ([[graft.sources.TxLog.replaceWhere]]) under
    * the hash gate: documents lands in three appends, then ONE atomic
    * backfill replaces the `lang = 'de'` slice with re-priced images of
    * the same docs — the row REQUIREs zero prior files were rewritten
    * (the slice is masked, not copied), the commit is merge-tagged (the
    * change feed and view maintenance fold it), and the post-backfill
    * read must hash-match the closed-form CASE. The
    * re-land-one-slice-of-100 TB idiom, priced at the slice. */
  def qwReplaceWhere(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txreplwhere", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val before = TxLog.snapshotFiles(spark, table).toSet
    val backfill = docs.filter(col("lang") === "de")
      .withColumn("n_chars", col("n_chars") + 5000L)
    val v = TxLog.replaceWhere(spark, table, backfill, "lang = 'de'")
    require(before.subsetOf(TxLog.snapshotFiles(spark, table).toSet),
      "txlog: REPLACE WHERE rewrote or removed a prior data file")
    require(TxLog.commitKind(spark, table, v).contains("merge"),
      "txlog: the backfill commit must be merge-tagged for the change feed")
    require(TxLog.dvAt(spark, table).nonEmpty,
      "txlog: the replaced slice must be masked by deletion vectors")
    TxLog.read(spark, table).orderBy("doc_id")
  }

  /** QW14 — FREE-PREDICATE merge-on-read delete under the hash gate:
    * documents lands in three appends, then a GDPR-shaped erasure by a
    * predicate no stats column can prune (`lang = 'de' AND n_chars`
    * odd — a subject spread across every file) binds deletion vectors
    * from ONE read-only scan; the row REQUIRES the data file set is
    * byte-identical, then hash-matches the SQL anti-predicate scan. */
  def qwDeleteExpr(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txdelexpr", d, "t")
    TxLog.destroy(spark, table)
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val before = TxLog.snapshotFiles(spark, table).toSet
    TxLog.deleteWhereMorExpr(spark, table, "lang = 'de' AND n_chars % 2 = 1")
    require(TxLog.snapshotFiles(spark, table).toSet == before,
      "txlog: free-predicate MOR delete must leave the data file set untouched")
    require(TxLog.dvAt(spark, table).nonEmpty,
      "txlog: free-predicate MOR delete bound no deletion vectors")
    TxLog.read(spark, table).orderBy("doc_id")
  }

  /** QW15 — the ROW-LEVEL CHANGE FEED ([[graft.sources.TxLog
    * .readChangesCdf]]) under the hash gate: documents lands whole, a
    * free-predicate MOR delete erases `lang = 'de'`, a compaction
    * rewrites the layout, and a copy-on-write range delete erases a
    * doc_id band — the full-range feed must deliver exactly (every row
    * as an insert at v0) + (the de rows as deletes at v1) + (the band's
    * surviving rows as deletes at v3), each stamped with its commit
    * version, and NOTHING for the compaction (REQUIREd in-row: a
    * layout rewrite is row-invisible to the feed). This is the
    * insert/delete image contract that lets invertible consumers fold
    * deletes instead of recomputing. */
  def qwCdfRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txcdf", d, "t")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    TxLog.append(spark, table, docs)                           // v0: inserts
    TxLog.deleteWhereMorExpr(spark, table, "lang = 'de'")      // v1: MOR deletes
    TxLog.compact(spark, table)                                // v2: invisible
    TxLog.deleteWhere(spark, table, "doc_id", maxId / 4, maxId / 2) // v3: CoW
    val cdf = TxLog.readChangesCdf(spark, table, -1L, TxLog.latestVersion(spark, table))
    require(cdf.filter(col("_commit_version") === 2).isEmpty,
      "txlog: the change feed must deliver nothing for a compaction")
    cdf.select("doc_id", "lang", "n_chars", "_commit_version", "_change_type")
      .orderBy("_commit_version", "doc_id")
  }

  /** QW16 — MERGE-ON-READ MERGE INTO ([[graft.sources.TxLog.mergeMor]])
    * under the hash gate: documents lands in three appends, then ONE
    * merge commit re-prices every doc_id ≡ 0 (mod 5) and inserts a
    * cloned wave of fresh keys — the row REQUIREs that the merge
    * rewrote, moved, and removed ZERO data files (the prior live set
    * survives byte-identical; only the new-image files and a deletion
    * vector were added — the upsert shape a 100 TB table can afford),
    * and the post-merge read must hash-match the closed-form upsert. */
  def qwMergeMor(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmergemor", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val before = TxLog.snapshotFiles(spark, table).toSet
    val updates = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .unionByName(docs.filter(col("doc_id") % 5 === 1)
        .withColumn("doc_id", col("doc_id") + 10000000L))
      .select("doc_id", "lang", "n_chars")
    val v = TxLog.mergeMor(spark, table, updates, Seq("doc_id"))
    val after = TxLog.snapshotFiles(spark, table).toSet
    require(before.subsetOf(after),
      "txlog: merge-on-read merge rewrote or removed a prior data file")
    require(!TxLog.commitRemoves(spark, table, v),
      "txlog: the merge commit must carry zero removes")
    require(TxLog.commitKind(spark, table, v).contains("merge"),
      "txlog: the merge commit must be tagged for the change feed")
    require(TxLog.dvAt(spark, table).nonEmpty,
      "txlog: the merge bound no deletion vectors for the superseded rows")
    TxLog.read(spark, table).orderBy("doc_id")
  }

  /** QW17 — PARTITION PRUNING ([[graft.sources.TxLog.Layout]]'s `partitionBy`)
    * under the hash gate: documents lands in three doc_id-range waves,
    * each laid out Hive-style by `lang` with the per-file partition
    * value recorded in the commit and per-file doc_id stats alongside —
    * the row REQUIREs that a `lang = 'de'` read prunes files by the
    * RECORDED PARTITION VALUE ALONE (lang carries no min/max stats
    * anywhere), that stacking a doc_id range prunes STRICTLY more (the
    * partition rung composes with data skipping), and that every kept
    * file's recorded value is 'de'. Result must hash-match the plain
    * SQL equality+range scan. */
  def qwPartitionPrune(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txpart", d, "t")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    Seq(
      docs.filter(col("doc_id") < b1),
      docs.filter(col("doc_id") >= b1 && col("doc_id") < b2),
      docs.filter(col("doc_id") >= b2)
    ).foreach(wave =>
      TxLog.append(spark, table, wave.coalesce(1),
        Layout(stats = Seq("doc_id"), partitionBy = Seq("lang"))))
    val keptPart = TxLog.pruneForFilters(spark, table, Seq(EqualTo("lang", "de")))
    val live = TxLog.snapshotFiles(spark, table).size
    require(keptPart.size < live,
      s"txlog: partition value pruned nothing (${keptPart.size} of $live)")
    val values = TxLog.partitionValuesAt(spark, table, "lang")
    require(keptPart.forall(values.get(_).contains("de")),
      "txlog: a kept file lacks the matching recorded partition value")
    // a doc_id range inside the first wave: stats must stack on top of
    // the partition rung and prune strictly further
    val preds = Seq(("doc_id", 0L, maxId / 6))
    val keptBoth = TxLog.pruneForFilters(spark, table,
      EqualTo("lang", "de") +: pushedRanges(preds))
    require(keptBoth.size < keptPart.size,
      s"txlog: stats added no pruning over the partition rung " +
        s"(${keptBoth.size} vs ${keptPart.size})")
    TxLog.read(spark, table).where(col("lang") === "de" && inRanges(preds))
      .orderBy("doc_id")
  }

  /** QW18 — the SQL SURFACE ([[graft.sources.TxLogCatalog]]) under the
    * hash gate: documents lands in three appends, and the row is served
    * ENTIRELY through `spark.sql` — a `VERSION AS OF 1` time travel
    * (first two waves only) — with in-row REQUIREs that the pure-SQL
    * latest read and the library read agree row-for-row, and that
    * `TIMESTAMP AS OF` now resolves to the head. A user's first-touch
    * query (`SELECT ... FROM graft.`path``) is what this row keeps
    * honest. */
  def qwSqlRead(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txsql", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    // pure-SQL parity with the library read, latest snapshot
    val sqlLatest = spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$table`")
      .head().getLong(0)
    require(sqlLatest == TxLog.read(spark, table).count(),
      "txlog: SQL catalog latest read diverges from the library read")
    // TIMESTAMP AS OF now = the head version
    val nowTs = java.time.Instant.now().toString
    val sqlAsOfNow = spark.sql(
      s"SELECT COUNT(*) AS n FROM graft.`$table` TIMESTAMP AS OF '$nowTs'")
      .head().getLong(0)
    require(sqlAsOfNow == sqlLatest,
      "txlog: TIMESTAMP AS OF now must resolve to the head")
    spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
      "VERSION AS OF 1 ORDER BY doc_id")
  }

  /** QW20 — SQL DML ([[graft.sources.TxLogCatalog]]'s write surface)
    * under the hash gate: the WHOLE lifecycle runs through `spark.sql`
    * — `CREATE TABLE` declares the empty table (readable at zero rows),
    * two `INSERT INTO ... SELECT` waves land as OCC appends, and a
    * `DELETE FROM ... WHERE` lands as ONE merge-on-read deletion-vector
    * commit — with in-row REQUIREs that the create/insert commits are
    * exactly v0..v2, that the DELETE rewrote/added/removed ZERO data
    * files (the V1-filter→predicate translation feeding
    * [[graft.sources.TxLog.deleteWhereMorExpr]]), and that the final
    * pure-SQL read agrees with the library read row-for-row. */
  def qwSqlDml(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txdml", d, "t")
    val view = "graft_dml_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    docs.createOrReplaceTempView(view)
    try {
      spark.sql(s"CREATE TABLE graft.`$table` " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
      require(spark.sql(s"SELECT * FROM graft.`$table`").isEmpty,
        "txlog: a created table must read empty through SQL")
      spark.sql(s"INSERT INTO graft.`$table` " +
        s"SELECT doc_id, lang, n_chars FROM $view WHERE doc_id % 2 = 0")
      spark.sql(s"INSERT INTO graft.`$table` " +
        s"SELECT doc_id, lang, n_chars FROM $view WHERE doc_id % 2 = 1")
      require(TxLog.versions(spark, table) == Seq(0L, 1L, 2L),
        "txlog: CREATE + two INSERTs must land as exactly v0..v2")
      val files = TxLog.snapshotFiles(spark, table).toSet
      val cut = docs.agg(max("doc_id")).head().getLong(0) / 3
      spark.sql(s"DELETE FROM graft.`$table` " +
        s"WHERE lang = 'de' AND doc_id <= $cut")
      require(TxLog.snapshotFiles(spark, table).toSet == files,
        "txlog: the SQL DELETE must stay merge-on-read — zero data " +
          "files rewritten, added, or removed")
      val out = spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
        "ORDER BY doc_id")
      require(out.count() == TxLog.read(spark, table).count(),
        "txlog: SQL and library disagree after the DML lifecycle")
      out
    } finally spark.catalog.dropTempView(view)
  }

  /** QW21 — SQL UPDATE + MERGE-DELETE ([[graft.plans.TxLogDml]]) under
    * the hash gate: `UPDATE ... SET n_chars = n_chars + 1000000 WHERE
    * lang = 'de'` lands as ONE merge-on-read commit (superseded
    * positions masked, reassigned images appended), then a
    * `MERGE INTO ... WHEN MATCHED THEN DELETE` erases an id list by
    * broadcast semi-join — with in-row REQUIREs that NEITHER statement
    * rewrote, added (beyond the update's image files), or removed a
    * data file, and that both commits carry their change-feed tags.
    * The final read runs through pure SQL. */
  def qwSqlUpdate(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txupd", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val before = TxLog.snapshotFiles(spark, table).toSet
    spark.sql(s"UPDATE graft.`$table` " +
      "SET n_chars = n_chars + 1000000 WHERE lang = 'de'")
    val afterUpdate = TxLog.snapshotFiles(spark, table).toSet
    require(before.subsetOf(afterUpdate),
      "txlog: the SQL UPDATE rewrote or removed a data file")
    require(TxLog.commitKind(spark, table, TxLog.latestVersion(spark, table))
      .contains("merge"), "txlog: UPDATE must land tagged merge")
    val view = "graft_upd_del_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    docs.filter(col("doc_id") % 7 === 3).select("doc_id")
      .createOrReplaceTempView(view)
    try {
      spark.sql(s"MERGE INTO graft.`$table` t USING $view s " +
        "ON t.doc_id = s.doc_id WHEN MATCHED THEN DELETE")
      require(TxLog.snapshotFiles(spark, table).toSet == afterUpdate,
        "txlog: the MERGE DELETE must be pure merge-on-read")
      require(TxLog.commitKind(spark, table, TxLog.latestVersion(spark, table))
        .contains("delete"), "txlog: MERGE DELETE must land tagged delete")
      spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
        "ORDER BY doc_id")
    } finally spark.catalog.dropTempView(view)
  }

  /** QW25 — CONDITIONAL SQL MERGE ([[graft.plans.TxLogDml]] →
    * [[graft.sources.TxLog.mergeMorConditional]]) under the hash gate:
    * one statement carries a guarded DELETE, a guarded partial UPDATE
    * whose RHS reads the source, an unguarded partial UPDATE, a
    * guarded INSERT, and BOTH `WHEN NOT MATCHED BY SOURCE` flavors (a
    * guarded UPDATE that shadows a guarded DELETE — first-true-wins) —
    * all landed as ONE merge-on-read commit (fired positions masked,
    * update+insert images appended, zero files rewritten). The source
    * mixes matched keys (every doc_id ≡ 0 mod 4, value doubled) with
    * keys the table has never seen (negated ids) so every clause
    * actually fires; the closed-form oracle replays the same algebra
    * as two LEFT JOINs. */
  def qwSqlMergeCond(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmrgc", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val view = "graft_mrgc_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    docs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("lang"), (col("n_chars") * 2).as("nv"))
      .unionByName(docs.filter(col("doc_id") % 9 === 4)
        .select((-col("doc_id") - 1).as("doc_id"), col("lang"),
          col("n_chars").as("nv")))
      .createOrReplaceTempView(view)
    try {
      val before = TxLog.snapshotFiles(spark, table).toSet
      val vs = TxLog.versions(spark, table).size
      spark.sql(s"MERGE INTO graft.`$table` t USING $view s " +
        "ON t.doc_id = s.doc_id " +
        "WHEN MATCHED AND s.nv > 2000 THEN DELETE " +
        "WHEN MATCHED AND t.lang = 'en' THEN UPDATE SET n_chars = s.nv + 5 " +
        "WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 7 " +
        "WHEN NOT MATCHED AND s.lang <> 'de' THEN " +
        "INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.nv) " +
        "WHEN NOT MATCHED BY SOURCE AND t.lang = 'fr' THEN " +
        "UPDATE SET n_chars = t.n_chars + 50000 " +
        "WHEN NOT MATCHED BY SOURCE AND t.doc_id % 10 = 9 THEN DELETE")
      require(TxLog.versions(spark, table).size == vs + 1,
        "txlog: the whole conditional MERGE must land as ONE commit")
      require(before.subsetOf(TxLog.snapshotFiles(spark, table).toSet),
        "txlog: conditional MERGE must stay merge-on-read")
      require(TxLog.commitKind(spark, table, TxLog.latestVersion(spark, table))
        .contains("merge"),
        "txlog: conditional MERGE must land tagged merge for the change feed")
      spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
        "ORDER BY doc_id")
    } finally spark.catalog.dropTempView(view)
  }

  /** QW28 — RANGE-ON SQL MERGE (r15: [[graft.plans.TxLogDml]] lowers a
    * non-equi ON through [[graft.sources.TxLog.mergeMorConditional]]'s
    * `residual`) under the hash gate: the interval-keyed upsert — the
    * source is a per-lang table of DISJOINT `[lo, hi)` n_chars bands,
    * `ON t.lang = s.lang AND t.n_chars >= s.lo AND t.n_chars < s.hi`,
    * matched rows re-priced by the band's bonus, bands matching NO row
    * inserted as sentinels (exercising the not-matched classification
    * under a residual: band membership, not key presence, decides).
    * The pair join stays a broadcast hash join on the equi key with
    * the band residual as its non-equi filter — REQUIREd merge-on-read,
    * one commit. The oracle replays the algebra generically (LEFT JOIN
    * for the re-pricing leg, NOT EXISTS for the sentinel leg), so no
    * assumption about which bands happen to match rides on the data. */
  def qwMergeRange(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    import org.apache.spark.sql.expressions.Window
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmrgr", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val langs = docs.select("lang").distinct()
    def band(lo: Long, hi: Long, bonus: Long) = langs.select(col("lang"),
      lit(lo).as("lo"), lit(hi).as("hi"), lit(bonus).as("bonus"))
    // the sentinel bands live strictly below every n_chars (min 47 in
    // the corpus; the oracle's NOT EXISTS leg keeps this assumption out
    // of the expected rows anyway) — lo = -rank(lang), hi = 0
    val sentinel = langs.select(col("lang"),
      (-row_number().over(Window.orderBy("lang"))).cast("long").as("lo"),
      lit(0L).as("hi"), lit(0L).as("bonus"))
    val view = "graft_mrgr_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    band(0L, 300L, 100000L).unionByName(band(300L, 600L, 200000L))
      .unionByName(sentinel).createOrReplaceTempView(view)
    try {
      val before = TxLog.snapshotFiles(spark, table).toSet
      val vs = TxLog.versions(spark, table).size
      spark.sql(s"MERGE INTO graft.`$table` t USING $view s " +
        "ON t.lang = s.lang AND t.n_chars >= s.lo AND t.n_chars < s.hi " +
        "WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.bonus " +
        "WHEN NOT MATCHED THEN " +
        "INSERT (doc_id, lang, n_chars) VALUES (s.lo, s.lang, s.hi)")
      require(TxLog.versions(spark, table).size == vs + 1,
        "txlog: the range MERGE must land as ONE commit")
      require(before.subsetOf(TxLog.snapshotFiles(spark, table).toSet),
        "txlog: the range MERGE must stay merge-on-read")
      require(TxLog.commitKind(spark, table, TxLog.latestVersion(spark, table))
        .contains("merge"),
        "txlog: the range MERGE must land tagged merge for the change feed")
      spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
        "ORDER BY doc_id, lang, n_chars")
    } finally spark.catalog.dropTempView(view)
  }

  /** QW-THETA — PURE-theta SQL MERGE (r16: [[graft.plans.TxLogDml]]
    * accepts an ON with NO equi key when a residual exists): the
    * interval-keyed upsert WITHOUT a lang key — `ON t.n_chars >= s.lo
    * AND t.n_chars < s.hi` over disjoint global bands. The pair join
    * lowers to a broadcast NESTED-LOOP join: the target streams once
    * against the broadcast band table (per-row cost |bands| residual
    * evaluations — the honest bounded-build-side plan; the target side
    * never shuffles or broadcasts). Matched rows re-price by the
    * band's bonus; a band matching NO row inserts a sentinel
    * (exercising the not-matched classification under pure theta,
    * where match is a function of the FULL ON, not key presence).
    * REQUIREd merge-on-read, one commit. The oracle replays the
    * algebra generically (LEFT JOIN + NOT EXISTS), so no assumption
    * about which bands match rides on the data. */
  def qwMergeTheta(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmrgt", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val view = "graft_mrgt_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    import spark.implicits._
    Seq((0L, 200L, 1000L), (200L, 400L, 2000L), (400L, 1000L, 3000L),
      (100000L, 100100L, 9999L)).toDF("lo", "hi", "bonus")
      .createOrReplaceTempView(view)
    try {
      val before = TxLog.snapshotFiles(spark, table).toSet
      val vs = TxLog.versions(spark, table).size
      spark.sql(s"MERGE INTO graft.`$table` t USING $view s " +
        "ON t.n_chars >= s.lo AND t.n_chars < s.hi " +
        "WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.bonus " +
        "WHEN NOT MATCHED THEN " +
        "INSERT (doc_id, lang, n_chars) VALUES (-s.lo - 1, 'band', s.lo)")
      require(TxLog.versions(spark, table).size == vs + 1,
        "txlog: the theta MERGE must land as ONE commit")
      require(before.subsetOf(TxLog.snapshotFiles(spark, table).toSet),
        "txlog: the theta MERGE must stay merge-on-read")
      spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
        "ORDER BY doc_id")
    } finally spark.catalog.dropTempView(view)
  }

  /** QW29 — MERGE WITH SCHEMA EVOLUTION (r15: [[graft.plans.TxLogDml]]
    * → [[graft.sources.TxLog.mergeMor]]'s `evolve`) under the hash
    * gate: the canonical upsert whose source carries a column the
    * table was NEVER declared with (`origin`) — matched keys take the
    * full new image, cloned keys insert, and the added column lands in
    * the SAME merge commit's schema action: every untouched old row
    * reads it as NULL with zero files rewritten (REQUIREd), and time
    * travel to the pre-merge version still reads the narrow schema
    * (REQUIREd) — the no-rewrite drift story at 100 TB. */
  def qwMergeEvolve(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmrge", d, "t")
    (0 to 2).foreach(r => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 3 === r)))
    val full = T.documents(spark, d)
      .select("doc_id", "lang", "n_chars", "source")
    val view = "graft_mrge_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    full.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 1000L).as("n_chars"), col("source").as("origin"))
      .unionByName(full.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          col("n_chars"), col("source").as("origin")))
      .createOrReplaceTempView(view)
    try {
      val preMerge = TxLog.latestVersion(spark, table)
      val before = TxLog.snapshotFiles(spark, table).toSet
      val vs = TxLog.versions(spark, table).size
      spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$table` t " +
        s"USING $view s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      require(TxLog.versions(spark, table).size == vs + 1,
        "txlog: the evolving MERGE must land as ONE commit")
      require(before.subsetOf(TxLog.snapshotFiles(spark, table).toSet),
        "txlog: the evolving MERGE must stay merge-on-read — the old " +
          "files read the added column as null, never rewritten")
      require(!TxLog.read(spark, table, Some(preMerge)).columns
        .contains("origin"),
        "txlog: time travel to the pre-merge version must read the " +
          "narrow schema")
      spark.sql(s"SELECT doc_id, lang, n_chars, origin FROM graft.`$table` " +
        "ORDER BY doc_id")
    } finally spark.catalog.dropTempView(view)
  }

  /** QW26 — the SQL MAINTENANCE surface ([[graft.plans.GraftSqlParser]])
    * under the hash gate: six micro-appends leave a small-file tail;
    * `OPTIMIZE` bin-packs it (kind REQUIREd compact — the change feed
    * skips it); `DESCRIBE HISTORY` must equal the library history
    * row-for-row; `VACUUM RETAIN 1 VERSIONS` (age horizon 0 — this
    * fixture is single-writer) physically deletes the superseded
    * pre-pack files; `OPTIMIZE … ZORDER BY` re-clusters. The row is
    * SERVED AFTER all four statements: full fidelity of the maintained
    * table against the plain oracle scan. */
  def qwSqlMaint(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txmaint", d, "t")
    (0 until 6).foreach(i => TxLog.append(spark, table,
      docs.filter(col("doc_id") % 6 === i)))
    val filesBefore = TxLog.snapshotFiles(spark, table).size
    val v = spark.sql(s"OPTIMIZE graft.`$table`").head().getLong(0)
    require(v == TxLog.latestVersion(spark, table) &&
      TxLog.commitKind(spark, table, v).contains("compact"),
      "txlog: SQL OPTIMIZE must land one compact-tagged commit")
    require(TxLog.snapshotFiles(spark, table).size < filesBefore,
      "txlog: SQL OPTIMIZE must consolidate the small-file tail")
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$table`").collect()
    val libHist = TxLog.history(spark, table).collect()
    require(hist.map(_.toSeq).toSeq == libHist.map(_.toSeq).toSeq,
      "txlog: DESCRIBE HISTORY must equal the library history")
    spark.conf.set("spark.graft.vacuum.minFileAgeMs", "0")
    try {
      val n = spark.sql(s"VACUUM graft.`$table` RETAIN 1 VERSIONS")
        .head().getLong(0)
      require(n >= 1L,
        "txlog: VACUUM must delete the superseded pre-pack files")
    } finally spark.conf.unset("spark.graft.vacuum.minFileAgeMs")
    val vz = spark.sql(s"OPTIMIZE graft.`$table` ZORDER BY (doc_id, n_chars)")
      .head().getLong(0)
    require(TxLog.commitKind(spark, table, vz).contains("compact"),
      "txlog: SQL ZORDER must land one compact-tagged commit")
    spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.`$table` " +
      "ORDER BY doc_id")
  }

  /** QW19 — DROP PARTITION ([[graft.sources.TxLog.deletePartition]])
    * under the hash gate: documents lands in three lang-partitioned
    * range waves plus ONE plain (value-less) append, then the 'de'
    * partition is dropped — the row REQUIREs that every RECORDED 'de'
    * file left the live set as pure metadata (never read, never
    * rewritten: the retention-sweep cost shape), that all recorded
    * non-'de' files survive byte-identical, and that only the plain
    * file was copy-on-write rewritten. The post-drop table must
    * hash-match the SQL anti-equality scan. */
  def qwDropPartition(spark: SparkSession, d: String): DataFrame = {
    import graft.sources.TxLog
    val docs = T.documents(spark, d).select("doc_id", "lang", "n_chars")
    val table = Fixtures.table("txdrop", d, "t")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val (b1, b2) = (maxId / 3, 2 * maxId / 3)
    val part = docs.filter(col("doc_id") % 11 =!= 3)
    Seq(
      part.filter(col("doc_id") < b1),
      part.filter(col("doc_id") >= b1 && col("doc_id") < b2),
      part.filter(col("doc_id") >= b2)
    ).foreach(wave =>
      TxLog.append(spark, table, wave.coalesce(1), Layout(partitionBy = Seq("lang"))))
    TxLog.append(spark, table,
      docs.filter(col("doc_id") % 11 === 3).coalesce(1)) // value-less
    val before = TxLog.snapshotFiles(spark, table).toSet
    val values = TxLog.partitionValuesAt(spark, table, "lang")
    val deFiles = values.collect { case (p, "de") => p }.toSet
    val keepFiles = values.collect { case (p, v) if v != "de" => p }.toSet
    require(deFiles.nonEmpty, "txlog: fixture grew no de partition files")
    TxLog.deletePartition(spark, table, "lang", "de")
    val after = TxLog.snapshotFiles(spark, table).toSet
    require(deFiles.forall(!after.contains(_)),
      "txlog: a recorded de file survived the drop")
    require(keepFiles.subsetOf(after),
      "txlog: the drop rewrote a recorded non-de file")
    require((after -- before).forall(_ => (before -- after) == deFiles ++
      (before -- keepFiles -- deFiles)),
      "txlog: only the value-less file may be rewritten")
    TxLog.read(spark, table).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qw_sql_dml" -> qwSqlDml _,
    "qw_sql_update" -> qwSqlUpdate _,
    "qw_sql_merge_cond" -> qwSqlMergeCond _,
    "qw_merge_range" -> qwMergeRange _,
    "qw_merge_theta" -> qwMergeTheta _,
    "qw_merge_evolve" -> qwMergeEvolve _,
    "qw_sql_maint" -> qwSqlMaint _,
    "qw_drop_partition" -> qwDropPartition _,
    "qw_sql_read" -> qwSqlRead _,
    "qw_partition_prune" -> qwPartitionPrune _,
    "qw_cdf_read" -> qwCdfRead _,
    "qw_merge_mor" -> qwMergeMor _,
    "qw_delete_expr" -> qwDeleteExpr _,
    "qw_restore_read" -> qwRestoreRead _,
    "qw_clone_read" -> qwCloneRead _,
    "qw_bloom_read" -> qwBloomRead _,
    "qw_sql_prune" -> qwSqlPrune _,
    "qw_sql_partition" -> qwSqlPartition _,
    "qw_meta_agg" -> qwMetaAgg _,
    "qw_agg_pushdown" -> qwAggPushdown _,
    "qw_agg_group" -> qwAggGroup _,
    "qw_merge_bloom" -> qwMergeBloom _,
    "qw_rebloom_read" -> qwRebloomRead _,
    "qw_restat_read" -> qwRestatRead _,
    "qw_replace_where" -> qwReplaceWhere _,
    "qw_pruned_read_str" -> qwPrunedReadStr _,
    "qw_binpack_read" -> qwBinpackRead _,
    "qw_rename_lifecycle" -> qwRenameLifecycle _,
    "qw_pruned_read_multi" -> qwPrunedReadMulti _,
    "qw_delete_mor" -> qwDeleteMor _,
    "qw_zorder_read" -> qwZorderRead _,
    "qw_hilbert_read" -> qwHilbertRead _,
    "qw_check_constraint" -> qwCheckConstraint _,
    "qw_generated_col" -> qwGeneratedCol _,
    "qw_identity_col" -> qwIdentityCol _,
    "qw_merge_identity" -> qwMergeIdentity _,
    "qw_pruned_read" -> qwPrunedRead _,
    "qw_delete_where" -> qwDeleteWhere _,
    "qw_merge_upsert" -> qwMergeUpsert _,
    "qw_snapshot_diff" -> qwSnapshotDiff _,
    "qw_txlog_read" -> qwTxlogRead _,
    "qw_optimize_read" -> qwOptimizeRead _)

  val oracles: Map[String, String] = Map(
    // the SQL DML lifecycle's closed form: everything inserted, the
    // early-de band deleted (MOR, zero files rewritten — REQUIREd)
    "qw_sql_dml" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE NOT (lang = 'de' AND doc_id <= " +
        "(SELECT MAX(doc_id)//3 FROM documents)) ORDER BY doc_id"),
    // the UPDATE's reassignment composed with the merge-delete's
    // complement — both statements REQUIREd merge-on-read in-row
    "qw_sql_update" ->
      ("SELECT doc_id, lang, " +
        "CASE WHEN lang = 'de' THEN n_chars + 1000000 ELSE n_chars END " +
        "AS n_chars FROM documents WHERE doc_id % 7 <> 3 ORDER BY doc_id"),
    // served AFTER OPTIMIZE + VACUUM + ZORDER: maintenance must be
    // invisible to readers
    "qw_sql_maint" ->
      ("SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"),
    // the conditional MERGE's closed form: the two LEFT JOIN legs replay
    // the first-true-wins clause algebra (matched delete/updates,
    // guarded insert, and the BY SOURCE update-shadows-delete pair)
    "qw_sql_merge_cond" ->
      ("WITH src AS (" +
        "SELECT doc_id, lang, n_chars * 2 AS nv FROM documents " +
        "WHERE doc_id % 4 = 0 " +
        "UNION ALL " +
        "SELECT -doc_id - 1 AS doc_id, lang, n_chars AS nv FROM documents " +
        "WHERE doc_id % 9 = 4) " +
        "SELECT doc_id, lang, n_chars FROM (" +
        "SELECT t.doc_id AS doc_id, t.lang AS lang, " +
        "CASE WHEN s.doc_id IS NULL THEN " +
        "CASE WHEN t.lang = 'fr' THEN t.n_chars + 50000 ELSE t.n_chars END " +
        "WHEN t.lang = 'en' THEN s.nv + 5 " +
        "ELSE t.n_chars + 7 END AS n_chars " +
        "FROM documents t LEFT JOIN src s ON t.doc_id = s.doc_id " +
        "WHERE (s.doc_id IS NOT NULL AND s.nv <= 2000) " +
        "OR (s.doc_id IS NULL AND (t.lang = 'fr' OR t.doc_id % 10 <> 9)) " +
        "UNION ALL " +
        "SELECT s.doc_id, s.lang, s.nv " +
        "FROM src s LEFT JOIN documents t ON t.doc_id = s.doc_id " +
        "WHERE t.doc_id IS NULL AND s.lang <> 'de'" +
        ") ORDER BY doc_id"),
    // the evolving MERGE's closed form: matched keys take the new
    // image (origin filled), cloned keys insert, every untouched row
    // reads the ADDED column as NULL (old files, never rewritten)
    "qw_merge_evolve" ->
      ("SELECT doc_id, lang, " +
        "CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END " +
        "AS n_chars, " +
        "CASE WHEN doc_id % 5 = 0 THEN source ELSE NULL END AS origin " +
        "FROM documents " +
        "UNION ALL " +
        "SELECT doc_id + 10000000 AS doc_id, lang, n_chars, " +
        "source AS origin FROM documents WHERE doc_id % 5 = 1 " +
        "ORDER BY doc_id"),
    // the range MERGE's closed form, generic over which bands match:
    // the LEFT JOIN leg re-prices each doc by its (disjoint) band's
    // bonus; the NOT EXISTS leg inserts every band no doc fell into
    "qw_merge_range" ->
      ("WITH langs AS (SELECT DISTINCT lang FROM documents), " +
        "bands AS (" +
        "SELECT lang, CAST(0 AS BIGINT) AS lo, CAST(300 AS BIGINT) AS hi, " +
        "CAST(100000 AS BIGINT) AS bonus FROM langs " +
        "UNION ALL SELECT lang, 300, 600, 200000 FROM langs " +
        "UNION ALL SELECT lang, -ROW_NUMBER() OVER (ORDER BY lang), 0, 0 " +
        "FROM langs) " +
        "SELECT doc_id, lang, n_chars FROM (" +
        "SELECT t.doc_id AS doc_id, t.lang AS lang, " +
        "t.n_chars + COALESCE(b.bonus, 0) AS n_chars " +
        "FROM documents t LEFT JOIN bands b ON t.lang = b.lang " +
        "AND t.n_chars >= b.lo AND t.n_chars < b.hi " +
        "UNION ALL " +
        "SELECT b.lo AS doc_id, b.lang AS lang, b.hi AS n_chars " +
        "FROM bands b WHERE NOT EXISTS (SELECT 1 FROM documents t " +
        "WHERE t.lang = b.lang AND t.n_chars >= b.lo AND t.n_chars < b.hi)" +
        ") ORDER BY doc_id, lang, n_chars"),
    // the dropped partition's complement (recorded files removed as
    // metadata, the value-less file's de rows CoW'd out — REQUIREd)
    "qw_drop_partition" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE lang <> 'de' ORDER BY doc_id"),
    // VERSION AS OF 1 pins the first two mod-3 waves
    "qw_sql_read" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE doc_id % 3 <= 1 ORDER BY doc_id"),
    // partition equality + range scan: the pruning (REQUIREd in-row)
    // decides files, never rows
    "qw_partition_prune" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'de' " +
        "AND doc_id BETWEEN 0 AND (SELECT MAX(doc_id)//6 FROM documents) " +
        "ORDER BY doc_id"),
    // the change feed's closed form: every row inserts at v0, the de
    // rows delete at v1, the band's de-surviving rows delete at v3; the
    // compaction at v2 contributes nothing (REQUIREd in-row)
    "qw_cdf_read" ->
      ("SELECT doc_id, lang, n_chars, CAST(0 AS BIGINT) AS _commit_version, " +
        "'insert' AS _change_type FROM documents " +
        "UNION ALL SELECT doc_id, lang, n_chars, 1, 'delete' " +
        "FROM documents WHERE lang = 'de' " +
        "UNION ALL SELECT doc_id, lang, n_chars, 3, 'delete' " +
        "FROM documents WHERE doc_id BETWEEN " +
        "(SELECT MAX(doc_id)//4 FROM documents) " +
        "AND (SELECT MAX(doc_id)//2 FROM documents) AND lang <> 'de' " +
        "ORDER BY _commit_version, doc_id"),
    // the merge's closed form: matched keys re-priced, cloned keys
    // inserted, everything else untouched
    "qw_merge_mor" ->
      ("SELECT doc_id, lang, CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 " +
        "ELSE n_chars END AS n_chars FROM documents " +
        "UNION ALL SELECT doc_id + 10000000 AS doc_id, lang, n_chars " +
        "FROM documents WHERE doc_id % 5 = 1 ORDER BY doc_id"),
    // appends partition the table, compaction rewrites it — the latest
    // snapshot must be the identity
    "qw_txlog_read" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id",
    // the erased subject's complement, row-for-row
    "qw_delete_expr" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE NOT (lang = 'de' AND n_chars % 2 = 1) ORDER BY doc_id"),
    // restore rolls back both delete flavors: identity scan
    "qw_restore_read" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    // the clone serves the FORK-POINT snapshot (post first delete),
    // blind to the source's later divergence — zero-copy REQUIREd in-row
    "qw_clone_read" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE NOT (lang = 'de') ORDER BY doc_id"),
    // two bloom-pruned point probes (skipping REQUIREd in-row — the
    // filters decide files, the exact equality decides rows)
    "qw_bloom_read" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE doc_id = (SELECT MIN(doc_id) FROM documents) " +
        "OR doc_id = (SELECT MAX(doc_id) FROM documents) ORDER BY doc_id"),
    // declared partitioning kept by plain INSERTs (pruning REQUIREd
    // in-row) — the served snapshot is the identity
    "qw_sql_partition" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    // the pushed-down point probes' closed form (file skipping REQUIREd
    // in-row; the catalog scan re-applies the filter on kept rows)
    "qw_sql_prune" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE doc_id = (SELECT MIN(doc_id) FROM documents) " +
        "OR doc_id = (SELECT MAX(doc_id) FROM documents) ORDER BY doc_id"),
    // count = log fold minus the dv mask; min/max = log bounds + the
    // one masked file's scan (both REQUIREd in-row)
    "qw_meta_agg" ->
      ("SELECT COUNT(*) AS n, MIN(doc_id) AS lo, MAX(doc_id) AS hi " +
        "FROM documents WHERE NOT (lang = 'de' AND doc_id % 3 = 0)"),
    // one LocalScan row per partition value, folded from the log
    // (zero-file-scan plan REQUIREd in-row)
    "qw_agg_group" ->
      ("SELECT lang, COUNT(*) AS n, MIN(n_chars) AS lo, " +
        "MAX(n_chars) AS hi FROM documents GROUP BY lang ORDER BY lang"),
    // same closed form, but served by the SQL surface's pushed-down
    // LocalScan log fold (zero-file-scan plan REQUIREd in-row)
    "qw_agg_pushdown" ->
      ("SELECT COUNT(*) AS n, MIN(doc_id) AS lo, MAX(doc_id) AS hi " +
        "FROM documents WHERE NOT (lang = 'de' AND doc_id % 3 = 0)"),
    // the atomic slice backfill's closed form: the de slice re-priced,
    // every other row untouched (zero-rewrite REQUIREd in-row)
    "qw_replace_where" ->
      ("SELECT doc_id, lang, CASE WHEN lang = 'de' THEN n_chars + 5000 " +
        "ELSE n_chars END AS n_chars FROM documents ORDER BY doc_id"),
    // compact degrades to full keep (REQUIREd), rebloom restores the
    // skip (REQUIREd) — the served snapshot is the identity either way
    "qw_rebloom_read" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    // clustered compaction drops recorded bounds (full keep REQUIREd),
    // restat re-records them from footers alone (1-of-4 skip REQUIREd)
    // — the served snapshot is the identity either way
    "qw_restat_read" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    // the needle upsert's closed form: min/max re-priced, max cloned to
    // a fresh key — the address scan's pruning REQUIREd in-row
    "qw_merge_bloom" ->
      ("SELECT doc_id, lang, CASE WHEN doc_id = (SELECT MIN(doc_id) " +
        "FROM documents) OR doc_id = (SELECT MAX(doc_id) FROM documents) " +
        "THEN n_chars + 1000 ELSE n_chars END AS n_chars FROM documents " +
        "UNION ALL SELECT doc_id + 10000000 AS doc_id, lang, n_chars " +
        "FROM documents WHERE doc_id = (SELECT MAX(doc_id) FROM documents) " +
        "ORDER BY doc_id"),
    // string-range scan: the skip (proved by the in-row REQUIRE) decides
    // files, never rows; byte-order BETWEEN is identical in both engines
    "qw_pruned_read_str" ->
      ("SELECT doc_id, lang, n_chars FROM documents " +
        "WHERE lang BETWEEN 'd' AND 'ez' ORDER BY doc_id"),
    // bin-packing is row-invisible: identity scan
    "qw_binpack_read" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    // rename is logical-only (chars ≡ n_chars), the drop+re-add leaves
    // lang NULL everywhere except the post-re-add wave (doc_id % 3 = 2)
    "qw_rename_lifecycle" ->
      ("SELECT doc_id, n_chars AS chars, " +
        "CASE WHEN doc_id % 3 = 2 THEN lang ELSE NULL END AS lang " +
        "FROM documents ORDER BY doc_id"),
    // AND of two ranges; the skipping (proved by the in-row REQUIREs)
    // decides files, never rows
    "qw_pruned_read_multi" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey BETWEEN (SELECT MAX(o_orderkey)//6 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//3 FROM orders) " +
        "AND o_custkey BETWEEN 0 AND (SELECT MAX(o_custkey)//4 FROM orders) " +
        "ORDER BY o_orderkey, o_custkey"),
    // two overlapping MOR erasures ≡ the union of both ranges deleted
    "qw_delete_mor" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT BETWEEN (SELECT MAX(o_orderkey)//6 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//3 FROM orders) " +
        "AND o_orderkey NOT BETWEEN (SELECT MAX(o_orderkey)//4 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//2 FROM orders) " +
        "ORDER BY o_orderkey"),
    // the z-order rewrite is row-invisible: a two-axis box read off the
    // rewritten table is a plain AND-of-ranges scan
    "qw_zorder_read" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey BETWEEN (SELECT MAX(o_orderkey)//4 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//2 FROM orders) " +
        "AND o_custkey BETWEEN (SELECT MAX(o_custkey)//4 FROM orders) " +
        "AND (SELECT MAX(o_custkey)//2 FROM orders) " +
        "ORDER BY o_orderkey, o_custkey"),
    // the gated writes: waves 0/1 land as-is, the negated wave 2 lands
    // only after the DROP — the closed form holds only if exactly the
    // constraint-admitted commits landed
    "qw_check_constraint" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 4 IN (0, 1) " +
        "UNION ALL " +
        "SELECT doc_id, lang, -n_chars - 1 AS n_chars FROM documents " +
        "WHERE doc_id % 4 = 2 ORDER BY doc_id"),
    // the data columns only (ids are arrival-ordered and REQUIREd
    // in-row); a hash match proves the identity machinery never
    // perturbed, dropped, or duplicated a data row across three
    // minting commits + the rejections
    "qw_identity_col" ->
      ("SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars " +
        "FROM documents ORDER BY doc_id"),
    // the pure-theta merge's closed form: LEFT JOIN on the interval
    // alone re-prices, NOT EXISTS inserts the empty bands' sentinels
    "qw_merge_theta" ->
      ("WITH b(lo, hi, bonus) AS (VALUES " +
        "(0, 200, 1000), (200, 400, 2000), (400, 1000, 3000), " +
        "(100000, 100100, 9999)) " +
        "SELECT t.doc_id, t.lang, " +
        "CAST(t.n_chars + COALESCE(b.bonus, 0) AS BIGINT) AS n_chars " +
        "FROM documents t LEFT JOIN b " +
        "ON t.n_chars >= b.lo AND t.n_chars < b.hi " +
        "UNION ALL " +
        "SELECT CAST(-(b.lo + 1) AS BIGINT) AS doc_id, 'band' AS lang, " +
        "CAST(b.lo AS BIGINT) AS n_chars FROM b " +
        "WHERE NOT EXISTS (SELECT 1 FROM documents t " +
        "WHERE t.n_chars >= b.lo AND t.n_chars < b.hi) " +
        "ORDER BY doc_id"),
    // the upsert-into-identity closed form: sorted single-commit mints
    // make the ids themselves deterministic — wave-1 ids are the rank
    // by doc_id among the evens, matched re-images KEEP that id, and
    // the merge's inserts mint n1 + rank among the sorted odd keys
    "qw_merge_identity" ->
      ("WITH w1 AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS row_id " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "upd AS (SELECT doc_id, 'merged-' || lang AS lang, " +
        "CAST(n_chars + 5000 AS BIGINT) AS n_chars " +
        "FROM documents WHERE doc_id % 4 = 0), " +
        "ins AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST((SELECT COUNT(*) FROM w1) + " +
        "row_number() OVER (ORDER BY doc_id) AS BIGINT) AS row_id " +
        "FROM documents WHERE doc_id % 2 = 1) " +
        "SELECT w1.doc_id, COALESCE(upd.lang, w1.lang) AS lang, " +
        "COALESCE(upd.n_chars, w1.n_chars) AS n_chars, w1.row_id " +
        "FROM w1 LEFT JOIN upd ON w1.doc_id = upd.doc_id " +
        "UNION ALL SELECT doc_id, lang, n_chars, row_id FROM ins " +
        "ORDER BY doc_id"),
    // waves 0/1 with the update applied; every derivation recomputed in
    // SQL — holds only if the stored generated values are exact
    "qw_generated_col" ->
      ("WITH base AS (SELECT doc_id, lang, " +
        "CASE WHEN doc_id % 6 = 3 THEN n_chars + 1000 ELSE n_chars END AS n_chars " +
        "FROM documents WHERE doc_id % 3 IN (0, 1)) " +
        "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, " +
        "CAST(n_chars // 100 AS BIGINT) AS len_bucket, " +
        "CAST(LENGTH(lang) AS BIGINT) AS lang_len " +
        "FROM base ORDER BY doc_id"),
    // the hilbert rewrite is row-invisible too: same box read, same
    // plain AND-of-ranges oracle
    "qw_hilbert_read" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey BETWEEN (SELECT MAX(o_orderkey)//4 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//2 FROM orders) " +
        "AND o_custkey BETWEEN (SELECT MAX(o_custkey)//4 FROM orders) " +
        "AND (SELECT MAX(o_custkey)//2 FROM orders) " +
        "ORDER BY o_orderkey, o_custkey"),
    // range-disjoint stats-bearing appends + log-pruned range read must
    // be a plain range scan (the skip decides files, never rows);
    // boundaries mirror the builder's integer arithmetic
    "qw_pruned_read" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey BETWEEN (SELECT MAX(o_orderkey)//6 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//3 FROM orders) ORDER BY o_orderkey"),
    // the delete's complement: everything OUTSIDE the erased range
    "qw_delete_where" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT BETWEEN (SELECT MAX(o_orderkey)//6 FROM orders) " +
        "AND (SELECT MAX(o_orderkey)//3 FROM orders) ORDER BY o_orderkey"),
    // interleaved appends + clustered rewrite + range read must be a
    // plain range scan — the layout rewrite is row-invisible
    "qw_optimize_read" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_orderkey BETWEEN 10000 AND 20000 ORDER BY o_orderkey"),
    // same planted change classes, same full-outer-join derivation with
    // IS NOT DISTINCT FROM mirroring Spark's null-safe <=>
    "qw_snapshot_diff" ->
      ("WITH neu AS (SELECT o_orderkey, CASE WHEN o_orderkey % 101 = 5 " +
        "THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 101 <> 3 " +
        "UNION ALL SELECT o_orderkey + 100000000, o_totalprice " +
        "FROM orders WHERE o_orderkey % 101 = 7), " +
        "j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
        "o.o_orderkey IS NOT NULL AS in_old, n.o_orderkey IS NOT NULL AS in_new, " +
        "o.o_totalprice AS old_o_totalprice, n.o_totalprice AS new_o_totalprice " +
        "FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey) " +
        "SELECT o_orderkey, CASE WHEN NOT in_old THEN 'added' " +
        "WHEN NOT in_new THEN 'removed' ELSE 'changed' END AS change, " +
        "old_o_totalprice, new_o_totalprice FROM j " +
        "WHERE NOT in_old OR NOT in_new " +
        "OR old_o_totalprice IS DISTINCT FROM new_o_totalprice " +
        "ORDER BY o_orderkey"),
    "qw_merge_upsert" ->
      ("WITH mods AS (SELECT o_orderkey, 'U' AS o_orderstatus, " +
        "o_totalprice + 1000 AS o_totalprice FROM orders WHERE o_orderkey % 13 = 3), " +
        "dels AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 13 = 7), " +
        "ins AS (SELECT o_orderkey + 100000000 AS o_orderkey, 'I' AS o_orderstatus, " +
        "o_totalprice FROM orders WHERE o_orderkey % 13 = 5), " +
        "touched AS (SELECT o_orderkey FROM mods UNION ALL " +
        "SELECT o_orderkey FROM dels UNION ALL SELECT o_orderkey FROM ins) " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched) " +
        "UNION ALL SELECT * FROM mods UNION ALL SELECT * FROM ins " +
        "ORDER BY o_orderkey"))
}
