package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** The TxLog SQL catalog ([[graft.sources.TxLogCatalog]]), pinned:
  * pure-SQL reads ≡ library reads at every version, VERSION AS OF /
  * TIMESTAMP AS OF resolution, predicates/joins/aggregates over the
  * catalog table, and the loud read-only contract. */
class TxLogCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(n: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cat-$n").toString + "/t"

  test("SQL reads equal library reads at latest and at every pinned version") {
    val t = fresh("parity")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    TxLog.append(spark, t, Seq(("c", 3L)).toDF("k", "v"))
    TxLog.deleteWhereMorExpr(spark, t, "k = 'a'")
    (0L to TxLog.latestVersion(spark, t)).foreach { v =>
      val sql = spark.sql(s"SELECT k, v FROM graft.`$t` VERSION AS OF $v")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      val lib = TxLog.read(spark, t, Some(v))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(sql == lib, s"SQL and library diverge at version $v")
    }
    assert(spark.sql(s"SELECT k, v FROM graft.`$t`")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("b", "c"),
      "latest SQL read must see the MOR delete applied")
  }

  test("TIMESTAMP AS OF resolves through the commit-time mapping; SQL composes (filter/join/agg)") {
    val t = fresh("compose")
    TxLog.append(spark, t, Seq(("a", 1L), ("a", 5L), ("b", 2L)).toDF("k", "v"))
    val now = java.time.Instant.now().toString
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.`$t` TIMESTAMP AS OF '$now'")
      .head().getLong(0) == 3L)
    val agg = spark.sql(
      s"SELECT k, SUM(v) AS s FROM graft.`$t` WHERE v < 5 GROUP BY k ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(agg == Seq(("a", 1L), ("b", 2L)))
    val joined = spark.sql(
      s"SELECT x.k, x.v + y.v AS s FROM graft.`$t` x JOIN graft.`$t` y " +
        "ON x.k = y.k WHERE x.v = 1 AND y.v = 5").head()
    assert((joined.getString(0), joined.getLong(1)) == (("a", 6L)))
  }

  test("a missing table errors at analysis; unsupported ALTER shapes stay loud") {
    val missing = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`/definitely/not/a/table`").collect()
    }
    assert(missing.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      missing.getMessage.toLowerCase.contains("not found"),
      s"unexpected missing-table error: ${missing.getMessage}")
    val t = fresh("ro")
    TxLog.append(spark, t, Seq(("a", 1L)).toDF("k", "v"))
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN v TYPE STRING")
    }
    assert(e.getMessage.contains("not supported") ||
      e.getMessage.toLowerCase.contains("library api") ||
      e.getMessage.toLowerCase.contains("unsupported"),
      s"unexpected ALTER TYPE error: ${e.getMessage}")
  }

  test("ALTER TABLE add/rename/drop column are metadata-only schema commits") {
    val t = fresh("alter")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    val files = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT k, v, note FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.isNullAt(2))).toSeq ==
      Seq(("a", 1L, true), ("b", 2L, true)),
      "old files must read the added column as null")
    spark.sql(s"INSERT INTO graft.`$t` VALUES ('c', 3, 'hi')")
    spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN v TO points")
    spark.sql(s"ALTER TABLE graft.`$t` DROP COLUMN note")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq ==
      Seq("k", "points"))
    assert(spark.sql(s"SELECT SUM(points) FROM graft.`$t`").head().getLong(0) == 6L)
    assert(files.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "ALTER must touch zero data files")
    // re-adding the dropped name must not resurrect the dropped bytes
    spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT note FROM graft.`$t`").collect()
      .forall(_.isNullAt(0)), "a re-added column starts null everywhere")
    // time travel still shows the pre-ALTER shape
    assert(spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 0").columns.toSeq ==
      Seq("k", "v"))
  }

  test("CREATE TABLE declares an empty readable table; INSERT INTO lands OCC appends") {
    val t = fresh("dml")
    spark.sql(s"CREATE TABLE graft.`$t` (k STRING, v BIGINT)")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").collect().isEmpty,
      "a created table must read as zero rows with the declared columns")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq == Seq("k", "v"))
    spark.sql(s"INSERT INTO graft.`$t` VALUES ('a', 1), ('b', 2)")
    spark.sql(s"INSERT INTO graft.`$t` SELECT 'c', 3")
    assert(spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    // each INSERT is one commit on top of the CREATE's schema commit
    assert(TxLog.versions(spark, t) == Seq(0L, 1L, 2L))
    // and the library API sees exactly what SQL wrote
    assert(TxLog.read(spark, t).count() == 3L)
    val dup = intercept[Exception] { spark.sql(s"CREATE TABLE graft.`$t` (x INT)") }
    assert(dup.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS") ||
      dup.getMessage.toLowerCase.contains("already exists"))
  }

  test("INSERT OVERWRITE is one replace commit; old snapshot stays time-travelable") {
    val t = fresh("ovw")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    spark.sql(s"INSERT OVERWRITE graft.`$t` VALUES ('z', 9)")
    assert(spark.sql(s"SELECT k FROM graft.`$t`").collect()
      .map(_.getString(0)).toSeq == Seq("z"))
    assert(spark.sql(s"SELECT k FROM graft.`$t` VERSION AS OF 0 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"),
      "the overwritten snapshot must remain readable")
    assert(TxLog.versions(spark, t).size == 2,
      "INSERT OVERWRITE must land as exactly one commit")
  }

  test("CTAS creates and fills in one statement") {
    val t = fresh("ctas")
    spark.sql(s"CREATE TABLE graft.`$t` AS SELECT id AS n, id * 2 AS d " +
      "FROM range(5)")
    assert(spark.sql(s"SELECT SUM(n) AS s, SUM(d) AS sd FROM graft.`$t`")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 20L)))
  }

  test("DELETE FROM WHERE is a MOR deletion-vector commit, zero files rewritten") {
    val t = fresh("del")
    TxLog.append(spark, t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L), (null, 4L)).toDF("k", "v"))
    val before = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"DELETE FROM graft.`$t` WHERE v >= 2 AND (k = 'b' OR k = 'c')")
    assert(TxLog.snapshotFiles(spark, t).toSet == before,
      "a SQL DELETE must not rewrite, add, or remove data files")
    assert(spark.sql(s"SELECT v FROM graft.`$t` ORDER BY v").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 4L))
    // null-semantics rung: IS NULL translates; = NULL never matches
    spark.sql(s"DELETE FROM graft.`$t` WHERE k IS NULL")
    assert(spark.sql(s"SELECT v FROM graft.`$t`").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // DELETE with no WHERE empties the table without touching files
    spark.sql(s"DELETE FROM graft.`$t`")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").collect().isEmpty)
    assert(TxLog.snapshotFiles(spark, t).toSet == before,
      "even delete-all stays merge-on-read")
  }

  test("DELETE on an untranslatable predicate fails loudly; pinned snapshots refuse writes") {
    val t = fresh("loud")
    TxLog.append(spark, t, Seq(("abc", 1L)).toDF("k", "v"))
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`$t` WHERE k LIKE 'a%'")
    }
    assert(e.getMessage.toLowerCase.contains("cannot delete") ||
      e.getMessage.toLowerCase.contains("not translatable") ||
      e.getMessage.contains("UNSUPPORTED"),
      s"unexpected untranslatable-delete error: ${e.getMessage}")
    assert(TxLog.read(spark, t).count() == 1L, "the failed DELETE must not land")
  }

  test("UPDATE lands one MOR merge commit: images reassigned, zero files rewritten") {
    val t = fresh("upd")
    TxLog.append(spark, t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val before = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"UPDATE graft.`$t` SET v = v * 10 WHERE k <> 'b'")
    assert(spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 10L), ("b", 2L), ("c", 30L)))
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "UPDATE must not rewrite or remove data files (merge-on-read)")
    assert(TxLog.commitKind(spark, t, TxLog.latestVersion(spark, t))
      .contains("merge"), "UPDATE lands tagged merge for the change feed")
    // updating an already-updated row chains correctly (old image masked)
    spark.sql(s"UPDATE graft.`$t` SET v = v + 1 WHERE k = 'a'")
    assert(spark.sql(s"SELECT v FROM graft.`$t` WHERE k = 'a'")
      .head().getLong(0) == 11L)
    // no-match UPDATE commits nothing
    val vs = TxLog.versions(spark, t).size
    spark.sql(s"UPDATE graft.`$t` SET v = 0 WHERE k = 'zzz'")
    assert(TxLog.versions(spark, t).size == vs, "no match → no commit")
    // an UPDATE must not resurrect MOR-deleted rows: the matched set
    // anti-applies the prior deletion vectors before imaging
    spark.sql(s"DELETE FROM graft.`$t` WHERE k = 'c'")
    spark.sql(s"UPDATE graft.`$t` SET v = v + 100")
    assert(spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 111L), ("b", 102L)),
      "a deleted row re-imaged by UPDATE would be resurrection")
  }

  test("MERGE INTO upserts through mergeMor; MATCHED DELETE erases by key") {
    val t = fresh("mrg")
    TxLog.append(spark, t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    Seq(("b", 20L), ("d", 40L)).toDF("k", "v").createOrReplaceTempView("mrg_src")
    val before = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"MERGE INTO graft.`$t` t USING mrg_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 20L), ("c", 3L), ("d", 40L)))
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "MERGE must stay merge-on-read")
    // sole MATCHED DELETE = erase-by-id-list
    Seq("a", "d", "nope").toDF("k").createOrReplaceTempView("mrg_del")
    spark.sql(s"MERGE INTO graft.`$t` t USING mrg_del s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    assert(spark.sql(s"SELECT k FROM graft.`$t` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("b", "c"))
    // WITH SCHEMA EVOLUTION beyond the canonical upsert stays loudly
    // rejected, with the table untouched (r15 narrowed the rejection:
    // the canonical shape now evolves — its own spec below)
    val vs = TxLog.versions(spark, t).size
    val e = intercept[Exception] {
      spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` t " +
        "USING mrg_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v")
    }
    assert(e.getMessage.contains("beyond the canonical upsert"),
      s"unexpected schema-evolution-merge error: ${e.getMessage}")
    assert(TxLog.versions(spark, t).size == vs)
  }

  test("MERGE WITH SCHEMA EVOLUTION: add-column + widening land INSIDE the merge commit (r15)") {
    val t = fresh("mrgev")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    Seq(("b", 20L, "x"), ("d", 40L, "y")).toDF("k", "v", "tag")
      .createOrReplaceTempView("mrgev_src")
    val before = TxLog.snapshotFiles(spark, t).toSet
    val vs = TxLog.versions(spark, t).size
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` t " +
      "USING mrgev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(TxLog.versions(spark, t).size == vs + 1,
      "evolution + merge must land as ONE commit (atomic schema action)")
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "an evolving MERGE must stay merge-on-read")
    // old files read the added column as null; merged/inserted rows
    // carry it
    val got = spark.sql(s"SELECT k, v, tag FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq(("a", 1L, null), ("b", 20L, "x"), ("c", 3L, null),
      ("d", 40L, "y")), s"evolving merge produced $got")
    // time travel to the pre-merge version reads ITS OWN schema
    assert(spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 0")
      .columns.toSeq == Seq("k", "v"),
      "the pre-evolution version must keep the narrow schema")
    // a second evolving merge with the SAME schema is a plain upsert
    // (no spurious schema action)
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$t` t " +
      "USING mrgev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0) == 4L)
    // WIDENING flavor: an INT-declared column takes BIGINT images and
    // the old int files read promoted
    val t2 = fresh("mrgev2")
    spark.sql(s"CREATE TABLE graft.`$t2` (k STRING, n INT)")
    spark.sql(s"INSERT INTO graft.`$t2` VALUES ('a', 1), ('b', 2)")
    Seq(("b", 3000000000L), ("e", 5L)).toDF("k", "n")
      .createOrReplaceTempView("mrgev2_src")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$t2` t " +
      "USING mrgev2_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val wide = spark.sql(s"SELECT k, n FROM graft.`$t2` ORDER BY k")
    assert(wide.schema("n").dataType.catalogString == "bigint",
      "the declared type must widen through the evolving merge")
    assert(wide.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 3000000000L), ("e", 5L)))
    // an INCOMPATIBLE change (string into a numeric column) fails
    // loudly before any write — evolution is widening-only
    Seq(("a", "oops")).toDF("k", "n").createOrReplaceTempView("mrgev2_bad")
    val vs2 = TxLog.versions(spark, t2).size
    val bad = intercept[Exception] {
      spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO graft.`$t2` t " +
        "USING mrgev2_bad s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(bad.getMessage.contains("incompatible schema change") ||
      bad.getMessage.contains("cannot read"),
      s"unexpected incompatible-evolution error: ${bad.getMessage}")
    assert(TxLog.versions(spark, t2).size == vs2, "the table must be untouched")
    // library flavor: evolve=false stays the loud requireFitsDeclared
    val narrow = intercept[Exception] {
      TxLog.mergeMor(spark, t2, Seq(("a", 1L, 9L)).toDF("k", "n", "extra"),
        Seq("k"))
    }
    assert(narrow.getMessage.contains("evolve the schema first"),
      s"unexpected unevolved-merge error: ${narrow.getMessage}")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates/deletes unmatched target rows") {
    val t = fresh("mrgbs")
    TxLog.append(spark, t,
      Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "v"))
    Seq(("a", 10L)).toDF("k", "nv").createOrReplaceTempView("mrgbs_src")
    val before = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgbs_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv " +
      "WHEN NOT MATCHED BY SOURCE AND t.v = 2 THEN UPDATE SET v = t.v * 100 " +
      "WHEN NOT MATCHED BY SOURCE AND t.v >= 2 THEN DELETE")
    // a matched → 10; b unmatched, first clause wins (UPDATE, not the
    // shadowing DELETE) → 200; c,d unmatched v>=2 → deleted... c has
    // v=3 >= 2 → deleted; d v=4 → deleted
    val got = spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 10L), ("b", 200L)),
      s"BY SOURCE merge produced $got")
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "BY SOURCE merge must stay merge-on-read")
    assert(TxLog.versions(spark, t).size == 2,
      "the whole statement lands as ONE commit")
    // library flavor: BY SOURCE clauses see target columns only
    graft.sources.TxLog.mergeMorConditional(spark, t,
      Seq(("zzz", 0L)).toDF("k", "nv"), Seq("k"),
      matched = Seq.empty,
      notMatched = Seq.empty,
      bySource = Seq(graft.sources.MergeMatchedUpdate(Some("k = 'a'"),
        Seq("v" -> "v + 1"))))
    assert(spark.sql(s"SELECT v FROM graft.`$t` WHERE k = 'a'")
      .head().getLong(0) == 11L)
  }

  test("conditional MERGE: AND-guarded UPDATE/DELETE/INSERT, partial sets, first-true-wins") {
    val t = fresh("mrgc")
    TxLog.append(spark, t,
      Seq(("a", 1L, 10L), ("b", 2L, 20L), ("c", 3L, 30L), ("d", 4L, 40L))
        .toDF("k", "v", "w"))
    Seq(("a", 100L), ("b", 200L), ("c", 300L), ("e", 500L), ("f", 5L))
      .toDF("k", "nv").createOrReplaceTempView("mrgc_src")
    val before = TxLog.snapshotFiles(spark, t).toSet
    // one statement: conditional delete, conditional partial update with
    // a source-referencing RHS, conditional insert — clause order decides
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgc_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.nv >= 300 THEN DELETE " +
      "WHEN MATCHED AND t.v < 2 THEN UPDATE SET v = s.nv + t.w " +
      "WHEN MATCHED THEN UPDATE SET w = t.w * 10 " +
      "WHEN NOT MATCHED AND s.nv > 100 THEN INSERT (k, v) VALUES (s.k, s.nv)")
    // a: matched, nv=100<300, v=1<2 → v = 100+10 = 110, w stays 10
    // b: matched, nv=200<300, v=2 not <2 → third clause: w = 200
    // c: matched, nv=300 → deleted
    // d: unmatched by source → untouched
    // e: not matched, nv=500>100 → inserted (k,v)=(e,500), w NULL
    // f: not matched, nv=5 not >100 → NOT inserted
    val got = spark.sql(s"SELECT k, v, w FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(("a", 110L, 10L), ("b", 2L, 200L), ("d", 4L, 40L),
      ("e", 500L, -1L)), s"conditional merge produced $got")
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "conditional MERGE must stay merge-on-read")
    assert(TxLog.commitKind(spark, t, TxLog.latestVersion(spark, t))
      .contains("merge"), "conditional MERGE lands ONE tagged merge commit")
    // the whole statement is one commit
    assert(TxLog.versions(spark, t).size == 2)
    // RHS binds to the PRE-update row even across multiple assignments:
    // a swap must swap (the r13 advice bug)
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgc_src s ON t.k = s.k " +
      "WHEN MATCHED AND t.k = 'a' THEN UPDATE SET v = t.w, w = t.v")
    val a = spark.sql(s"SELECT v, w FROM graft.`$t` WHERE k = 'a'").head()
    assert((a.getLong(0), a.getLong(1)) == ((10L, 110L)),
      "UPDATE SET v = w, w = v must SWAP (RHS binds pre-update)")
    // cardinality violation: two source rows firing for one target row
    Seq(("b", 1L), ("b", 2L)).toDF("k", "nv")
      .createOrReplaceTempView("mrgc_dup")
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$t` t USING mrgc_dup s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv")
    }
    assert(e.getMessage.toLowerCase.contains("cardinality") ||
      e.getMessage.contains("multiple source rows"),
      s"unexpected cardinality error: ${e.getMessage}")
    // delete-only conditional merge masks without appending images
    val filesBefore = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgc_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.nv = 500 THEN DELETE")
    assert(spark.sql(s"SELECT k FROM graft.`$t` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "d"))
    assert(TxLog.snapshotFiles(spark, t).toSet == filesBefore,
      "a delete-only conditional merge adds no data files")
  }

  test("conditional MERGE equals library mergeMorConditional; SQL UPDATE swap binds pre-row") {
    val t = fresh("mrgl")
    TxLog.append(spark, t, Seq(("a", 1L, 2L), ("b", 3L, 4L)).toDF("k", "x", "y"))
    // library-side conditional merge: same algebra, _src_ namespace
    TxLog.mergeMorConditional(spark, t,
      Seq(("a", 7L), ("z", 9L)).toDF("k", "nx"), Seq("k"),
      matched = Seq(graft.sources.MergeMatchedUpdate(Some("_src_nx > x"),
        Seq("x" -> "_src_nx", "y" -> "x + y"))),
      notMatched = Seq(graft.sources.MergeNotMatchedInsert(None,
        Seq("k" -> "_src_k", "x" -> "_src_nx"))))
    val got = spark.sql(s"SELECT k, x, y FROM graft.`$t` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(("a", 7L, 3L), ("b", 3L, 4L), ("z", 9L, -1L)),
      s"library conditional merge produced $got")
    // plain SQL UPDATE with a swap: the one-projection fix
    spark.sql(s"UPDATE graft.`$t` SET x = y, y = x WHERE k = 'b'")
    val b = spark.sql(s"SELECT x, y FROM graft.`$t` WHERE k = 'b'").head()
    assert((b.getLong(0), b.getLong(1)) == ((4L, 3L)),
      "UPDATE SET x = y, y = x must swap, not duplicate")
  }

  test("MERGE with a non-equi ON: equi key hashes, residual classifies every side (r15)") {
    val t = fresh("mrgr")
    TxLog.append(spark, t,
      Seq(("a", 10L), ("a", 250L), ("b", 100L), ("b", 900L)).toDF("k", "v"))
    // interval source: disjoint [lo, hi) bands per key, one matching none
    Seq(("a", 0L, 300L, 1000L), ("b", 0L, 300L, 2000L),
      ("b", 5000L, 6000L, 0L))
      .toDF("k", "lo", "hi", "bonus").createOrReplaceTempView("mrgr_src")
    val before = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgr_src s " +
      "ON t.k = s.k AND t.v >= s.lo AND t.v < s.hi " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.bonus " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.lo) " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 7")
    // a@10 and a@250 fall in (a,[0,300)) → +1000; b@100 in (b,[0,300))
    // → +2000; b@900 equi-matches b's bands but fails EVERY residual →
    // NOT MATCHED BY SOURCE → +7; the (b,[5000,6000)) band matches no
    // row → INSERT sentinel (b, 5000)
    val got = spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k, v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 1010L), ("a", 1250L), ("b", 907L),
      ("b", 2100L), ("b", 5000L)), s"range merge produced $got")
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "a range MERGE must stay merge-on-read")
    assert(TxLog.versions(spark, t).size == 2,
      "the whole range MERGE lands as ONE commit")
    // cardinality stays enforced under a residual: OVERLAPPING bands
    // (two source rows firing for one target row) fail loudly
    Seq(("a", 0L, 2000L, 1L), ("a", 5L, 1500L, 2L))
      .toDF("k", "lo", "hi", "bonus").createOrReplaceTempView("mrgr_dup")
    val dup = intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$t` t USING mrgr_dup s " +
        "ON t.k = s.k AND t.v >= s.lo AND t.v < s.hi " +
        "WHEN MATCHED THEN UPDATE SET v = s.bonus")
    }
    assert(dup.getMessage.contains("multiple source rows"),
      s"unexpected overlap error: ${dup.getMessage}")
    // pure-theta ON (r16): NO equi key lowers to a broadcast
    // nested-loop join (target streams once against the broadcast
    // source) — the (b,[5000,6000)) band's interval now catches the
    // sentinel b@5000 REGARDLESS of k, proving the ON really dropped
    // the key; every other row matches no band and stays untouched
    spark.sql(s"MERGE INTO graft.`$t` t USING mrgr_src s " +
      "ON t.v >= s.lo AND t.v < s.hi " +
      "WHEN MATCHED THEN UPDATE SET v = s.bonus")
    val gotTheta = spark.sql(s"SELECT k, v FROM graft.`$t` ORDER BY k, v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotTheta == Seq(("a", 1010L), ("a", 1250L), ("b", 0L),
      ("b", 907L), ("b", 2100L)), s"pure-theta merge produced $gotTheta")
  }

  test("merge INSERT values that would narrow fail loudly before the cast (r15)") {
    val t = fresh("mrgcast")
    TxLog.append(spark, t, Seq(("a", 1L)).toDF("k", "v"))
    val e = intercept[Exception] {
      TxLog.mergeMorConditional(spark, t,
        Seq(("z", 2.5)).toDF("k", "d"), Seq("k"),
        matched = Seq.empty,
        notMatched = Seq(graft.sources.MergeNotMatchedInsert(None,
          Seq("k" -> "_src_k", "v" -> "_src_d"))))
    }
    assert(e.getMessage.contains("does not widen"),
      s"unexpected narrowing-insert error: ${e.getMessage}")
    assert(TxLog.versions(spark, t).size == 1, "the table must be untouched")
    // a WIDENING insert value stays accepted (int literal into BIGINT)
    TxLog.mergeMorConditional(spark, t,
      Seq(("z", 2.5)).toDF("k", "d"), Seq("k"),
      matched = Seq.empty,
      notMatched = Seq(graft.sources.MergeNotMatchedInsert(None,
        Seq("k" -> "_src_k", "v" -> "CAST(_src_d AS BIGINT)"))))
    assert(spark.sql(s"SELECT v FROM graft.`$t` WHERE k = 'z'")
      .head().getLong(0) == 2L)
  }

  test("TRUNCATE TABLE routes through the MOR delete-all (zero files touched)") {
    val t = fresh("trunc")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    val files = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"TRUNCATE TABLE graft.`$t`")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").collect().isEmpty)
    assert(TxLog.snapshotFiles(spark, t).toSet == files,
      "TRUNCATE must stay merge-on-read; the old snapshot stays travelable")
    assert(spark.sql(s"SELECT k FROM graft.`$t` VERSION AS OF 0 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
  }

  test("ALTER COLUMN TYPE widens metadata-only; time travel reads each version's own type") {
    val t = fresh("widen")
    spark.sql(s"CREATE TABLE graft.`$t` (k STRING, v INT, f FLOAT)")
    spark.sql(s"INSERT INTO graft.`$t` VALUES ('a', 1, CAST(0.5 AS FLOAT)), " +
      "('b', 2, CAST(1.5 AS FLOAT))")
    val files = TxLog.snapshotFiles(spark, t).toSet
    spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN f TYPE DOUBLE")
    assert(TxLog.snapshotFiles(spark, t).toSet == files,
      "type widening must touch zero data files")
    // old (int/float) files read promoted under the widened declaration
    val wide = spark.sql(s"SELECT v, f FROM graft.`$t` ORDER BY v")
    assert(wide.schema.map(_.dataType.catalogString) ==
      Seq("bigint", "double"))
    assert(wide.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.5), (2L, 1.5)))
    // new data can exceed the old type's range
    spark.sql(s"INSERT INTO graft.`$t` VALUES ('c', 3000000000, 0.0)")
    assert(spark.sql(s"SELECT SUM(v) FROM graft.`$t`").head().getLong(0) ==
      3000000003L)
    // time travel to the pre-widen version reads ITS OWN narrower type
    assert(spark.sql(s"SELECT v FROM graft.`$t` VERSION AS OF 1")
      .schema.head.dataType.catalogString == "int")
    // narrowing is refused loudly, table untouched
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN v TYPE INT")
    }
    // Spark's analyzer already refuses non-up-casts (NOT_SUPPORTED_
    // CHANGE_COLUMN); anything it let through would hit widenColumn's
    // own loud guard
    assert(e.getMessage.contains("unsupported") ||
      e.getMessage.contains("cannot change column") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"unexpected narrowing error: ${e.getMessage}")
    assert(spark.sql(s"SELECT v FROM graft.`$t`")
      .schema.head.dataType.catalogString == "bigint")
  }

  test("OPTIMIZE bin-packs the small-file tail; ZORDER BY rewrites clustered — SQL equals library") {
    val t = fresh("opt")
    (0 until 6).foreach(i => TxLog.append(spark, t,
      Seq((i.toLong, (i * 7 % 5).toLong)).toDF("a", "b")))
    val rowsBefore = spark.sql(s"SELECT a, b FROM graft.`$t` ORDER BY a")
      .collect().toSeq
    val filesBefore = TxLog.snapshotFiles(spark, t).size
    val v = spark.sql(s"OPTIMIZE graft.`$t`").head().getLong(0)
    assert(v == TxLog.latestVersion(spark, t))
    assert(TxLog.commitKind(spark, t, v).contains("compact"),
      "OPTIMIZE lands tagged compact (the change feed skips it)")
    assert(TxLog.snapshotFiles(spark, t).size < filesBefore,
      "OPTIMIZE must consolidate the small-file tail")
    assert(spark.sql(s"SELECT a, b FROM graft.`$t` ORDER BY a")
      .collect().toSeq == rowsBefore, "OPTIMIZE must not change rows")
    // z-order flavor: same rows, tagged compact, stats recorded
    val vz = spark.sql(s"OPTIMIZE graft.`$t` ZORDER BY (a, b)")
      .head().getLong(0)
    assert(vz == TxLog.latestVersion(spark, t))
    assert(TxLog.commitKind(spark, t, vz).contains("compact"))
    assert(spark.sql(s"SELECT a, b FROM graft.`$t` ORDER BY a")
      .collect().toSeq == rowsBefore, "ZORDER must not change rows")
  }

  test("VACUUM deletes unretained files past the age horizon; DESCRIBE HISTORY lists commits") {
    val t = fresh("vac")
    TxLog.append(spark, t, Seq(("a", 1L)).toDF("k", "v"))
    TxLog.append(spark, t, Seq(("b", 2L)).toDF("k", "v"))
    TxLog.compact(spark, t)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$t`").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(hist.last.getString(1) == "compact")
    val libHist = TxLog.history(spark, t).collect()
    assert(hist.map(_.toSeq).toSeq == libHist.map(_.toSeq).toSeq,
      "DESCRIBE HISTORY must equal the library history row-for-row")
    // age horizon honored: default 1 day deletes nothing
    assert(spark.sql(s"VACUUM graft.`$t`").head().getLong(0) == 0L,
      "a fresh file is inside the in-flight-writer horizon")
    spark.conf.set("spark.graft.vacuum.minFileAgeMs", "0")
    try {
      // bare VACUUM is conservative (r15): every version retained, so
      // even past the age horizon nothing referenced is reclaimed and
      // time travel to version 0 survives
      assert(spark.sql(s"VACUUM graft.`$t`").head().getLong(0) == 0L,
        "bare VACUUM must retain all versions (orphan-only reclaim)")
      assert(spark.sql(s"SELECT k FROM graft.`$t` VERSION AS OF 0")
        .collect().map(_.getString(0)).toSeq == Seq("a"),
        "time travel must survive a bare VACUUM")
      val n = spark.sql(s"VACUUM graft.`$t` RETAIN 1 VERSIONS")
        .head().getLong(0)
      assert(n >= 2L, s"expected the pre-compaction files deleted, got $n")
      assert(spark.sql(s"SELECT k FROM graft.`$t` ORDER BY k").collect()
        .map(_.getString(0)).toSeq == Seq("a", "b"),
        "the retained snapshot must stay fully readable after VACUUM")
    } finally spark.conf.unset("spark.graft.vacuum.minFileAgeMs")
  }

  test("CREATE/REFRESH MATERIALIZED VIEW: definition persists in the view's commit metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-mv").toString
    val (src, mv) = (dir + "/src", dir + "/view")
    TxLog.append(spark, src,
      Seq(("x", 1L), ("y", 2L), ("x", 3L)).toDF("k", "v"))
    val mode = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT k, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
      s"MAX(v) AS vmax FROM graft.`$src` GROUP BY k").head().getString(0)
    assert(mode == "build")
    // refresh needs NO re-supplied plan: the definition rides in the
    // build commit's metadata channel
    TxLog.append(spark, src, Seq(("y", 10L), ("z", 5L)).toDF("k", "v"))
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
      .head().getString(0) == "incremental")
    val got = spark.sql(
      s"SELECT k, cnt, total, vmin, vmax FROM graft.`$mv` ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("x", 2L, 4L, 1L, 3L), ("y", 2L, 12L, 2L, 10L),
      ("z", 1L, 5L, 5L, 5L)), s"materialized view rows: $got")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
      .head().getString(0) == "noop")
    // a MOR delete on the source folds signed through the SQL refresh
    spark.sql(s"DELETE FROM graft.`$src` WHERE v = 2")
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`")
      .head().getString(0) == "incremental-delete")
    assert(spark.sql(s"SELECT cnt, total FROM graft.`$mv` WHERE k = 'y'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L)))
    // loud contracts: duplicate CREATE, non-canonical shape, not-an-MV
    val dup = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
        s"SELECT k, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
        s"MAX(v) AS vmax FROM graft.`$src` GROUP BY k")
    }
    assert(dup.getMessage.contains("already exists"))
    val shape = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dir/v2` AS " +
        s"SELECT k, AVG(v) AS a FROM graft.`$src` GROUP BY k")
    }
    assert(shape.getMessage.contains("library API") ||
      shape.getMessage.contains("supports exactly"),
      s"unexpected shape error: ${shape.getMessage}")
    val notMv = intercept[Exception] {
      spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$src`")
    }
    assert(notMv.getMessage.contains("no persisted materialized-view"),
      s"unexpected not-an-MV error: ${notMv.getMessage}")
  }

  test("CREATE MATERIALIZED VIEW over a JOIN: fact folds, dim change recomputes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-mvj").toString
    val (fact, dim, mv) = (dir + "/fact", dir + "/dim", dir + "/view")
    TxLog.append(spark, dim, Seq((1L, "x"), (2L, "y")).toDF("k", "grp"))
    TxLog.append(spark, fact,
      Seq((1L, 10L), (1L, 500L), (2L, 20L)).toDF("k", "v"))
    // USING-syntax join + WHERE fact filter
    assert(spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT grp, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
      s"MAX(v) AS vmax FROM graft.`$fact` JOIN graft.`$dim` USING (k) " +
      s"WHERE v < 100 GROUP BY grp").head().getString(0) == "build")
    def rf(): String =
      spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`").head().getString(0)
    // fact append folds; the filter keeps the 500 row out of the view
    TxLog.append(spark, fact, Seq((2L, 30L)).toDF("k", "v"))
    assert(rf() == "incremental")
    val got = spark.sql(s"SELECT grp, cnt, total FROM graft.`$mv` ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("x", 1L, 10L), ("y", 2L, 50L)),
      s"join MV rows after fold: $got")
    // ANY dim change honestly forces the recompute path
    TxLog.append(spark, dim, Seq((3L, "z")).toDF("k", "grp"))
    assert(rf() == "recompute")
    // a fact MOR delete folds signed through the SQL refresh
    spark.sql(s"DELETE FROM graft.`$fact` WHERE v = 20")
    assert(rf() == "incremental-delete")
    assert(spark.sql(s"SELECT cnt, total FROM graft.`$mv` WHERE grp = 'y'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 30L)))
    // the persisted definition is the JOIN flavor (refresh needs no plan)
    assert(rf() == "noop")
    // r15: the WHERE binds on the designated FACT (first relation) — a
    // filter naming a column present in BOTH sides, or only in the dim,
    // must fail loudly instead of silently filtering the wrong side
    TxLog.append(spark, dir + "/fact2",
      Seq((1L, 10L, "a")).toDF("k", "v", "grp")) // grp in fact AND dim
    val ambig = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dir/v3` AS " +
        s"SELECT grp, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
        s"MAX(v) AS vmax FROM graft.`$dir/fact2` JOIN graft.`$dim` " +
        s"USING (k) WHERE grp = 'x' GROUP BY grp")
    }
    assert(ambig.getMessage.contains("BOTH the fact and the dim"),
      s"unexpected ambiguity error: ${ambig.getMessage}")
    val dimOnly = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dir/v4` AS " +
        s"SELECT grp, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
        s"MAX(v) AS vmax FROM graft.`$fact` JOIN graft.`$dim` " +
        s"USING (k) WHERE grp = 'x' GROUP BY grp")
    }
    assert(dimOnly.getMessage.contains("does not carry"),
      s"unexpected dim-only error: ${dimOnly.getMessage}")
    // a WHERE on the JOIN KEY itself stays accepted (both sides equal
    // under the inner equi-join, so binding on the fact is exact)
    assert(spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dir/v5` AS " +
      s"SELECT grp, COUNT(*) AS cnt, SUM(v) AS total, MIN(v) AS vmin, " +
      s"MAX(v) AS vmax FROM graft.`$fact` JOIN graft.`$dim` " +
      s"USING (k) WHERE k < 100 GROUP BY grp").head().getString(0) == "build")
  }

  test("CREATE MATERIALIZED VIEW with APPROX_COUNT_DISTINCT maintains an HLL sketch per group (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat-mvd").toString
    val (src, mv) = (dir + "/src", dir + "/view")
    TxLog.append(spark, src,
      Seq(("a", "u1"), ("a", "u2"), ("b", "u1")).toDF("k", "u"))
    assert(spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT k, COUNT(*) AS cnt, APPROX_COUNT_DISTINCT(u) AS ndv " +
      s"FROM graft.`$src` GROUP BY k").head().getString(0) == "build")
    def rf(): String =
      spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`").head().getString(0)
    def served: Map[String, (Long, Long)] =
      spark.sql(s"SELECT k, cnt, CAST(ROUND(hll_sketch_estimate(ndv)) " +
        s"AS BIGINT) AS e FROM graft.`$mv`").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(served == Map("a" -> ((2L, 2L)), "b" -> ((1L, 1L))))
    // an INSERT INTO folds the sketches through the persisted definition
    Seq(("a", "u3"), ("b", "u1")).toDF("k", "u")
      .createOrReplaceTempView("mvd_wave2")
    spark.sql(s"INSERT INTO graft.`$src` SELECT k, u FROM mvd_wave2")
    assert(rf() == "incremental",
      "an append must fold the sketches through REFRESH MATERIALIZED VIEW")
    assert(served == Map("a" -> ((3L, 3L)), "b" -> ((2L, 1L))))
    // a SQL DELETE forces the honest recompute (not invertible); b's
    // rows were ALL u1, so the whole group leaves the view
    spark.sql(s"DELETE FROM graft.`$src` WHERE u = 'u1'")
    assert(rf() == "recompute",
      "a delete must recompute — a sketch cannot unsee a value")
    assert(served == Map("a" -> ((2L, 2L))))
    assert(rf() == "noop")
    // the shape guard: a JOIN under the distinct shape stays loud
    val bad = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$dir/v2` AS " +
        s"SELECT k, COUNT(*) AS cnt, APPROX_COUNT_DISTINCT(u) AS ndv " +
        s"FROM graft.`$src` JOIN graft.`$src` USING (k) GROUP BY k")
    }
    assert(bad.getMessage.contains("single table only"),
      s"unexpected distinct-join error: ${bad.getMessage}")
  }

  test("RESTORE TABLE and DESCRIBE DETAIL through SQL equal the library ops") {
    val t = fresh("restore")
    TxLog.append(spark, t, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    val now = java.time.Instant.now().toString
    TxLog.append(spark, t, Seq(("c", 3L)).toDF("k", "v"))
    spark.sql(s"DELETE FROM graft.`$t` WHERE k = 'a'")
    // DESCRIBE DETAIL: one metadata row, no data scan needed to assert
    val det = spark.sql(s"DESCRIBE DETAIL graft.`$t`").head()
    assert(det.getString(0) == t)
    assert(det.getLong(1) == TxLog.latestVersion(spark, t))
    assert(det.getLong(3) == 3L, "n_commits")
    assert(det.getLong(4) == TxLog.snapshotFiles(spark, t).size.toLong)
    assert(det.getLong(6) >= 1L, "the MOR delete bound a vector")
    // RESTORE TO VERSION: metadata-only rollback, one new commit
    val v = spark.sql(s"RESTORE TABLE graft.`$t` TO VERSION AS OF 0")
      .head().getLong(0)
    assert(v == TxLog.latestVersion(spark, t))
    assert(spark.sql(s"SELECT k FROM graft.`$t` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"),
      "the restored snapshot must be v0's rows (delete rolled back)")
    // history stays travelable BEHIND the restore
    assert(spark.sql(s"SELECT k FROM graft.`$t` VERSION AS OF 1 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // RESTORE TO TIMESTAMP resolves through the commit-time mapping
    spark.sql(s"RESTORE TABLE graft.`$t` TO TIMESTAMP AS OF '$now'")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 2L)
    // malformed timestamp fails loudly
    val e = intercept[Exception] {
      spark.sql(s"RESTORE TABLE graft.`$t` TO TIMESTAMP AS OF 'yesterday'")
    }
    assert(e.getMessage.contains("cannot parse RESTORE timestamp"))
  }

  test("VACUUM DRY RUN reports without deleting; DESCRIBE DETAIL serves n_rows") {
    val t = fresh("dryrun")
    TxLog.append(spark, t, (1L to 30L).map(i => (i, s"r$i")).toDF("k", "s"))
    TxLog.compact(spark, t) // the old files become reclaimable
    spark.conf.set("spark.graft.vacuum.minFileAgeMs", "0")
    try {
      val wouldDelete = spark
        .sql(s"VACUUM graft.`$t` RETAIN 1 VERSIONS DRY RUN")
        .head().getLong(0)
      assert(wouldDelete >= 1L, "the pre-compact files must be reported")
      // nothing moved: the old snapshot is still fully readable
      assert(TxLog.read(spark, t, Some(0L)).count() == 30L,
        "DRY RUN must not reclaim (time travel must survive)")
      assert(TxLog.earliestReadableVersion(spark, t) == 0L,
        "DRY RUN must not raise the watermark")
      // the real vacuum then reclaims exactly what the dry run promised
      val deleted = spark.sql(s"VACUUM graft.`$t` RETAIN 1 VERSIONS")
        .head().getLong(0)
      assert(deleted == wouldDelete)
    } finally spark.conf.unset("spark.graft.vacuum.minFileAgeMs")
    val det = spark.sql(s"DESCRIBE DETAIL graft.`$t`").head()
    assert(det.getLong(8) == 30L,
      s"n_rows must serve the metadata-only count: ${det.getLong(8)}")
    spark.sql(s"DELETE FROM graft.`$t` WHERE k <= 10")
    assert(spark.sql(s"DESCRIBE DETAIL graft.`$t`").head().getLong(8) == 20L,
      "n_rows must subtract the deletion-vector mask")
  }

  test("CREATE TABLE ... SHALLOW CLONE through SQL equals the library op") {
    val src = fresh("clonesrc")
    TxLog.append(spark, src, Seq(("a", 1L), ("b", 2L)).toDF("k", "v")) // v0
    TxLog.append(spark, src, Seq(("c", 3L)).toDF("k", "v"))            // v1
    val dst = fresh("clonedst").stripSuffix("/t") + "/head"
    val v = spark.sql(s"CREATE TABLE graft.`$dst` SHALLOW CLONE graft.`$src`")
      .head().getLong(0)
    assert(v == 0L)
    assert(spark.sql(s"SELECT k FROM graft.`$dst` ORDER BY k").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // VERSION AS OF pins the fork point
    val dst0 = dst.stripSuffix("/head") + "/at0"
    spark.sql(s"CREATE TABLE graft.`$dst0` SHALLOW CLONE graft.`$src` " +
      "VERSION AS OF 0")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$dst0`").head().getLong(0)
      == 2L)
    // a non-graft source is loud (nothing to fork), not silently delegated
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`${dst}2` SHALLOW CLONE some_cat.t")
    }
    assert(e.getMessage.contains("SHALLOW CLONE sources only"),
      s"unexpected clone-source error: ${e.getMessage}")
    // TIMESTAMP AS OF resolves through the commit-time mapping
    val now = java.time.Instant.now().toString
    val dstTs = dst.stripSuffix("/head") + "/atts"
    spark.sql(s"CREATE TABLE graft.`$dstTs` SHALLOW CLONE graft.`$src` " +
      s"TIMESTAMP AS OF '$now'")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$dstTs`").head().getLong(0)
      == 3L, "a now-timestamp clone must pin the head snapshot")
    val eTs = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`${dst}3` SHALLOW CLONE graft.`$src` " +
        "TIMESTAMP AS OF 'yesterday'")
    }
    assert(eTs.getMessage.contains("cannot parse CLONE timestamp"))
  }

  test("the injected parser delegates every normal statement untouched") {
    val t = fresh("delegate")
    TxLog.append(spark, t, Seq(("optimize", 1L), ("vacuum", 2L))
      .toDF("restore", "describe"))
    // identifiers/aliases named like our keywords must not be intercepted
    assert(spark.sql(s"SELECT restore, describe FROM graft.`$t` " +
      "WHERE restore = 'optimize'").count() == 1L)
    assert(spark.sql("SELECT 'OPTIMIZE graft' AS s").head().getString(0)
      == "OPTIMIZE graft")
    // our statements on NON-graft identifiers delegate (and fail with
    // Spark's own parse error, not ours)
    val e = intercept[Exception] { spark.sql("OPTIMIZE not_a_catalog.t") }
    assert(!e.getMessage.contains("txlog"),
      s"non-graft OPTIMIZE must delegate to Spark: ${e.getMessage}")
  }

  test("catalog WHERE pushes filters into log-native file skipping") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, IsNull, Or}
    val t = fresh("prune")
    // three files with disjoint id ranges and disjoint string prefixes,
    // min/max stats recorded for both columns at append time
    TxLog.append(spark, t,
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id", "s")))
    TxLog.append(spark, t,
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id", "s")))
    TxLog.append(spark, t,
      (21L to 30L).map(i => (i, s"c$i")).toDF("id", "s").repartition(1),
      Layout(stats = Seq("id", "s")))
    assert(TxLog.snapshotFiles(spark, t, None).size == 3)
    // point equality on the long column keeps exactly the middle file
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("id", 15L)), None)
      .size == 1, "long point filter must keep one file")
    // string equality prunes through the byte-order string stats
    assert(TxLog.pruneForFilters(spark, t, Seq(EqualTo("s", "b15")), None)
      .size == 1, "string point filter must keep one file")
    // OR and IN union their branches' kept sets
    assert(TxLog.pruneForFilters(spark, t,
      Seq(Or(EqualTo("id", 5L), EqualTo("id", 25L))), None).size == 2)
    assert(TxLog.pruneForFilters(spark, t,
      Seq(In("id", Array[Any](5L, 25L))), None).size == 2)
    // open range keeps only the tail file
    assert(TxLog.pruneForFilters(spark, t,
      Seq(GreaterThan("id", 20L)), None).size == 1)
    // an unanswerable shape prunes nothing (conservative keep-all)
    assert(TxLog.pruneForFilters(spark, t, Seq(IsNull("s")), None).size == 3)
    // LIKE 'b%' prunes as the byte range [b, c) against string stats
    import org.apache.spark.sql.sources.StringStartsWith
    assert(TxLog.pruneForFilters(spark, t,
      Seq(StringStartsWith("s", "b")), None).size == 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE s LIKE 'b%'")
      .head().getLong(0) == 10L)
    // SQL over the catalog returns exact rows (its scan reads the files
    // pruneForFilters keeps; TxLogScanSkipSpec counts them)
    assert(spark.sql(s"SELECT s FROM graft.`$t` WHERE id = 15")
      .head().getString(0) == "b15")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE id > 20")
      .head().getLong(0) == 10L)
    // a contradictory conjunction returns no rows yet stays well-typed
    assert(spark.sql(s"SELECT id, s FROM graft.`$t` WHERE id > 20 AND id < 5")
      .count() == 0L)
    // VERSION AS OF reads the pinned snapshot's files
    assert(spark.sql(
      s"SELECT COUNT(*) FROM graft.`$t` VERSION AS OF 0 WHERE id >= 5")
      .head().getLong(0) == 6L)
    // a MOR delete's mask still applies on the filtered SQL read
    TxLog.deleteWhereMorExpr(spark, t, "id = 15")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE id >= 11 AND id <= 20")
      .head().getLong(0) == 9L,
      "deletion vectors must anti-apply on the file-skipped scan")
  }

  test("CREATE TABLE ... PARTITIONED BY: INSERTs and streaming epochs record values") {
    val t = fresh("declpart")
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang)")
    assert(TxLog.declaredPartitionCols(spark, t) == Seq("lang"))
    spark.sql(s"INSERT INTO graft.`$t` VALUES (1L, 'de'), (2L, 'en')")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (3L, 'de')")
    val pv = TxLog.partitionValuesAt(spark, t, "lang")
    assert(pv.values.toSeq.sorted == Seq("de", "de", "en"), pv.toString)
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("lang", "en")))
    assert(total == 3 && kept.size == 1, s"kept ${kept.size} of $total")
    // INSERT OVERWRITE would land value-less files — loud
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE graft.`$t` VALUES (9L, 'fr')")
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(c =>
        Option(c.getMessage).toSeq ++ messages(c.getCause))
    assert(messages(e).exists(_.contains("PARTITIONED BY")),
      s"unexpected overwrite error: ${messages(e).take(3)}")
    // OPTIMIZE WHERE scopes the declared partition
    spark.sql(s"OPTIMIZE graft.`$t` WHERE lang = 'de'")
    assert(TxLog.partitionValuesAt(spark, t, "lang")
      .count(_._2 == "de") == 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 3L)
    // a streaming epoch into the declared table records values too
    val src = fresh("declpartsrc")
    TxLog.append(spark, src, Seq((10L, "fr"), (11L, "en")).toDF("id", "lang"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-declpart-ckpt").toString
    val q = spark.readStream.format("graft-txlog").load(src)
      .select(col("id"), col("lang"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable(s"graft.`$t`")
    try q.processAllAvailable() finally q.stop()
    val pv2 = TxLog.partitionValuesAt(spark, t, "lang")
    assert(pv2.values.toSeq.sorted == Seq("de", "en", "en", "fr"),
      s"the epoch must record its files' values: $pv2")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE lang = 'fr'")
      .head().getLong(0) == 1L)
  }

  test("OPTIMIZE ... WHERE compacts one partition, leaves the rest untouched, purges its masks") {
    val t = fresh("optwhere")
    val rows = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "de" else "en")).toDF("id", "lang")
    // two waves, both langs in each → 2 recorded files per lang
    (0 until 2).foreach { w =>
      TxLog.append(spark, t,
        rows.filter(if (w == 0) col("id") <= 20 else col("id") > 20)
          .repartition(1), Layout(partitionBy = Seq("lang")))
    }
    val pv0 = TxLog.partitionValuesAt(spark, t, "lang")
    val enFiles = pv0.filter(_._2 == "en").keys.toSet
    assert(pv0.count(_._2 == "de") == 2 && enFiles.size == 2, pv0.toString)
    // every leaf file of one partitioned write carries a UNIQUE name —
    // the dv/bloom sidecars key rows by name, and Spark reuses a task's
    // part-file name across the leaves it writes (the collision that
    // let a de mask hit its en name-twin before the uniquify rename)
    val names = pv0.keys.map(p => p.split('/').last).toSeq
    assert(names.distinct.size == names.size, s"leaf name collision: $names")
    // mask one de row; the count must drop by EXACTLY one (a name
    // collision would mask the same position in the en twin too)
    TxLog.deleteWhereMorExpr(spark, t, "id = 2")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 39L, "the mask must erase one row, never a name-twin's row")
    def deFiles = TxLog.partitionValuesAt(spark, t, "lang")
      .filter(_._2 == "de").keys.toSet
    assert(TxLog.dvAt(spark, t).keys.toSet.intersect(deFiles).nonEmpty,
      "the fixture's mask must bind inside the de scope")
    val v = spark.sql(s"OPTIMIZE graft.`$t` WHERE lang = 'de'")
      .head().getLong(0)
    assert(v == TxLog.latestVersion(spark, t))
    val pv1 = TxLog.partitionValuesAt(spark, t, "lang")
    assert(pv1.filter(_._2 == "en").keys.toSet == enFiles,
      "the other partition's files must be untouched")
    assert(pv1.count(_._2 == "de") == 1, s"de must pack to one file: $pv1")
    assert(TxLog.dvAt(spark, t).keys.toSet.intersect(deFiles).isEmpty,
      "the scope's deletion-vector mask must purge into the rewrite")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 39L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE lang = 'de'")
      .head().getLong(0) == 19L)
    // the rewritten scope re-records its partition value: pruning holds
    val (kept, total) = Skipping.kept(spark, t, Seq(EqualTo("lang", "de")))
    assert(total == 3 && kept.size == 1, s"kept ${kept.size} of $total")
    // a clustering curve reorders the whole live set — WHERE is loud
    val e = intercept[Exception](spark.sql(
      s"OPTIMIZE graft.`$t` WHERE lang = 'de' ZORDER BY (id, id)"))
    assert(e.getMessage.contains("partition-scoped"), e.getMessage)
  }

  test("COUNT/MIN/MAX collapse to a driver-side log fold (LocalScan)") {
    val t = fresh("aggpush")
    (0 until 3).foreach(r => TxLog.append(spark, t,
      (1L to 30L).filter(_ % 3 == r).map(i => (i, s"v$i")).toDF("id", "s")
        .repartition(1), Layout(stats = Seq("id"))))
    TxLog.deleteWhereMorExpr(spark, t, "id = 30")
    val df = spark.sql(
      s"SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi FROM graft.`$t`")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"the aggregate must serve from the log fold: $plan")
    assert(!plan.toLowerCase.contains("parquet"),
      s"the pushed plan must carry no file scan: $plan")
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((29L, 1L, 29L)),
      r.toString)
    // VERSION AS OF folds the pinned snapshot's log prefix
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` VERSION AS OF 0")
      .head().getLong(0) == 10L)
    // grouped and filtered shapes refuse the push and stay exact
    assert(spark.sql(s"SELECT s, COUNT(*) AS n FROM graft.`$t` GROUP BY s")
      .count() == 29L)
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t` WHERE id <= 10")
      .head().getLong(0) == 10L)
    // empty table: COUNT 0, MIN is SQL NULL (never an error)
    val t2 = fresh("aggpush0")
    spark.sql(s"CREATE TABLE graft.`$t2` (id BIGINT)")
    val r2 = spark.sql(s"SELECT COUNT(*) AS n, MIN(id) AS lo FROM graft.`$t2`")
      .head()
    assert(r2.getLong(0) == 0L && r2.isNullAt(1), r2.toString)
  }

  test("GROUP BY a recorded partition column collapses to a log fold") {
    val t = fresh("aggpushgrp")
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang)")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (1L,'de'),(2L,'en'),(3L,'de')")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (4L,'fr'),(5L,'de')")
    def planOf(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    val grouped = s"SELECT lang, COUNT(*) AS n FROM graft.`$t` " +
      "GROUP BY lang ORDER BY lang"
    assert(planOf(grouped).contains("LocalTableScan") &&
      !planOf(grouped).toLowerCase.contains("parquet"),
      s"grouped count must serve from the log: ${planOf(grouped)}")
    assert(spark.sql(grouped).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("de", 3L), ("en", 1L), ("fr", 1L)))
    // MIN/MAX needs recorded bounds: unrecorded → the honest full scan;
    // restat upgrades the SAME query to metadata-only
    val mm = s"SELECT lang, MIN(id) AS lo, MAX(id) AS hi FROM graft.`$t` " +
      "GROUP BY lang ORDER BY lang"
    val truthMm = spark.sql(mm).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(!planOf(mm).contains("LocalTableScan"),
      "unrecorded bounds must fall back to the scan")
    TxLog.restat(spark, t, "id")
    assert(planOf(mm).contains("LocalTableScan"),
      s"restat must upgrade the grouped MIN/MAX to a log fold: ${planOf(mm)}")
    assert(spark.sql(mm).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == truthMm)
    // a mask: the grouped COUNT subtracts (the fully-masked group
    // DROPS, exactly as the real GROUP BY drops a rowless group);
    // grouped MIN/MAX refuses under any bound vector
    spark.sql(s"DELETE FROM graft.`$t` WHERE id = 2")
    assert(planOf(grouped).contains("LocalTableScan"),
      "masked grouped count must still serve from the log")
    assert(spark.sql(grouped).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("de", 3L), ("fr", 1L)))
    assert(!planOf(mm).contains("LocalTableScan"),
      "grouped MIN/MAX under a bound vector must take the honest scan")
    assert(spark.sql(mm).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == truthMm.filterNot(_._1 == "en"))
  }

  test("native INSERT INTO ... REPLACE WHERE lands one atomic slice swap") {
    val t = fresh("replw")
    TxLog.append(spark, t,
      Seq((1L, "de", 10L), (2L, "en", 20L), (3L, "de", 30L))
        .toDF("id", "lang", "v"))
    val before = TxLog.snapshotFiles(spark, t).toSet
    // the V2 overwrite-by-filter path (DataFrameWriterV2.overwrite →
    // SupportsOverwrite → TxLog.replaceWhere); the SQL REPLACE WHERE
    // shape rides the injected parser and is pinned elsewhere
    Seq((1L, "de", 100L), (3L, "de", 300L)).toDF("id", "lang", "v")
      .writeTo(s"graft.`$t`").overwrite(col("lang") === "de")
    // the slice is masked, never copied: every prior file survives
    assert(before.subsetOf(TxLog.snapshotFiles(spark, t).toSet),
      "REPLACE WHERE must not rewrite prior files")
    val got = spark.sql(s"SELECT id, v FROM graft.`$t` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L), (2L, 20L), (3L, 300L)), got.toString)
    // outside-slice rows fail loudly before any write (Delta parity)
    val e = intercept[Exception] {
      Seq((9L, "en", 900L)).toDF("id", "lang", "v")
        .writeTo(s"graft.`$t`").overwrite(col("lang") === "de")
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(c => c.getMessage +: messages(c.getCause))
    assert(messages(e).exists(_.contains("OUTSIDE")),
      s"unexpected outside-slice error: ${messages(e)}")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$t`").head().getLong(0)
      == 3L, "the rejected backfill must land nothing")
    // INSERT OVERWRITE (no WHERE) stays a plain full overwrite
    spark.sql(s"INSERT OVERWRITE graft.`$t` " +
      "SELECT * FROM VALUES (7L, 'fr', 70L) AS x(id, lang, v)")
    assert(spark.sql(s"SELECT id, lang, v FROM graft.`$t`").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      == Seq((7L, "fr", 70L)))
  }

  test("readStream.table streams the catalog table under its own schema") {
    val t = fresh("catstream")
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-catstream-ckpt").toString
    val batches = collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, String)])]
    def start() = spark.readStream.table(s"graft.`$t`")
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          assert(df.columns.toSeq == Seq("id", "s"),
            s"stream schema must be the table's own: ${df.columns.toSeq}")
          val rows = df.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
          batches.synchronized { batches += (id -> rows) }; ()
      }
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable()
      def delivered = batches.synchronized(batches.flatMap(_._2).toSet)
      assert(delivered == Set((1L, "a"), (2L, "b"), (3L, "c")),
        delivered.toString)
      // one commit per micro-batch: two commits → two non-empty batches
      assert(batches.synchronized(batches.count(_._2.nonEmpty)) == 2,
        batches.synchronized(batches.toSeq).toString)
      // a commit landing while the stream runs is picked up
      TxLog.append(spark, t, Seq((4L, "d")).toDF("id", "s"))
      q.processAllAvailable()
      assert(delivered.contains((4L, "d")), delivered.toString)
    } finally q.stop()
    // restart from the checkpoint: only NEW commits are delivered
    TxLog.append(spark, t, Seq((5L, "e")).toDF("id", "s"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = batches.synchronized(batches.flatMap(_._2).toSeq)
      assert(all.toSet == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
        (5L, "e")), all.toString)
      assert(all.size == all.distinct.size,
        s"restart re-delivered commits: $all")
    } finally q2.stop()
    // the change-feed flavor needs columns the catalog schema cannot
    // carry — loud pointer at the format path
    val e = intercept[Exception] {
      val qBad = spark.readStream.option("readChangeFeed", "true")
        .table(s"graft.`$t`")
        .writeStream.foreachBatch {
          (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => ()
        }
        .option("checkpointLocation", ckpt + "-cdf").start()
      try qBad.processAllAvailable() finally qBad.stop()
    }
    assert(e.getMessage.contains("readChangeFeed") ||
      Option(e.getCause).exists(_.getMessage.contains("readChangeFeed")),
      s"unexpected CDF-option error: ${e.getMessage}")
  }

  test("writeStream.toTable rides the full write boundary; complete mode is loud") {
    val src = fresh("sinksrc")
    val dst = fresh("sinkdst")
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    spark.sql(s"CREATE TABLE graft.`$dst` (id BIGINT, s STRING)")
    spark.sql(s"ALTER TABLE graft.`$dst` ADD CONSTRAINT pos CHECK (id > 0)")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-catsink-ckpt").toString
    def start() = spark.readStream.format("graft-txlog").load(src)
      .select(col("id"), col("s"))
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append").toTable(s"graft.`$dst`")
    val q = start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$dst`").head().getLong(0)
      == 2L)
    // a violating epoch fails the query at the commit's constraint gate
    // and lands NOTHING
    TxLog.append(spark, src, Seq((-5L, "bad")).toDF("id", "s"))
    val q2 = start()
    val e = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(c =>
        Option(c.getMessage).toSeq ++ messages(c.getCause))
    assert(messages(e).exists(m => m.contains("constraint") || m.contains("pos")),
      s"unexpected sink-constraint error: ${messages(e).take(3)}")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft.`$dst`").head().getLong(0)
      == 2L, "the violating epoch must land nothing")
    // complete output mode needs per-epoch truncation — loud
    val aggCkpt = java.nio.file.Files
      .createTempDirectory("graft-catsink-ckpt2").toString
    val e2 = intercept[Exception] {
      val qc = spark.readStream.format("graft-txlog").load(src)
        .groupBy("s").count()
        .writeStream.option("checkpointLocation", aggCkpt)
        .outputMode("complete").toTable(s"graft.`${dst}2`")
      try qc.processAllAvailable() finally qc.stop()
    }
    assert(messages(e2).exists(_.contains("append-only")),
      s"unexpected complete-mode error: ${messages(e2).take(3)}")
  }

  test("DROP TABLE removes the table; a fresh CREATE reuses the path") {
    val t = fresh("drop")
    spark.sql(s"CREATE TABLE graft.`$t` (k STRING)")
    spark.sql(s"INSERT INTO graft.`$t` VALUES ('a')")
    spark.sql(s"DROP TABLE graft.`$t`")
    assert(TxLog.versions(spark, t).isEmpty, "DROP must remove the log")
    val missing = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$t`").collect()
    }
    assert(missing.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      missing.getMessage.toLowerCase.contains("not found"))
    spark.sql(s"CREATE TABLE graft.`$t` (n BIGINT)")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (7)")
    assert(spark.sql(s"SELECT n FROM graft.`$t`").head().getLong(0) == 7L)
  }
}
