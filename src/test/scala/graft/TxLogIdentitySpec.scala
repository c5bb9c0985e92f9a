package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.TxLog
import graft.sources.TxLog.Layout

/** Identity columns ([[graft.sources.TxLog.addIdentityColumn]]): the
  * log is the sequence — ids minted per commit against the persisted
  * high-water, unique and monotonic across commits, explicit values
  * rejected, unsupported write shapes loud. */
class TxLogIdentitySpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def declared(t: String): Unit =
    TxLog.createTable(spark, t, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType))))

  test("ids are minted per commit: unique, contiguous, monotonic") {
    val t = freshTable("txid-life")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    assert(TxLog.identityColumns(spark, t) == Map("row_id" -> ((1L, 1L, 1L))))
    TxLog.append(spark, t, Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("k", "s"))
    TxLog.append(spark, t, Seq((20L, "d"), (21L, "e")).toDF("k", "s"))
    val rows = TxLog.read(spark, t).select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    assert(rows.values.toSeq.sorted == (1L to 5L),
      s"ids not the contiguous reservation: $rows")
    // wave boundaries respected: wave-1 keys got [1,3], wave-2 [4,5]
    assert(Set(10L, 11L, 12L).map(rows) == Set(1L, 2L, 3L), s"$rows")
    assert(Set(20L, 21L).map(rows) == Set(4L, 5L), s"$rows")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == 6L,
      "high-water must advance inside the data commit")
  }

  test("START WITH / INCREMENT BY; explicit values rejected; all-null ignored") {
    val t = freshTable("txid-step")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id", startWith = 100L, stepBy = 10L)
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val got = TxLog.read(spark, t).select("row_id")
      .as[Long].collect().toSet
    assert(got == Set(100L, 110L), s"stepped reservation wrong: $got")
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, t,
        Seq((3L, "c", 999L)).toDF("k", "s", "row_id"))
    }
    assert(e.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    // an all-null column (the padded SQL INSERT shape) is minted over
    TxLog.append(spark, t,
      Seq((4L, "d", None: Option[Long])).toDF("k", "s", "row_id"))
    assert(TxLog.read(spark, t).filter(col("k") === 4L)
      .select("row_id").as[Long].head() == 120L)
  }

  test("identity survives every write shape; SET on the id stays loud") {
    val t = freshTable("txid-paths")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // MERGE (r16): matched keys KEEP their id, unmatched keys mint fresh
    TxLog.mergeMor(spark, t, Seq((1L, "z"), (5L, "new")).toDF("k", "s"), Seq("k"))
    val afterMerge = TxLog.read(spark, t).select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    assert(afterMerge(1L) <= 2L, s"matched row must keep its id: $afterMerge")
    assert(afterMerge(5L) == 3L, s"insert must mint the next id: $afterMerge")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == 4L,
      "merge must advance the high-water by its insert count only")
    // keying the merge ON the identity column is rejected
    intercept[IllegalArgumentException](
      TxLog.mergeMor(spark, t, Seq((1L, "w")).toDF("row_id", "s"), Seq("row_id")))
    // explicit identity values in a merge batch are rejected
    intercept[IllegalArgumentException](
      TxLog.mergeMor(spark, t,
        Seq((1L, "w", 42L)).toDF("k", "s", "row_id"), Seq("k")))
    // partitioned append mints through the shared OCC loop
    TxLog.append(spark, t, Seq((9L, "x")).toDF("k", "s"), Layout(partitionBy = Seq("s")))
    assert(TxLog.read(spark, t).filter(col("k") === 9L)
      .select("row_id").as[Long].head() == 4L)
    // OVERWRITE retires every id and mints fresh, CONTINUING the sequence
    TxLog.overwrite(spark, t, Seq((100L, "o1"), (101L, "o2")).toDF("k", "s"))
    val afterOw = TxLog.read(spark, t).select("row_id").as[Long].collect().toSet
    assert(afterOw == Set(5L, 6L),
      s"overwrite must mint past the prior high-water, never reuse: $afterOw")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == 7L)
    // SET on the identity column stays rejected; data updates keep ids
    intercept[IllegalArgumentException](
      TxLog.updateMorExpr(spark, t, "k = 100", Seq("row_id" -> "77")))
    val before = TxLog.read(spark, t).select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    TxLog.updateMorExpr(spark, t, "k = 100", Seq("s" -> "'updated'"))
    val after = TxLog.read(spark, t).select("k", "row_id")
      .as[(Long, Long)].collect().toMap
    assert(after == before, "a MOR update must carry identity ids through")
    // deletes compose too (ids never reused)
    TxLog.deleteWhereMorExpr(spark, t, "k = 101")
    TxLog.append(spark, t, Seq((3L, "c")).toDF("k", "s"))
    val ids = TxLog.read(spark, t).select("row_id").as[Long].collect().toSet
    assert(ids == Set(5L, 7L), s"deleted id must not be reused: $ids")
  }

  test("conditional merge: updates keep ids, inserts mint, clauses loud") {
    val t = freshTable("txid-cond")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    import graft.sources.{MergeMatchedUpdate, MergeNotMatchedInsert}
    // SET naming the identity column is rejected before any work
    intercept[IllegalArgumentException](
      TxLog.mergeMorConditional(spark, t, Seq((1L, "z")).toDF("k", "s"),
        Seq("k"), matched = Seq(MergeMatchedUpdate(None,
          Seq("row_id" -> "99"))), notMatched = Seq.empty))
    // INSERT naming the identity column is rejected too
    intercept[IllegalArgumentException](
      TxLog.mergeMorConditional(spark, t, Seq((7L, "n")).toDF("k", "s"),
        Seq("k"), matched = Seq.empty,
        notMatched = Seq(MergeNotMatchedInsert(None,
          Seq("k" -> "_src_k", "row_id" -> "123")))))
    TxLog.mergeMorConditional(spark, t, Seq((1L, "z"), (7L, "n")).toDF("k", "s"),
      Seq("k"),
      matched = Seq(MergeMatchedUpdate(None, Seq("s" -> "_src_s"))),
      notMatched = Seq(MergeNotMatchedInsert(None,
        Seq("k" -> "_src_k", "s" -> "_src_s"))))
    val rows = TxLog.read(spark, t).select("k", "s", "row_id")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L)._1 == "z" && rows(1L)._2 <= 2L,
      s"updated row must keep its id: $rows")
    assert(rows(7L) == (("n", 3L)), s"insert must mint id 3: $rows")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == 4L)
  }

  test("stats on the identity column: minted id ranges prune files (r16)") {
    val t = freshTable("txid-stats")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    // the batch never carries row_id; the boundary mints it and the
    // commit records its per-file min/max — id-range reads then prune
    // from the log alone (each commit's reservation is contiguous, so
    // per-commit files have naturally disjoint id ranges)
    TxLog.append(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1),
      Layout(stats = Seq("row_id")))
    TxLog.append(spark, t,
      Seq((4L, "d"), (5L, "e")).toDF("k", "s").coalesce(1), Layout(stats = Seq("row_id")))
    val hit = TxLog.read(spark, t).where(col("row_id").between(4L, 5L))
    assert(hit.select("k").as[Long].collect().toSet == Set(4L, 5L))
    // the skip decides FILES: the second commit's file alone serves it
    val scanned = scannedFiles(hit)
    assert(scanned == 1,
      s"id-range read must prune to the one covering file, scanned $scanned")
    // a stats column that is neither in the batch nor minted stays loud
    intercept[IllegalArgumentException](TxLog.append(spark, t,
      Seq((6L, "f")).toDF("k", "s"), Layout(stats = Seq("nope"))))
  }

  test("racing MERGEs keep ids unique: serializable abort + retry") {
    val t = freshTable("txid-mergerace")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    TxLog.append(spark, t, Seq((1L, "seed")).toDF("k", "s"))
    // two threads upsert DISJOINT key ranges concurrently; a merge is
    // serializable (any intervening commit aborts it), so losers retry
    // the whole operation — ids must come out unique with the exact
    // high-water whatever the interleaving
    val perThread = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { ti =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          val batch = Seq((100L * (ti + 1) + i, s"t$ti-$i")).toDF("k", "s")
          var landed = false
          var tries = 0
          while (!landed) {
            try { TxLog.mergeMor(spark, t, batch, Seq("k")); landed = true }
            catch {
              case _: graft.sources.TxLogConcurrentModificationException =>
                tries += 1
                require(tries < 200, "merge starved under contention")
            }
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"racing merges failed: ${errs.peek()}")
    val total = 1L + 2L * perThread
    val ids = TxLog.read(spark, t).select("row_id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to total),
      s"merge-minted ids must be the contiguous union: ${ids.toSeq}")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == total + 1)
  }

  test("racing writers keep ids unique: the lost-claim re-mint path") {
    val t = freshTable("txid-race")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    // two threads, interleaved appends on the same table: OCC claims
    // WILL collide, so losers must re-read the high-water and re-mint —
    // the assertion (global uniqueness + exact high-water) is
    // deterministic whatever the interleaving
    val perThread = 8
    val rowsPer = 3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { ti =>
      new Thread(() => {
        try {
          (0 until perThread).foreach { i =>
            TxLog.append(spark, t,
              (0 until rowsPer).map(j => (ti * 1000L + i * 10L + j, s"t$ti"))
                .toDF("k", "s"))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errs.isEmpty, s"racing appends failed: ${errs.peek()}")
    val total = 2L * perThread * rowsPer
    val ids = TxLog.read(spark, t).select("row_id").as[Long].collect().sorted
    assert(ids.length == total && ids.distinct.length == total,
      s"ids collided under contention: ${ids.length} rows, " +
        s"${ids.distinct.length} distinct")
    assert(ids.toSeq == (1L to total),
      s"ids not the union of per-commit reservations: ${ids.take(10).toSeq}…")
    assert(TxLog.identityColumns(spark, t)("row_id")._3 == total + 1)
  }

  test("SQL MERGE INTO an identity table: the Delta upsert idiom end-to-end (r16)") {
    val t = freshTable("txid-sqlmerge")
    declared(t)
    TxLog.addIdentityColumn(spark, t, "row_id")
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    Seq((1L, "updated"), (7L, "new")).toDF("k", "s")
      .createOrReplaceTempView("txid_sql_src")
    try {
      // canonical upsert through the SQL surface — matched keeps its id,
      // the insert mints; note the images DON'T name row_id (GENERATED
      // ALWAYS); naming it in the SET is rejected
      spark.sql(s"MERGE INTO graft.`$t` t USING txid_sql_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET s = s.s " +
        "WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.s)")
      val rows = spark.sql(s"SELECT k, s, row_id FROM graft.`$t`")
        .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(rows(1L) == (("updated", 1L)) || rows(1L) == (("updated", 2L)),
        s"matched row must keep its wave-1 id: $rows")
      assert(rows(7L)._2 == 3L, s"SQL merge insert must mint id 3: $rows")
      assert(TxLog.identityColumns(spark, t)("row_id")._3 == 4L)
      val e = intercept[Exception](
        spark.sql(s"MERGE INTO graft.`$t` t USING txid_sql_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET row_id = 99"))
      assert(e.getMessage.contains("identity"), e.getMessage)
    } finally spark.catalog.dropTempView("txid_sql_src")
  }

  test("declaration rules: empty-table only, bad step, SQL surface") {
    val t = freshTable("txid-decl")
    declared(t)
    intercept[IllegalArgumentException](
      TxLog.addIdentityColumn(spark, t, "g", stepBy = 0L))
    TxLog.append(spark, t, Seq((1L, "a")).toDF("k", "s"))
    val e = intercept[IllegalArgumentException](
      TxLog.addIdentityColumn(spark, t, "late"))
    assert(e.getMessage.contains("before the first append"))
    val t2 = freshTable("txid-sql")
    declared(t2)
    val v = spark.sql(s"ALTER TABLE graft.`$t2` ADD COLUMN rid BIGINT " +
      "GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 3)")
      .head().getLong(0)
    assert(v == TxLog.latestVersion(spark, t2))
    assert(TxLog.identityColumns(spark, t2) == Map("rid" -> ((7L, 3L, 7L))))
    spark.sql(s"INSERT INTO graft.`$t2` (k, s) VALUES (1, 'x'), (2, 'y')")
    assert(TxLog.read(spark, t2).select("rid").as[Long].collect().toSet ==
      Set(7L, 10L))
  }
}
