package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, udf}
import graft.sources.{MergeMatchedUpdate, MergeNotMatchedInsert, TxLog,
  TxLogConcurrentModificationException}
import graft.sources.TxLog.Layout

/** The merge-on-read commit tail: the Spark jobs each deletion-vector
  * writer costs, the order in which it writes and then decides whether
  * to commit, and the job description its jobs carry. */
class TxLogMorCommitSpec extends SparkSpec {
  import spark.implicits._

  /** Three 100-row files (ids 0–299, `id` stats recorded), with every
    * tenth row already masked by a deletion vector. */
  private def fixture(name: String): String = {
    val t = Files.createTempDirectory(s"graft-morcommit-$name").toString + "/t"
    Seq(0L, 100L, 200L).foreach { lo =>
      TxLog.append(spark, t,
        (lo until lo + 100).map(i => (i, s"k${i % 4}", i * 10)).toDF("id", "k", "v")
          .coalesce(1),
        Layout(stats = Seq("id")))
    }
    TxLog.deleteWhereMorExpr(spark, t, "id % 10 = 0")
    t
  }

  private def ids(t: String): Set[Long] =
    TxLog.read(spark, t).select("id").as[Long].collect().toSet

  /** Directory names under the table's `data/` dir. */
  private def dataDirs(t: String): Seq[String] =
    Option(new java.io.File(t, "data").list()).toSeq.flatten

  /** Runs `body`, a writer that must commit exactly one version, and
    * checks it launched `expected` Spark jobs, each described as
    * `txlog:<op> <table>@v<version>`. */
  private def pinJobs(t: String, op: String, expected: Int)(body: => Long): Unit = {
    val base = TxLog.latestVersion(spark, t)
    var v = -1L
    val jobs = jobPropertiesDuring { v = body }
      .map(p => Option(p.getProperty("spark.job.description")).orNull)
    assert(v == base + 1, s"the writer must commit version ${base + 1}, got $v")
    assert(jobs.size == expected, s"expected $expected Spark jobs, saw ${jobs.size}")
    assert(jobs.forall(_ == s"txlog:$op $t@v$v"), jobs)
  }

  test("jobs: deleteWhereMor over a masked file") {
    val t = fixture("pin-delete")
    pinJobs(t, "delete", 2)(TxLog.deleteWhereMor(spark, t, "id", 120, 150))
    assert(ids(t).intersect((120L to 150L).toSet).isEmpty)
  }

  test("jobs: deleteWhereMorExpr over masked files") {
    val t = fixture("pin-delete-expr")
    pinJobs(t, "delete", 2)(TxLog.deleteWhereMorExpr(spark, t, "id % 7 = 3"))
    assert(!ids(t).exists(_ % 7 == 3))
  }

  test("jobs: replaceWhere of one slice") {
    val t = fixture("pin-replace")
    val slice = (1000L until 1010L).map(i => (i, "k1", i)).toDF("id", "k", "v")
    pinJobs(t, "replace-where", 4)(TxLog.replaceWhere(spark, t, slice, "k = 'k1'"))
    assert(TxLog.read(spark, t).filter(col("k") === "k1").count() == 10L)
  }

  test("jobs: updateMorExpr") {
    val t = fixture("pin-update")
    pinJobs(t, "update", 3)(TxLog.updateMorExpr(spark, t, "id % 5 = 1", Seq("v" -> "v + 1")))
    assert(TxLog.read(spark, t).filter(col("id") === 11L).select("v").as[Long]
      .collect().toSeq == Seq(111L))
  }

  test("jobs: deleteKeysMor") {
    val t = fixture("pin-delete-keys")
    pinJobs(t, "delete-keys", 4)(TxLog.deleteKeysMor(spark, t, Seq(5L, 150L, 250L).toDF("id"), Seq("id")))
    assert(ids(t).intersect(Set(5L, 150L, 250L)).isEmpty)
  }

  test("jobs: mergeMor") {
    val t = fixture("pin-merge")
    val batch = Seq((5L, "k1", 1L), (150L, "k2", 2L), (999L, "k3", 3L)).toDF("id", "k", "v")
    pinJobs(t, "merge", 6)(TxLog.mergeMor(spark, t, batch, Seq("id")))
    assert(TxLog.read(spark, t).filter(col("id").isin(5L, 150L, 999L))
      .select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("jobs: mergeMor past the key-set ceiling semi-joins a broadcast of the keys") {
    val t = fixture("pin-merge-wide")
    // 1001 keys, one past the hash-set filter's ceiling: the keys'
    // broadcast is one more job
    val batch = (0L until 1001L).map(i => (i, "k1", -i)).toDF("id", "k", "v")
    pinJobs(t, "merge", 7)(TxLog.mergeMor(spark, t, batch, Seq("id")))
    assert(TxLog.read(spark, t).select("id", "v").as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 1001L).map(i => (i, -i)))
  }

  test("jobs: mergeMor keyed on a bloom-filtered column reads its sidecars once") {
    val t = Files.createTempDirectory("graft-morcommit-pin-merge-bloom").toString + "/t"
    val rows = (0L until 300L).map(i => (i, s"k$i", i)).toDF("id", "k", "v")
    TxLog.createTable(spark, t, org.apache.spark.sql.types.StructType(
      rows.schema.fields.map(_.copy(nullable = true))))
    (0 until 3).foreach(r => TxLog.append(spark, t,
      rows.filter(col("id") % 3 === r).coalesce(1), Layout(bloom = Some("k"))))
    val batch = Seq((5L, "k5", -1L), (999L, "k999", -2L)).toDF("id", "k", "v")
    pinJobs(t, "merge", 7)(TxLog.mergeMor(spark, t, batch, Seq("k")))
    assert(TxLog.read(spark, t).filter(col("k").isin("k5", "k999"))
      .select("v").as[Long].collect().sorted.toSeq == Seq(-2L, -1L))
    assert(TxLog.read(spark, t).count() == 301L)
  }

  test("jobs: mergeMorConditional") {
    val t = fixture("pin-merge-cond")
    val batch = Seq((5L, "k1", 1L), (150L, "k2", 2L), (999L, "k3", 3L)).toDF("id", "k", "v")
    pinJobs(t, "merge", 12)(TxLog.mergeMorConditional(spark, t, batch, Seq("id"),
      Seq(MergeMatchedUpdate(None, Seq("v" -> "_src_v"))),
      Seq(MergeNotMatchedInsert(None,
        Seq("id" -> "_src_id", "k" -> "_src_k", "v" -> "_src_v")))))
    assert(TxLog.read(spark, t).filter(col("id").isin(5L, 150L, 999L))
      .select("v").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("jobs: readChangesCdf over one MOR delete") {
    val t = fixture("pin-cdf")
    val v = TxLog.deleteWhereMorExpr(spark, t, "id % 10 = 5")
    var got = Seq.empty[Long]
    val jobs = jobsDuring {
      got = TxLog.readChangesCdf(spark, t, v - 1, v).select("id").as[Long].collect().toSeq
    }
    assert(got.sorted == (5L until 300L by 10))
    assert(jobs == 1, s"expected 1 Spark job, saw $jobs")
  }

  test("mergeMor keys with a null field match no target row, single and composite") {
    def rows(t: String) = TxLog.read(spark, t).collect().map(_.mkString("|")).toSeq.sorted
    val t = Files.createTempDirectory("graft-morcommit-nullkeys").toString + "/t"
    TxLog.append(spark, t, Seq[(Option[Long], Option[String], Long)](
      (Some(1L), Some("x"), 0L), (Some(2L), None, 0L), (None, Some("y"), 0L))
      .toDF("a", "b", "v"))
    TxLog.mergeMor(spark, t, Seq[(Option[Long], Option[String], Long)](
      (Some(1L), Some("x"), 1L), (Some(2L), None, 1L), (None, Some("y"), 1L))
      .toDF("a", "b", "v"), Seq("a", "b"))
    // (1, x) is superseded; a key with a null field matches nothing under
    // the ON's equality, so its image lands beside the old row
    assert(rows(t) == Seq("1|x|1", "2|null|0", "2|null|1", "null|y|0", "null|y|1"))
    val s = Files.createTempDirectory("graft-morcommit-nullkey").toString + "/t"
    TxLog.append(spark, s, Seq[(Option[Long], Long)]((Some(1L), 0L), (None, 0L)).toDF("a", "v"))
    TxLog.mergeMor(spark, s,
      Seq[(Option[Long], Long)]((Some(1L), 5L), (None, 5L)).toDF("a", "v"), Seq("a"))
    assert(rows(s) == Seq("1|5", "null|0", "null|5"))
  }

  test("mergeMor on a composite key supersedes exactly the named rows past the IN-set threshold") {
    val t = Files.createTempDirectory("graft-morcommit-composite").toString + "/t"
    TxLog.append(spark, t, (0L until 60L).map(i => (i % 20, s"b${i / 20}", 0L)).toDF("a", "b", "v"))
    // 25 keys: Spark plans an IN list this long as a hash-set probe
    val named = (0L until 25L).map(i => (i % 20, s"b${i % 3}", 1L))
    TxLog.mergeMor(spark, t, named.toDF("a", "b", "v"), Seq("a", "b"))
    val got = TxLog.read(spark, t).as[(Long, String, Long)].collect().toSeq
    val keys = named.map(r => (r._1, r._2)).toSet
    assert(keys.size == 25 && got.size == 60, "every named key is in the table")
    assert(got.filter(r => keys((r._1, r._2))).map(_._3).toSet == Set(1L))
    assert(got.count(_._3 == 0L) == 60 - keys.size)
  }

  test("a MOR delete whose stats range keeps a file but matches no row commits nothing and leaves no sidecar") {
    val t = Files.createTempDirectory("graft-morcommit-gap").toString + "/t"
    TxLog.append(spark, t, (0L until 100L by 2).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1), Layout(stats = Seq("id")))
    val v = TxLog.latestVersion(spark, t)
    // 51 lies inside the file's [0, 98] stats range, but no row holds it
    assert(TxLog.deleteWhereMor(spark, t, "id", 51, 51) == v)
    assert(TxLog.latestVersion(spark, t) == v)
    assert(!dataDirs(t).exists(_.contains("-dv-")),
      s"a no-match delete must not leave its sidecar: ${dataDirs(t)}")
    assert(TxLog.read(spark, t).count() == 50L)
  }

  test("a pure-insert mergeMor lands one merge commit with adds, no vector, no sidecar") {
    val t = fixture("pure-insert")
    val base = TxLog.latestVersion(spark, t)
    val before = dataDirs(t).toSet
    val v = TxLog.mergeMor(spark, t,
      Seq((1000L, "k0", 1L), (1001L, "k1", 2L)).toDF("id", "k", "v"), Seq("id"))
    assert(v == base + 1)
    val actions = TxLog.commitActions(spark, t, v)
    assert(actions.contains("tag" -> "merge"), actions)
    assert(actions.exists(_._1 == "add"), actions)
    assert(!actions.exists(_._1 == "dv"), s"a pure insert binds no vector: $actions")
    val added = dataDirs(t).toSet -- before
    assert(added.size == 1 && added.head.contains("-merge-"),
      s"only the image dir may be new: $added")
    assert(ids(t).contains(1000L) && ids(t).contains(1001L))
  }

  test("UPDATE … WHERE false commits nothing and leaves no image dir") {
    val t = fixture("update-false")
    val v = TxLog.latestVersion(spark, t)
    spark.sql(s"UPDATE graft.`$t` SET v = v + 1 WHERE false")
    assert(TxLog.latestVersion(spark, t) == v)
    assert(!dataDirs(t).exists(_.contains("-update-")),
      s"a no-match update must not leave its images: ${dataDirs(t)}")
  }

  test("a repeat delete on a masked file binds the union of old and new positions") {
    val t = fixture("union")
    val first = TxLog.snapshotFiles(spark, t).head // ids 0–99, row index = id
    TxLog.deleteWhereMor(spark, t, "id", 0, 5)
    val dir = TxLog.dvAt(spark, t)(first)
    val name = first.split('/').last
    val pos = spark.read.parquet(new Path(t, dir).toString)
      .filter(col("file") === name).select("pos").as[Long].collect()
    val expected = (0L to 5L).toSet ++ (0L until 100L by 10)
    assert(pos.length == expected.size, "each position once")
    assert(pos.toSet == expected)
    assert(ids(t).count(_ < 100) == 100 - expected.size)
  }

  test("a mergeMor lost to a racing commit deletes its sidecar and image dirs") {
    val t = fixture("race")
    val base = TxLog.latestVersion(spark, t)
    val before = ids(t)
    // a metadata-only commit lands at base + 1 while the merge writes
    // its images, so the merge's claim of base + 1 loses
    val claim = Paths.get(t, "_log", f"${base + 1}%08d.json").toString
    val racer = udf { (v: Long) =>
      try Files.write(Paths.get(claim),
        "{\"a\":\"meta\",\"p\":\"race|eA==\"}\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW)
      catch { case _: FileAlreadyExistsException => () }
      v
    }
    val batch = Seq((5L, "k1", 1L), (999L, "k3", 3L)).toDF("id", "k", "v")
      .withColumn("v", racer(col("v")))
    intercept[TxLogConcurrentModificationException] {
      TxLog.mergeMor(spark, t, batch, Seq("id"))
    }
    val prefix = f"v${base + 1}%08d-"
    assert(!dataDirs(t).exists(_.startsWith(prefix)),
      s"the lost merge must delete what it wrote: ${dataDirs(t)}")
    assert(TxLog.latestVersion(spark, t) == base + 1)
    assert(ids(t) == before)
  }

  test("a replaceWhere failing before its commit lands deletes its sidecar and image dirs") {
    val t = fixture("pre-commit-failure")
    val base = TxLog.latestVersion(spark, t)
    val before = ids(t)
    val prefix = f"v${base + 1}%08d-"
    // the predicate runs in the sidecar's shuffle, after the images are
    // written: it deletes the image files, so reading their footers for
    // the commit fails before the commit can land
    spark.udf.register("drop_replace_images", (k: String) => {
      Option(new java.io.File(t, "data").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix + "replace-"))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      k
    })
    val slice = (1000L until 1010L).map(i => (i, "k1", i)).toDF("id", "k", "v")
    intercept[java.io.IOException] {
      TxLog.replaceWhere(spark, t, slice, "drop_replace_images(k) = 'k1'")
    }
    assert(!dataDirs(t).exists(_.startsWith(prefix)),
      s"the failed replace must delete what it wrote: ${dataDirs(t)}")
    assert(TxLog.latestVersion(spark, t) == base)
    assert(ids(t) == before)
  }

  test("a conditional merge whose source rows each match many target rows updates them all") {
    val t = fixture("many-matches")
    val live = TxLog.read(spark, t)
    val k1 = live.filter(col("k") === "k1").select("id").as[Long].collect().toSet
    val rows = live.count()
    // ON t.k = s.k: one source row fires for every k1 (and every k2) row
    TxLog.mergeMorConditional(spark, t, Seq(("k1", -1L), ("k2", -2L)).toDF("k", "v"),
      Seq("k"), Seq(MergeMatchedUpdate(None, Seq("v" -> "_src_v"))), Seq.empty)
    val after = TxLog.read(spark, t)
    assert(after.count() == rows)
    assert(after.filter(col("k") === "k1").select("id").as[Long].collect().toSet == k1)
    assert(after.filter(col("k") === "k1" && col("v") =!= -1L).isEmpty)
    assert(after.filter(col("k") === "k2" && col("v") =!= -2L).isEmpty)
    assert(after.filter(col("k") === "k0" && col("v") < 0L).isEmpty)
  }

  test("mergeMor into a heavily duplicate-keyed target fails loudly and writes nothing") {
    val t = fixture("dup-target")
    TxLog.append(spark, t, Seq.fill(50)((5L, "k1", 0L)).toDF("id", "k", "v").coalesce(1))
    val v = TxLog.latestVersion(spark, t)
    val dirs = dataDirs(t).toSet
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeMor(spark, t, Seq((5L, "k1", 1L), (999L, "k3", 3L)).toDF("id", "k", "v"),
        Seq("id"))
    }
    assert(e.getMessage.contains("more than 2 live rows for 2 batch keys"), e.getMessage)
    assert(e.getMessage.contains("duplicate-keyed"), e.getMessage)
    assert(TxLog.latestVersion(spark, t) == v)
    assert(dataDirs(t).toSet == dirs)
  }

  test("every job a mergeMor launches carries the txlog:merge tag; the caller's description returns") {
    val t = fixture("tag")
    val base = TxLog.latestVersion(spark, t)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    val props = try {
      jobPropertiesDuring {
        TxLog.mergeMor(spark, t,
          Seq((5L, "k1", 1L), (999L, "k3", 3L)).toDF("id", "k", "v"), Seq("id"))
      }
    } finally {
      assert(sc.getLocalProperty("spark.job.description") == "caller",
        "the caller's job description must be restored")
      sc.setJobDescription(null)
    }
    val descs = props.map(p => Option(p.getProperty("spark.job.description")).orNull)
    assert(descs.nonEmpty)
    assert(descs.forall(_ == s"txlog:merge $t@v${base + 1}"), descs)
  }
}
