package graft

import org.apache.spark.sql.functions.col
import graft.operators.{TextAnalysis, TextIndex}
import graft.sources.Tables

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val workload = TextAnalysis.Bm25MultiWorkload.toDF("query_id", "term")

  test("build → save → load → serve ≡ the corpus-scan path, bit-equal") {
    val docs = Tables.documents(spark, sfSmall)
    val dir = java.nio.file.Files.createTempDirectory("graft-ti").toString
    TextIndex.save(docs, dir)
    val served = TextIndex.serve(TextIndex.load(spark, dir), workload, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    val scanned = TextAnalysis.bm25QueryTable(docs, workload, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(served == scanned,
      s"first diff: ${served.zip(scanned).find(p => p._1 != p._2)}")
  }

  test("serve's postings scan pushes the term filter into parquet") {
    val docs = Tables.documents(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("graft-ti2").toString
    TextIndex.save(docs, dir)
    val handle = TextIndex.load(spark, dir)
    val served = TextIndex.serve(handle, workload, topN = 5)
    // the In(token, ...) predicate must reach the scan — that's what
    // lets row-group pruning on the token-sorted layout do the seeking
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"term filter not pushed to the postings scan:\n${plan.take(2500)}")
    assert(served.collect().nonEmpty)
  }

  test("incremental maintenance: delta-appended index ≡ full rebuild, versions pin history") {
    val docs = Tables.documents(spark, sfSmall)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val table = java.nio.file.Files.createTempDirectory("graft-tiv").toString + "/idx"
    val v0 = TextIndex.saveVersioned(half1, table)
    val v1 = TextIndex.appendDelta(spark, table, half2)
    assert(v0 == 0L && v1 == 1L)
    def serve(h: TextIndex.Handle) =
      TextIndex.serve(h, workload, topN = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
    // the incrementally-maintained index serves EXACTLY what a from-
    // scratch rebuild over the full corpus serves (integer stats merge
    // exactly; scoring is the shared bit-equal tail)
    val incremental = serve(TextIndex.loadVersioned(spark, table))
    val dir = java.nio.file.Files.createTempDirectory("graft-tiv2").toString
    TextIndex.save(docs, dir)
    assert(incremental == serve(TextIndex.load(spark, dir)),
      "incrementally-maintained index diverged from the full rebuild")
    // pinned version 0 = the half-corpus index, untouched by the delta
    val pinned = serve(TextIndex.loadVersioned(spark, table, asOf = Some(0L)))
    val dir0 = java.nio.file.Files.createTempDirectory("graft-tiv3").toString
    TextIndex.save(half1, dir0)
    assert(pinned == serve(TextIndex.load(spark, dir0)),
      "pinned v0 must serve the pre-delta index exactly")
    // re-appending an already-indexed doc id is loud, BEFORE any commit
    val e = intercept[IllegalArgumentException](
      TextIndex.appendDelta(spark, table, half2.limit(1)))
    assert(e.getMessage.contains("already"), e.getMessage)
    assert(graft.sources.TxLog.versions(spark, s"$table/postings") == Seq(0L, 1L),
      "the failed append must not have committed")
  }

  test("the artifact round-trips content: df and stats match a fresh build") {
    val docs = Tables.documents(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("graft-ti3").toString
    TextIndex.save(docs, dir)
    var handle: TextIndex.Handle = null
    // the three stored schemas come from parquet footers, not inference jobs
    assert(jobsDuring { handle = TextIndex.load(spark, dir) } == 0)
    val (postings, df, stats) = TextIndex.build(docs)
    assert(handle.stats.collect().toSeq == stats.collect().toSeq)
    assert(handle.df.orderBy("token").collect().toSeq ==
      df.orderBy("token").collect().toSeq)
    assert(handle.postings.count() == postings.count())
    // token-clustered layout: each file owns a token range; ranges of
    // different files may touch at a shared boundary token (range
    // partitioning splits BETWEEN keys) but never properly interleave
    val ranges = handle.postings
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min("token").as("lo"),
        org.apache.spark.sql.functions.max("token").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file token ranges interleave: $hi1 > $lo2")
      case _ => ()
    }
  }

  // -------------------------------------------------------------------
  // Positional postings + phrase serving
  // -------------------------------------------------------------------

  private def phraseHits(handle: TextIndex.Handle, ws: String*) =
    TextIndex.servePhrase(handle, ws)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("servePhrase: adjacency, overlap, repeated terms, and misses on a planted corpus") {
    val docs = Seq(
      (0L, "a b c a b c"),         // "a b" at 0 and 3; "b c a" at 1
      (1L, "table table table x"), // "table table" overlaps: starts 0 AND 1
      (2L, "b a c"),               // all terms present, never adjacent
      (3L, "a b")                  // exact doc-length match at 0
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    TextIndex.save(docs, dir)
    val h = TextIndex.load(spark, dir)
    assert(phraseHits(h, "a", "b") == Seq((0L, 2L, 0L), (3L, 1L, 0L)))
    assert(phraseHits(h, "b", "c", "a") == Seq((0L, 1L, 1L)))
    // repeated phrase term: overlapping occurrences each count
    assert(phraseHits(h, "table", "table") == Seq((1L, 2L, 0L)))
    // present-but-not-adjacent and absent terms both yield nothing
    assert(phraseHits(h, "c", "b").isEmpty)
    assert(phraseHits(h, "a", "zzz").isEmpty)
  }

  test("servePhrase from the stored index ≡ a direct corpus recompute (real corpus)") {
    val docs = Tables.documents(spark, sfSmall)
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase2").toString
    TextIndex.save(docs, dir)
    val served = phraseHits(TextIndex.load(spark, dir),
      TextIndex.PhraseWorkload: _*)
    // direct recompute from raw text: position-join, no index
    import org.apache.spark.sql.functions._
    val ws = TextIndex.PhraseWorkload
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val t0 = toks.filter(col("tok") === ws.head)
      .select(col("doc_id"), col("pos").as("start"))
    val matches = ws.zipWithIndex.drop(1).foldLeft(t0) { case (acc, (w, j)) =>
      acc.join(toks.filter(col("tok") === w)
        .select(col("doc_id"), (col("pos") - j).as("start")),
        Seq("doc_id", "start"))
    }
    val direct = matches.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("start").cast("long")).as("first_pos"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served.nonEmpty, "phrase must occur in the sfSmall corpus")
    assert(served == direct,
      s"index-served phrase hits diverge from the corpus recompute: " +
        s"${served.diff(direct)} vs ${direct.diff(served)}")
  }

  test("servePhrase: incremental appendDelta parity and pushed term filter") {
    val docs = Tables.documents(spark, sfTiny).localCheckpoint()
    val (oldDocs, newDocs) =
      (docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0))
    val base = java.nio.file.Files.createTempDirectory("graft-phrase3").toString
    val full = java.nio.file.Files.createTempDirectory("graft-phrase4").toString
    TextIndex.saveVersioned(oldDocs, base)
    TextIndex.appendDelta(spark, base, newDocs)
    TextIndex.saveVersioned(docs, full)
    val ws = Seq("table", "value")
    val delta = phraseHits(TextIndex.loadVersioned(spark, base), ws: _*)
    val rebuilt = phraseHits(TextIndex.loadVersioned(spark, full), ws: _*)
    assert(delta == rebuilt,
      "delta-appended positional index must serve phrases identically " +
        "to a full rebuild")
    // the phrase path keeps the serve-side pushdown contract
    val h = TextIndex.load(spark,
      java.nio.file.Files.createTempDirectory("graft-phrase5").toString match {
        case d => TextIndex.save(docs, d); d
      })
    val plan = TextIndex.servePhrase(h, ws).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"phrase term filter not pushed to the postings scan:\n${plan.take(2000)}")
  }
}
