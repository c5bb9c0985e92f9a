package graft

import graft.operators.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges: classic low/lower/lowest corpus, hand-computed merge sequence") {
    // tokens: low×3, lower×1, lowest×1. Pair counts:
    //   (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=1 (e,s)=1 (s,t)=1
    // step 1: tie 5/5 breaks lexicographically -> "l o" (5), sym "lo"
    // step 2: "lo w" now counts 5 -> merged "low"
    // step 3: "low e" counts 2 -> merged "lowe"
    val docs = Seq((1L, "low low lower"), (2L, "lowest low"))
      .toDF("doc_id", "text")
    val rows = Bpe.learnMerges(docs, steps = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L)), rows.mkString(", "))
  }

  test("learnMerges: left-to-right non-overlapping merge on runs (aaaa -> aa aa -> aaaa)") {
    // "aaaa": pairs (a,a)×3 -> merge "a a". BPE's left-to-right rule
    // turns the run into "aa aa" (NOT "aa a a" or a re-overlapping
    // "aaa a"), so step 2 must see exactly one (aa,aa) pair.
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val rows = Bpe.learnMerges(docs, steps = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1, "a", "a", "aa", 3L),
      (2, "aa", "aa", "aaaa", 1L)), rows.mkString(", "))
  }

  test("learnMerges: back-to-back pair occurrences both merge in one step") {
    // "xyxy": pairs (x,y)=2, (y,x)=1 -> merge "x y"; both occurrences
    // collapse in the same pass, so step 2 sees (xy,xy)=1.
    val docs = Seq((1L, "xyxy")).toDF("doc_id", "text")
    val rows = Bpe.learnMerges(docs, steps = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (1, "x", "y", "xy", 2L),
      (2, "xy", "xy", "xyxy", 1L)), rows.mkString(", "))
  }

  test("encode: learned merges segment the corpus, in training order") {
    // merges (from the first test): lo, low, lowe. Segmentations:
    //   low    -> [low]          1 subword, 3 chars
    //   lower  -> [lowe, r]      2 subwords, 5 chars
    //   lowest -> [lowe, s, t]   3 subwords, 6 chars
    val docs = Seq((1L, "low low lower"), (2L, "lowest low"))
      .toDF("doc_id", "text")
    val rows = Bpe.encode(docs, steps = 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows(1L) == (3L, 11L, 4L, 2.75), rows(1L).toString)
    assert(rows(2L) == (2L, 9L, 4L, 2.25), rows(2L).toString)
  }

  test("learnMerges: frequency weighting beats within-word multiplicity") {
    // "ab" appears in 10 words' worth of frequency; "cd" only in one
    // word but that word repeats the pair twice. Weighted counts:
    // (a,b) = 10, (c,d) = 2×1 = 2 -> "a b" must win.
    val docs = Seq((1L, Seq.fill(10)("ab").mkString(" ") + " cdcd"))
      .toDF("doc_id", "text")
    val first = Bpe.learnMerges(docs, steps = 1).collect()(0)
    assert((first.getString(1), first.getString(2), first.getLong(4)) == ("a", "b", 10L),
      first.toString)
  }

  private def mergeRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq

  test("learnMergesDelta ≡ learnMerges on the hand-computed fixtures") {
    // the run/overlap edge cases are exactly where a local-context delta
    // would go wrong; the whole-word diff must match the recount form
    for (text <- Seq("low low lower\nlowest low", "aaaa", "xyxy", "yyy")) {
      val docs = text.split("\n").zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      val steps = 3
      assert(mergeRows(Bpe.learnMergesDelta(docs, steps)) ==
        mergeRows(Bpe.learnMerges(docs, steps)), s"corpus: $text")
    }
  }

  test("learnMergesDelta ≡ learnMerges for 16 steps on the real corpus") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val delta = mergeRows(Bpe.learnMergesDelta(docs, 16))
    val recount = mergeRows(Bpe.learnMerges(docs, 16))
    assert(delta == recount,
      s"first diff: ${delta.zip(recount).find(p => p._1 != p._2)}")
  }

  test("encodeWith (bpe_apply rank-map) ≡ encode (nested in-order replace), vocab round-tripped") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    for (steps <- Seq(3, 16)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-vocab$steps").toString
      Bpe.saveVocab(Bpe.learnMerges(docs, steps), dir)
      var vocab: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { vocab = Bpe.loadVocab(spark, dir) } == 0,
        "the vocab schema comes from its parquet footer, not an inference job")
      val stored = rows(Bpe.encodeWith(docs, vocab))
      val inOrder = rows(Bpe.encode(docs, steps))
      assert(stored == inOrder,
        s"steps=$steps first diff: ${stored.zip(inOrder).find(p => p._1 != p._2)}")
    }
  }

  test("bpe_apply: hand-computed segmentation and deep-vocab monotonicity") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // vocab lo/low/lowe (the classic fixture): lower → [lowe, r],
    // lowest → [lowe, s, t], low → [low], unknown chars stay single
    val segs = Seq("lower", "lowest", "low", "xyz").toDF("w")
      .select(col("w"), call_function("bpe_apply", col("w"),
        typedlit(Seq("l", "lo", "low")), typedlit(Seq("o", "w", "e"))).as("subs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(segs("lower") == List("lowe", "r"), segs.toString)
    assert(segs("lowest") == List("lowe", "s", "t"), segs.toString)
    assert(segs("low") == List("low"), segs.toString)
    assert(segs("xyz") == List("x", "y", "z"), segs.toString)
    // a deeper vocabulary can only compress further (greedy prefix:
    // the 48-merge run extends the 16-merge run)
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val v48 = Bpe.learnMergesDelta(docs, 48)
    val sub16 = Bpe.encodeWith(docs, v48.filter(col("step") <= 16))
      .agg(sum("n_subwords")).collect().head.getLong(0)
    val sub48 = Bpe.encodeWith(docs, v48)
      .agg(sum("n_subwords")).collect().head.getLong(0)
    assert(sub48 <= sub16, s"deeper vocab must not segment worse: $sub48 > $sub16")
  }

  test("learnMergesDelta goes past the recount cap (48 merges, counts stay exact)") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val rows = mergeRows(Bpe.learnMergesDelta(docs, 48))
    assert(rows.size == 48)
    assert(rows.map(_._1) == (1 to 48), "steps must be contiguous")
    // merge counts are non-increasing is NOT required by BPE (a merge
    // can create a pair more frequent than later originals), but every
    // selected count must be positive and the merged symbol must be the
    // concatenation of its parts
    rows.foreach { case (_, p1, p2, sym, cnt) =>
      assert(cnt > 0 && sym == p1 + p2, rows.toString)
    }
    // prefix property: the first 16 of a 48-step run ARE the 16-step run
    // (training is greedy — deeper runs extend, never revise)
    assert(rows.take(16) == mergeRows(Bpe.learnMergesDelta(docs, 16)))
  }
}
