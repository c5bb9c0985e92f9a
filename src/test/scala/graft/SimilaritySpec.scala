package graft

import org.apache.spark.sql.functions.col
import graft.operators.Similarity
import graft.functions.GraftFunctions
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  test("cosine_similarity: exact values on known vectors") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth, " +
      "cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS same, " +
      "cosine_similarity(array(1.0D, 0.0D), array(-1.0D, 0.0D)) AS opp")
      .collect().head
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
  }

  test("brute-force top-k: self is rank 1 with cos 1.0") {
    val e = Tables.embeddings(spark, sfTiny)
    val top = Similarity.bruteTopK(e, e.filter(col("vec_id") < 3), k = 1)
      .collect()
    assert(top.length == 3)
    top.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "rank-1 neighbor must be self")
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("ANN LSH recall@10 >= 0.6 at 32x6 on near-orthogonal vectors (worst case)") {
    val e = Tables.embeddings(spark, sfSmall)
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteTopK(e, q, 10)
      .filter(col("qid") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(e, q, 10, numTables = 32, numBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("qs_ann_lsh self-certifies: every query clears the recall floor, in-plan") {
    for (d <- Seq(sfTiny, sfSmall)) {
      val rows = Similarity.qsAnnLsh(spark, d).collect()
      assert(rows.length == 5, "one certification row per query vector")
      rows.foreach { r =>
        assert(r.getAs[Long]("k") == 10L)
        assert(r.getAs[Boolean]("recall_ge_certified"),
          s"query ${r.getAs[Long]("qid")} fell below the certified floor at $d")
      }
    }
  }

  test("ANN examines a sub-linear candidate set (never all pairs)") {
    GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, sfSmall)
    val n = e.count()
    // candidate pairs for one query = vectors sharing >= 1 bucket
    val sk = e.selectExpr("vec_id", "cosine_lsh_sketch(embedding, 16, 8) AS s")
    val q = sk.filter(col("vec_id") === 0).selectExpr("s AS qs")
    // positional compare: a bucket only matches within the same table
    val cands = sk.crossJoin(q)
      .selectExpr("vec_id", "exists(zip_with(s, qs, (a, b) -> a = b), x -> x) AS hit")
      .filter(col("hit")).count()
    assert(cands < n / 2, s"candidates=$cands of $n — bucketing isn't pruning")
  }

  test("IVF with nprobe == nlist is exactly brute force; small nprobe reads a fraction") {
    val e = graft.sources.Tables.embeddings(spark, sfTiny)
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    // brute keeps the self-match at rank 1; IVF follows the ANN
    // convention (self excluded) — so the exact-equality target is
    // brute's top-11 minus the self rows (= its top-10 non-self)
    val bruteSet = Similarity.bruteTopK(e, q, k = 11).collect()
      .filter(r => r.getLong(0) != r.getLong(1))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probing every cell degenerates to exhaustive search - must EQUAL brute
    val full = Similarity.ivfTopK(e, q, k = 10, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == bruteSet, "nprobe == nlist must be exact")
    // small nprobe: a real candidate-set reduction with usable recall
    val part = Similarity.ivfTopK(e, q, k = 10, nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = bruteSet.map(t => (t._1, t._2))
    val recall = (part & brutePairs).size.toDouble / brutePairs.size
    assert(recall >= 0.25, s"IVF recall collapsed: $recall (near-orthogonal corpus is the worst case)")
    assert(part.size <= brutePairs.size, "IVF returns at most k per query")
  }

  test("auto-sized LSH: bits track corpus size, tables track threshold; planted dups found") {
    import org.apache.spark.sql.functions.{col, expr}
    // sizing rule: occupancy-constant bits (log2 N), more tables for
    // weaker thresholds, and the low-threshold table clamp engages
    val (t1, b1) = Similarity.lshGeometry(2000, 0.9, 0.999, 32)
    val (t2, b2) = Similarity.lshGeometry(2000000, 0.9, 0.999, 32)
    assert(b2 > b1, s"bits must grow with N: $b1 vs $b2")
    assert(t2 >= t1, "recall compensation must not shrink with more bits")
    val (tLow, _) = Similarity.lshGeometry(2000, 0.45, 0.999, 32)
    assert(tLow > t1, "weaker threshold needs more tables")
    // plant exact-scale near-dups (x*1.001 → cos ≈ 1) and recover them
    // at the production threshold via the auto path
    val base = Tables.embeddings(spark, sfTiny)
    val planted = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> x * 1.001f)").as("embedding"))
    val corpus = base.select("vec_id", "embedding").unionAll(planted)
    val got = Similarity.nearDupPairsAuto(corpus, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 5L).map(i => (i, i + 100000)).toSet
    assert(want.subsetOf(got), s"planted near-dups missed: ${want -- got}")
  }

  test("PQ: codes compress 32x; full rerank degenerates to exact brute force") {
    val e = Tables.embeddings(spark, sfTiny)
    val n = e.count().toInt
    val model = Similarity.trainPq(e, m = 8, nbits = 4)
    assert(model.codebooks.length == 8 && model.codes == 16 && model.subDim == 8)
    // every vector encodes to m small codes — the 32x-smaller representation
    val codes = Similarity.pqEncode(e, model).collect()
    assert(codes.length == n)
    codes.foreach { r =>
      val cs = r.getSeq[Int](r.fieldIndex("codes"))
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16), s"bad codes $cs")
    }
    // rerank covering the corpus => the exact-cosine tail sees everything
    // and PQ MUST equal brute force exactly (the IVF nprobe==nlist twin)
    val q = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteTopK(e, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Similarity.pqTopK(e, q, 10, model, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute includes self (cos 1.0, rank 1); pq excludes self — brute's
    // ranks 2..10 must therefore ALL appear in full-rerank pq's top-10
    val exactNoSelf = exact.filterNot(t => t._1 == t._2)
    assert(exactNoSelf.subsetOf(full),
      s"full-rerank PQ diverged from brute force: missing ${exactNoSelf -- full}")
  }

  test("PQ index save->load->serve is bit-identical to the retrained path") {
    val e = Tables.embeddings(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-store").toString
    val built = Similarity.buildPqIndex(e, m = 8, nbits = 4)
    Similarity.savePqIndex(built, dir)
    var loaded: Similarity.PqIndex = null
    // one job, the codebook collect: both schemas come from parquet footers
    assert(jobsDuring { loaded = Similarity.loadPqIndex(spark, dir) } == 1)
    // model round-trips exactly: same shape, bit-equal centroids
    assert(loaded.model.m == built.model.m && loaded.model.subDim == built.model.subDim)
    (loaded.model.codebooks zip built.model.codebooks).foreach { case (ls, bs) =>
      (ls zip bs).foreach { case (lc, bc) => assert(lc.toSeq == bc.toSeq) } }
    // codes round-trip exactly (parquet ints, nothing lossy)
    val freshCodes = built.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val storedCodes = loaded.codes.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(storedCodes == freshCodes)
    // and SERVING from the stored artifact returns the same ranked rows
    val q = e.filter(col("vec_id") < 3)
    val retrained = Similarity.pqTopK(e, q, 10, built.model, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val served = Similarity.pqTopK(e, q, 10, loaded.model, rerank = 4,
        codes = Some(loaded.codes))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served == retrained,
      s"stored-index serving diverged: ${(served diff retrained).take(3)} vs " +
        s"${(retrained diff served).take(3)}")
  }

  test("PQ-ADC at rerank=4 recovers most exact neighbors on the worst-case corpus") {
    val e = Tables.embeddings(spark, sfSmall)
    val model = Similarity.trainPq(e, m = 8, nbits = 4)
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteTopK(e, q, 10)
      .filter(col("qid") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(e, q, 10, model, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 too low: $recall")
  }

  test("IVF-PQ index save->load->serve is bit-identical to the freshly-built path") {
    val e = Tables.embeddings(spark, sfTiny)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-store").toString
    val built = Similarity.buildIvfPqIndex(e, nlist = 8, m = 8, nbits = 4)
    Similarity.saveIvfPqIndex(built, dir)
    var loaded: Similarity.IvfPqIndex = null
    // two jobs, the centroid and codebook collects: no schema inference
    assert(jobsDuring { loaded = Similarity.loadIvfPqIndex(spark, dir) } == 2)
    assert(loaded.centroids.map(_._1) == built.centroids.map(_._1))
    (loaded.centroids zip built.centroids).foreach { case ((_, lc), (_, bc)) =>
      assert(lc == bc) }
    (loaded.model.codebooks zip built.model.codebooks).foreach { case (ls, bs) =>
      (ls zip bs).foreach { case (lc, bc) => assert(lc.toSeq == bc.toSeq) } }
    val q = e.filter(col("vec_id") < 3)
    val fresh = Similarity.ivfPqServe(e, q, 10, built, nprobe = 4, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val served = Similarity.ivfPqServe(e, q, 10, loaded, nprobe = 4, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served == fresh,
      s"stored IVF-PQ serving diverged: ${(served diff fresh).take(3)} vs " +
        s"${(fresh diff served).take(3)}")
  }

  test("IVF-PQ: probing every cell with full rerank degenerates to exact brute force") {
    val e = Tables.embeddings(spark, sfTiny)
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 3)
    val exact = Similarity.bruteTopK(e, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      .filterNot(t => t._1 == t._2)
    val full = Similarity.ivfPqTopK(e, q, 10, nlist = 8, nprobe = 8, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.subsetOf(full),
      s"degenerate IVF-PQ diverged from brute force: missing ${exact -- full}")
  }

  test("IVF-PQ: partial probe with residual codes recovers most exact neighbors") {
    val e = Tables.embeddings(spark, sfSmall)
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteTopK(e, q, 10)
      .filter(col("qid") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(e, q, 10, nlist = 8, nprobe = 6, rerank = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    // near-orthogonal corpus: cell residence is weakly informative (the
    // documented IVF caveat), so the floor sits below the LSH/PQ ones
    assert(recall >= 0.4, s"IVF-PQ recall@10 too low: $recall")
  }

  test("IVF with a pre-trained quantizer == in-place training (production path)") {
    val e = graft.sources.Tables.embeddings(spark, sfTiny)
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val model = Similarity.trainQuantizer(e, nlist = 8)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pretrained = asSet(Similarity.ivfTopK(e, q, k = 10, nlist = 8, nprobe = 3,
      quantizer = Some(model)))
    val inplace = asSet(Similarity.ivfTopK(e, q, k = 10, nlist = 8, nprobe = 3))
    assert(pretrained == inplace,
      "same seed + same corpus must give identical search results either way")
  }

  test("int8Quantize: codes bounded to ±127, max-coordinate exact, zero vector survives") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, -2.54f, 2.54f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector: scale 0, codes 0
      .toDF("vec_id", "embedding")
    val got = Similarity.int8Quantize(rows)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getSeq[Int](3))).toMap
    val (s1, c1) = got(1L)
    assert(math.abs(s1 - 2.54f.toDouble / 127.0) < 1e-12)
    assert(c1 == Seq(50, -127, 127, 0), c1.toString) // 1.0/(2.54/127) = 50.0
    assert(got(2L) == ((0.0, Seq(0, 0, 0, 0))))
    // dequant error bound s/2 holds on the real corpus (the query's
    // certified boolean, asserted directly here)
    val bad = Similarity.qsInt8Quant(spark, sfTiny)
      .filter(!org.apache.spark.sql.functions.col("err_within_bound")).count()
    assert(bad == 0L)
  }

  test("semanticDedup: min-id domination inside clusters, clusters partition the corpus") {
    import spark.implicits._
    // two tight groups far apart + one loner; ids chosen so the dedup
    // rule is visible: within a duplicate neighborhood only the
    // smallest id survives, and near-identical chains collapse to it
    def v(base: Array[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => if (i == 0) x + eps else x }.toSeq
    val a = Array(10f, 0f, 0f, 0f)
    val b = Array(0f, 10f, 0f, 0f)
    val rows = Seq(
      (1L, v(a, 0f)), (2L, v(a, 0.01f)), (3L, v(a, 0.02f)), // group A: keep 1
      (10L, v(b, 0f)), (11L, v(b, 0.01f)),                  // group B: keep 10
      (20L, Seq(5f, 5f, 5f, 5f)))                           // loner: kept
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Similarity.semanticDedup(rows, nClusters = 3, minCos = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false,
      10L -> true, 11L -> false, 20L -> true), s"got $got")
  }

  test("rrfFuse: hand-computed fusion — both-list docs dominate, single-list legs contribute 0") {
    import spark.implicits._
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rn")
    val sem = Seq((2L, 1L), (4L, 2L), (1L, 3L)).toDF("doc_id", "rn")
    val got = Similarity.rrfFuse(lex, sem, kConst = 60, topN = 10)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getDouble(3), r.getLong(4)))
    def s(rns: Seq[Long]) = BigDecimal(rns.map(rn => 1.0 / (60 + rn)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2: ranks (2,1) -> 1/62+1/61; doc 1: (1,3) -> 1/61+1/63; both
    // beat any single-list doc; doc 2 > doc 1 exactly
    val byId = got.map(t => t._1 -> t._4).toMap
    assert(byId == Map(1L -> s(Seq(1, 3)), 2L -> s(Seq(2, 1)),
      3L -> s(Seq(3)), 4L -> s(Seq(2))), got.toList.toString)
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L), s"fusion order: ${got.toList}")
    // absent legs surface as nulls, not zeros-as-ranks
    val d4 = got.find(_._1 == 4L).get
    assert(d4._2.isEmpty && d4._3.contains(2L), d4.toString)
  }

  test("mmrRerank: a diverse 0.95-rel doc beats a 0.97-rel near-duplicate at λ=0.75") {
    import spark.implicits._
    // all unit vectors; d2 is a near-clone of d1 (sim ≈ 0.998977), d3 is
    // diverse (sim to d1 = 0.931). Pure relevance ranks 1, 2, 3; MMR's
    // redundancy penalty flips it: step-2 scores are
    //   d2: 0.75·0.97 − 0.25·0.998977 ≈ 0.477756
    //   d3: 0.75·0.95 − 0.25·0.931    = 0.479750  → d3 wins by 0.002
    val cands = Seq(
      (7L, 1L, 0.98, Seq(0.98f, 0.19899748f, 0f, 0f)),
      (7L, 2L, 0.97, Seq(0.97f, 0.24310492f, 0f, 0f)),
      (7L, 3L, 0.95, Seq(0.95f, 0f, 0.31224990f, 0f)))
      .toDF("qid", "vec_id", "rel", "v")
    val got = Similarity.mmrRerank(cands, k = 3, lambda = 0.75)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 1L), (3L, 2L), (2L, 3L)),
      s"MMR selection order: ${got.toList}")
    val score = got.map(t => t._1 -> t._3).toMap
    assert(math.abs(score(1L) - 0.735) < 1e-4, score.toString)    // 0.75·0.98
    assert(math.abs(score(3L) - 0.47975) < 1e-4, score.toString)
    assert(math.abs(score(2L) - 0.477756) < 1e-4, score.toString) // vs {d1,d3}: max-sim is still d1
  }

  test("mmrRerank at λ=1 degenerates to pure relevance ranking (model check)") {
    import spark.implicits._
    // deterministic pseudo-random candidates: 2 queries × 12 docs with
    // varied vectors; at λ=1 the redundancy term vanishes, so MMR must
    // reproduce (rel DESC, vec_id) exactly — a closed-form reference
    val rng = new scala.util.Random(42)
    val cands = (for (q <- 0L until 2L; i <- 0L until 12L) yield {
      val v = Seq.fill(8)(rng.nextFloat())
      (q, i, BigDecimal(rng.nextDouble()).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, v)
    }).toDF("qid", "vec_id", "rel", "v")
    val got = Similarity.mmrRerank(cands, k = 6, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byRel = cands.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._3, t._2)).take(6).map(_._2).toSeq).toMap
    got.groupBy(_._1).foreach { case (qid, picks) =>
      val order = picks.sortBy(_._3).map(_._2).toSeq
      assert(order == byRel(qid), s"qid $qid: MMR@λ=1 $order vs rel-rank ${byRel(qid)}")
    }
  }

  test("qsMmrRerank on the real corpus: self first, k picks per query, no repeats") {
    val rows = Similarity.qsMmrRerank(spark, sfTiny)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L), byQ.keySet.toString)
    byQ.foreach { case (qid, picks) =>
      assert(picks.length == 5, s"qid $qid: ${picks.length} picks")
      assert(picks.map(_._2).distinct.length == 5, s"qid $qid repeats a doc")
      // the query vector is in the corpus, so pick 1 is self at rel 1.0
      val first = picks.minBy(_._3)
      assert(first._2 == qid && first._4 == 1.0, s"qid $qid first pick: $first")
    }
  }

  test("cov_accum_agg + jacobiEigen: hand-checked covariance and a known eigensystem") {
    import spark.implicits._
    import graft.functions.CovUtil
    // covariance of {(1,2),(3,4),(5,0)}: means (3,2); population cov
    // [[8/3, -4/3], [-4/3, 8/3]]
    val df = Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(5f, 0f)).toDF("embedding")
    GraftFunctions.ensureRegistered(spark)
    val blob = df.agg(org.apache.spark.sql.functions.expr("cov_accum_agg(embedding, 2)"))
      .head().getAs[Array[Byte]](0)
    val cov = CovUtil.covariance(CovUtil.fromBytes(blob))
    assert(math.abs(cov(0)(0) - 8.0 / 3) < 1e-12 && math.abs(cov(1)(1) - 8.0 / 3) < 1e-12)
    assert(math.abs(cov(0)(1) + 4.0 / 3) < 1e-12 && cov(0)(1) == cov(1)(0))
    // [[2,1],[1,2]] has eigenpairs (3, (1,1)/√2) and (1, (1,-1)/√2)
    val (vals, vecs) = CovUtil.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    assert(math.abs(math.abs(vecs(0)(0)) - r) < 1e-12 &&
      math.abs(vecs(0)(0) - vecs(0)(1)) < 1e-12, vecs(0).toSeq.toString)
  }

  test("cov_accum_agg is group-ready: per-label blobs equal per-label direct computation") {
    import spark.implicits._
    import graft.functions.CovUtil
    GraftFunctions.ensureRegistered(spark)
    val rows = Seq(
      ("a", Seq(1f, 0f)), ("a", Seq(3f, 2f)), ("a", Seq(5f, 4f)),
      ("b", Seq(10f, -2f)), ("b", Seq(12f, -6f)))
      .toDF("label", "embedding")
    val blobs = rows.groupBy("label")
      .agg(org.apache.spark.sql.functions.expr("cov_accum_agg(embedding, 2)").as("blob"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val a = CovUtil.fromBytes(blobs("a"))
    assert(a.n == 3 && a.sums.toSeq == Seq(9.0, 6.0), s"${a.n} ${a.sums.toSeq}")
    val covA = CovUtil.covariance(a)
    assert(math.abs(covA(0)(0) - 8.0 / 3) < 1e-12 &&
      math.abs(covA(0)(1) - 8.0 / 3) < 1e-12, covA.map(_.toSeq).toSeq.toString)
    val b = CovUtil.fromBytes(blobs("b"))
    // {(10,-2),(12,-6)}: means (11,-4), var_x = 1, var_y = 4, cov = -2
    val covB = CovUtil.covariance(b)
    assert(b.n == 2 && covB(0)(0) == 1.0 && covB(1)(1) == 4.0 && covB(0)(1) == -2.0,
      covB.map(_.toSeq).toSeq.toString)
  }

  test("pcaSummary recovers a planted dominant axis and certifies on the real corpus") {
    import spark.implicits._
    import graft.functions.CovUtil
    // 200 deterministic points: spread 3u along axis 0, 1u along axis 2
    // (axis 1, 3 silent) — top component must align with axis 0 and the
    // eigenvalue ratio must be ~9
    val pts = (0 until 200).map { i =>
      val u = (i % 21).toDouble / 10.0 - 1.0 // [-1, 1]
      val w = ((i * 7) % 21).toDouble / 10.0 - 1.0
      Seq((3 * u).toFloat, 0f, w.toFloat, 0f)
    }.toDF("embedding")
    GraftFunctions.ensureRegistered(spark)
    val blob = pts.agg(org.apache.spark.sql.functions.expr("cov_accum_agg(embedding, 4)"))
      .head().getAs[Array[Byte]](0)
    val (vals, vecs) = CovUtil.jacobiEigen(
      CovUtil.covariance(CovUtil.fromBytes(blob)))
    // u and w are weakly correlated by construction (both derived from
    // i), so the top axis tilts a hair off e0 — 0.99 is the honest bound
    assert(math.abs(vecs(0)(0)) > 0.99, s"top component: ${vecs(0).toSeq}")
    assert(vals(0) / vals(1) > 6.0 && vals(0) / vals(1) < 12.0,
      s"eigenvalue ratio: ${vals.toSeq}")
    assert(vals(2) < 1e-9 && vals(3) < 1e-9, s"silent axes: ${vals.toSeq}")
    // projection: per-axis variance of the projected coordinates must
    // equal the eigenvalues (the defining property of PCA axes)
    val withIds = (0 until 200).map { i =>
      val u = (i % 21).toDouble / 10.0 - 1.0
      val w = ((i * 7) % 21).toDouble / 10.0 - 1.0
      (i.toLong, Seq((3 * u).toFloat, 0f, w.toFloat, 0f))
    }.toDF("vec_id", "embedding")
    val proj = Similarity.pcaProject(withIds, dims = 4, k = 2)
      .collect().map(_.getSeq[Double](1))
    (0 until 2).foreach { c =>
      val xs = proj.map(_(c))
      val m = xs.sum / xs.length
      val variance = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(math.abs(variance - vals(c)) < 1e-9 * math.max(vals(0), 1.0),
        s"pc$c variance $variance vs eigenvalue ${vals(c)}")
      assert(math.abs(m) < 1e-9, s"projected coordinates must be centered: $m")
    }
    // the oracle-gated row: every certificate true on the real corpus
    val rows = Similarity.qsPca(spark, sfTiny).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      (1 to 5).foreach(i => assert(r.getBoolean(i), s"certificate $i false: $r"))
      assert(r.getDouble(6) > 0.0, s"trace must be positive: $r")
    }
  }

  test("semanticDedup on the real corpus at a high threshold removes ONLY planted clones") {
    val out = Similarity.qsSemanticDedup(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val minId = out.keys.min
    out.foreach { case (id, kept) =>
      val planted = id % 17 == 5 && id - 3 >= minId
      assert(kept == !planted, s"vec $id: kept=$kept planted=$planted")
    }
    assert(out.count(!_._2) > 0, "no clones planted — the check is vacuous")
  }
}
