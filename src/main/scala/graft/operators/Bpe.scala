package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Tables => T}

/** Distributed BPE vocabulary learning — tokenizer training as a
  * Spark program (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units" — public knowledge).
  *
  * Classic BPE trains on the word-frequency table, not the corpus:
  * count adjacent symbol pairs weighted by word frequency, merge the
  * most frequent pair everywhere, repeat. That structure is exactly
  * what makes it scale — the ONLY corpus-sized pass is the word count
  * (one map-side-combine aggregate); every iteration after that runs
  * on the vocabulary, which is orders of magnitude smaller than the
  * corpus at any SF (and at 100 TB the ratio only improves: Heaps' law
  * vocabulary growth is sublinear in corpus size).
  *
  * Two design points keep it engine-portable and collect-free:
  *
  *  - **Merges are plain string `replace`, not array folds.** Words are
  *    represented with DOUBLED-space separators (`"␣␣l␣␣o␣␣w␣␣"`); the
  *    pattern `"␣x␣␣y␣"` can then only match a whole adjacent symbol
  *    pair (symbols contain no spaces, and a longer symbol breaks the
  *    leading-space requirement), while consuming only ONE space of
  *    each boundary pair — so left-to-right non-overlapping `replace`
  *    (the semantics both Spark and DuckDB give) implements BPE's
  *    left-to-right merge INCLUDING back-to-back occurrences
  *    (`x y x y` → `xy xy`) and the overlap rule (`y y y` → `yy y`),
  *    and the replacement `"␣xy␣"` restores the doubled-space
  *    invariant. No higher-order-function fold whose accumulator
  *    semantics DuckDB can't mirror.
  *  - **Best-pair selection never touches the driver.** `orderBy +
  *    limit(1)` plans as TakeOrderedAndProject (per-partition heaps),
  *    and the winning row flows into the next iteration as a broadcast
  *    cross join — the qg_pagerank discipline.
  *
  * A fixed `steps` pins the plan shape the way qg_pagerank's 3
  * iterations do; a production trainer doing ~30k merges would add
  * incremental pair-count deltas per merge instead of recounting
  * (Sennrich's own optimization), which changes the constant, not the
  * distribution strategy. Lineage grows linearly in `steps` and each
  * step's input is vocabulary-sized, so no per-round cuts are needed
  * at this depth (the `require` bounds it).
  */
object Bpe {

  /** Learn `steps` BPE merges from the corpus word-frequency table.
    * Returns one row per merge step: (step, p1, p2, new_sym, cnt) —
    * the merged pair, its concatenation, and its weighted count at
    * selection time. Ties break lexicographically on the pair. */
  def learnMerges(docs: DataFrame, steps: Int = 3): DataFrame = {
    require(steps >= 1 && steps <= 16, s"steps out of range: $steps")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // bpe_expand ≡ regexp_replace(w, "(.)", "$1  ") bit-for-bit
      // (FunctionsSpec pins it) — a byte loop instead of a regex-engine
      // pass per token; the DuckDB oracle keeps the regexp form, so the
      // hash gate doubles as the cross-engine equivalence proof
      .select(concat(lit("  "), call_function("bpe_expand", col("w"))).as("r"),
        col("freq"))
    var cur = words
    var merges = Vector.empty[DataFrame]
    for (step <- 1 to steps) {
      val pairs = cur
        .select(expr("trim(replace(r, '  ', ' '))").as("s"), col("freq"))
        .filter(size(split(col("s"), " ")) >= 2)
        .select(explode(call_function("word_shingles", col("s"), lit(2))).as("bg"),
          col("freq"))
        .groupBy("bg").agg(sum("freq").as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("bg")).limit(1)
      merges = merges :+ best.select(lit(step).as("step"),
        substring_index(col("bg"), " ", 1).as("p1"),
        substring_index(col("bg"), " ", -1).as("p2"),
        expr("replace(bg, ' ', '')").as("new_sym"),
        col("cnt"))
      // cut lineage per iteration: without this, step k's plan replays
      // every previous step's pair count + merge (O(steps²) recompute —
      // and the emitted best-rows would each replay their own chains
      // too); with it, each step starts from materialized words
      cur = Dedup.cutLineage(
        cur.crossJoin(broadcast(best))
          .select(expr(
            "replace(r, ' ' || substring_index(bg, ' ', 1) || '  ' || " +
              "substring_index(bg, ' ', -1) || ' ', " +
              "' ' || replace(bg, ' ', '') || ' ')").as("r"),
            col("freq")),
        eager = false)
    }
    merges.reduce(_ unionByName _).orderBy("step")
  }

  /** QT10 — [[learnMerges]] over `documents`, 3 steps. */
  def qtBpeMerges(spark: SparkSession, d: String): DataFrame =
    learnMerges(T.documents(spark, d))

  /** [[learnMerges]] with Sennrich's incremental pair-delta
    * optimization — the production trainer (the recount form's own
    * docstring names this as what a ~30k-merge vocabulary needs, and
    * its `steps <= 16` cap exists because it re-explodes EVERY word's
    * pairs every iteration).
    *
    * The invariant: after merging pair P, only words CONTAINING P have
    * different pair multisets — so each iteration (1) splits the
    * vocabulary by a scan-side `contains` on the doubled-space match
    * pattern (no shuffle), (2) re-explodes pairs for the AFFECTED
    * words only, twice (pre-merge weighted −freq, post-merge +freq) —
    * robust against every overlap/run edge case because it diffs whole
    * words rather than reasoning about local contexts, (3) folds the
    * delta into the persistent pair-count table with one
    * counts-table-sized aggregate (map-side combinable longs, no
    * string explode), dropping rows that reach zero. Per-iteration
    * cost is O(affected words + pair table) instead of O(total
    * vocabulary pairs); as merges get rarer the affected set shrinks,
    * which is exactly the regime deep trainings live in.
    *
    * Best-pair selection, tie rule, and the whole-symbol-safe replace
    * are IDENTICAL to the recount form — BpeSpec pins
    * `learnMergesDelta(n) ≡ learnMerges(n)` row-for-row on the real
    * corpus (counts are exact integers, so equality is exact). Each
    * round eagerly checkpoints the 1-row best (so the words/counts
    * updates and the emitted merge row share one evaluation) and
    * lazily cuts words/counts lineage; plan depth stays O(1) per
    * round. */
  def learnMergesDelta(docs: DataFrame, steps: Int,
                       verbose: Boolean = false): DataFrame = {
    require(steps >= 1 && steps <= 65536, s"steps out of range: $steps")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val pairsOf = (src: DataFrame, sign: Int) => src
      .select(expr("trim(replace(r, '  ', ' '))").as("s"), col("freq"))
      .filter(size(split(col("s"), " ")) >= 2)
      .select(explode(call_function("word_shingles", col("s"), lit(2))).as("bg"),
        (col("freq") * sign).as("w"))
    var words = Dedup.cutLineage(docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(lit("  "), call_function("bpe_expand", col("w"))).as("r"),
        col("freq")), eager = true)
    var counts = Dedup.cutLineage(
      pairsOf(words, 1).groupBy("bg").agg(sum("w").as("cnt")), eager = true)
    var merges = Vector.empty[DataFrame]
    for (step <- 1 to steps) {
      val t0 = System.nanoTime()
      val best = Dedup.cutLineage(
        counts.filter(col("cnt") > 0).orderBy(col("cnt").desc, col("bg")).limit(1),
        eager = true)
      val tBest = System.nanoTime()
      merges = merges :+ best.select(lit(step).as("step"),
        substring_index(col("bg"), " ", 1).as("p1"),
        substring_index(col("bg"), " ", -1).as("p2"),
        expr("replace(bg, ' ', '')").as("new_sym"),
        col("cnt"))
      // scan-side split on the doubled-space match pattern; the merge
      // replace below uses the same pattern, so affected is exactly the
      // set of words the replace changes
      val withBest = words.crossJoin(broadcast(best))
      val affected = withBest.filter(expr("contains(r, " +
        "' ' || substring_index(bg, ' ', 1) || '  ' || substring_index(bg, ' ', -1) || ' ')"))
        .select(col("r"), col("freq"), col("bg"))
      val unaffected = withBest.filter(!expr("contains(r, " +
        "' ' || substring_index(bg, ' ', 1) || '  ' || substring_index(bg, ' ', -1) || ' ')"))
        .select("r", "freq")
      val mergedAffected = affected
        .select(expr(
          "replace(r, ' ' || substring_index(bg, ' ', 1) || '  ' || " +
            "substring_index(bg, ' ', -1) || ' ', " +
            "' ' || replace(bg, ' ', '') || ' ')").as("r"),
          col("freq"))
      // whole-word diff: −freq over the pre-merge pairs, +freq over the
      // post-merge pairs, folded into the running count table
      val delta = pairsOf(affected.select("r", "freq"), -1)
        .unionByName(pairsOf(mergedAffected, 1))
      // Two measured traps live in these cuts (PERF.md, "BPE delta
      // trainer: two measured pathologies found and fixed"):
      //  - they must be EAGER: with lazy cuts the two consumers of each
      //    round's words/counts race-recompute through the
      //    un-materialized chain — exponential wall (766 s at 16 steps);
      //  - words needs a narrow COALESCE first: union sums its
      //    children's partition counts and carries no exchange for AQE
      //    to coalesce, so the checkpointed words table would otherwise
      //    DOUBLE its partitions every round (the smoking gun was a
      //    stage scheduling 2^k near-empty tasks by step 16).
      counts = Dedup.cutLineage(
        counts.select(col("bg"), col("cnt").as("w"))
          .unionByName(delta)
          .groupBy("bg").agg(sum("w").as("cnt"))
          .filter(col("cnt") =!= 0), eager = true)
      val tCounts = System.nanoTime()
      words = Dedup.cutLineage(
        unaffected.unionByName(mergedAffected)
          .coalesce(docs.sparkSession.sparkContext.defaultParallelism),
        eager = true)
      if (verbose) println(f"[bpe-delta] step=$step " +
        f"best=${(tBest - t0) / 1e9}%.2fs counts=${(tCounts - tBest) / 1e9}%.2fs " +
        f"words=${(System.nanoTime() - tCounts) / 1e9}%.2fs " +
        s"wordsParts=${words.rdd.getNumPartitions} " +
        s"countsRows=${counts.count()}")
    }
    merges.reduce(_ unionByName _).orderBy("step")
  }

  /** The encode half of the tokenizer: apply `steps` learned merges
    * IN TRAINING ORDER to every token of every document (the
    * production tokenization pass) and report per-doc subword counts
    * and the chars-per-subword compression the vocabulary bought.
    *
    * The merge list arrives as `steps` broadcast 1-row cross joins
    * (still collect-free), and each merge is the same
    * whole-symbol-safe `replace` as training, nested left-to-right —
    * so encode is pure scan-side string work: the corpus streams
    * through one projection, no shuffle until the per-doc aggregate.
    * At 100 TB that is the only acceptable shape for a pass that
    * touches every byte. */
  def encode(docs: DataFrame, steps: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // materialize the steps-row merge table ONCE before fanning out into
    // per-step broadcast frames: without the cut, each step's filter
    // re-executes the whole training chain (incl. its lazy cutLineage
    // materializations) — measured as the dominant share of the
    // BENCH_r09 qt_bpe_encode regression (3.4 → 13.5 s in-pack)
    val merges = Dedup.cutLineage(learnMerges(docs, steps), eager = true)
    // one 1-row frame per step, fields renamed so the cross joins stack
    val bests = (1 to steps).map { i =>
      broadcast(merges.filter(col("step") === i)
        .select(col("p1").as(s"p1_$i"), col("p2").as(s"p2_$i"),
          col("new_sym").as(s"ns_$i")))
    }
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
    val withMerges = bests.foldLeft(
      tok.withColumn("r", concat(lit("  "), call_function("bpe_expand", col("w")))))(
      _ crossJoin _)
    val encoded = (1 to steps).foldLeft(withMerges) { (df, i) =>
      df.withColumn("r", expr(
        s"replace(r, ' ' || p1_$i || '  ' || p2_$i || ' ', ' ' || ns_$i || ' ')"))
    }
    encoded
      .select(col("doc_id"), length(col("w")).cast("long").as("n_chars"),
        size(split(expr("trim(replace(r, '  ', ' '))"), " ")).cast("long").as("n_sub"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("n_chars").as("n_chars"),
        sum("n_sub").as("n_subwords"))
      .withColumn("chars_per_subword",
        round(col("n_chars").cast("double") / col("n_subwords"), 6))
      .orderBy("doc_id")
  }

  /** QT11 — [[encode]] over `documents` with the 3 merges of
    * [[qtBpeMerges]]. */
  def qtBpeEncode(spark: SparkSession, d: String): DataFrame =
    encode(graft.sources.Tables.fanOut(
      T.documents(spark, d).select("doc_id", "text")))

  /** Persist a learned merge table — the tokenizer ARTIFACT (the
    * stored-ANN-index pattern applied to the lexical tokenizer: train
    * once per corpus snapshot, encode forever from the artifact). */
  def saveVocab(merges: DataFrame, dir: String): Unit =
    merges.orderBy("step").coalesce(1).write.mode("overwrite").parquet(dir)

  def loadVocab(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** PRODUCTION encode: apply a learned merge table of ANY depth via
    * the native `bpe_apply` expression — the vocabulary ships once as
    * two plan literals (the PQ-codebook pattern) and each token is
    * encoded by the rank-map algorithm (O(len²) per token, independent
    * of merge count), provably equivalent to the nested-replace
    * in-order form [[encode]] uses for its 3-step oracle row (a merge
    * can never create a pair of lower rank, so lowest-rank-first ≡
    * in-training-order; BpeSpec pins the equivalence on the real
    * corpus). Scan-side only — the corpus streams once, no shuffle
    * before the per-doc aggregate; same output schema as [[encode]]. */
  def encodeWith(docs: DataFrame, merges: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    // vocab-sized driver pull, in training order — the artifact is
    // bounded by merge depth, never by the corpus
    val m = merges.orderBy("step").select("p1", "p2").collect()
    val p1s = m.map(_.getString(0))
    val p2s = m.map(_.getString(1))
    docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      .select(col("doc_id"), length(col("w")).cast("long").as("n_chars"),
        size(call_function("bpe_apply", col("w"),
          typedlit(p1s.toSeq), typedlit(p2s.toSeq))).cast("long").as("n_sub"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("n_chars").as("n_chars"),
        sum("n_sub").as("n_subwords"))
      .withColumn("chars_per_subword",
        round(col("n_chars").cast("double") / col("n_subwords"), 6))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qt_bpe_merges" -> qtBpeMerges _,
    "qt_bpe_encode" -> qtBpeEncode _)

  /** One unrolled iteration: pair extraction (the qt_pmi slice idiom),
    * weighted counts, deterministic best, and — unless this is the
    * last step — the merged word table for the next iteration. */
  private def iter(i: Int, last: Boolean): String =
    s"l$i AS (SELECT string_split(trim(replace(r, '  ', ' ')), ' ') AS l, freq " +
      s"FROM w${i - 1}), " +
      s"b$i AS (SELECT l, freq, unnest(range(1, len(l)))::BIGINT AS i FROM l$i " +
      s"WHERE len(l) >= 2), " +
      s"pc$i AS (SELECT array_to_string(l[i : i+1], ' ') AS bg, " +
      s"CAST(SUM(freq) AS BIGINT) AS cnt FROM b$i GROUP BY bg), " +
      s"best$i AS (SELECT bg, cnt FROM pc$i ORDER BY cnt DESC, bg LIMIT 1)" +
      (if (last) " " else
        s", w$i AS (SELECT replace(r, ' ' || split_part(bg, ' ', 1) || '  ' || " +
          s"split_part(bg, ' ', 2) || ' ', ' ' || replace(bg, ' ', '') || ' ') AS r, " +
          s"freq FROM w${i - 1} CROSS JOIN best$i), ")

  private def sel(i: Int): String =
    s"SELECT $i AS step, split_part(bg, ' ', 1) AS p1, " +
      s"split_part(bg, ' ', 2) AS p2, replace(bg, ' ', '') AS new_sym, cnt " +
      s"FROM best$i"

  val oracles: Map[String, String] = Map(
    // same word-frequency table, same doubled-space representation,
    // same replace-based merge, 3 iterations unrolled as CTEs (the
    // qg_pagerank device); ties break identically on (cnt DESC, bg)
    "qt_bpe_merges" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w), " +
        "w0 AS (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS r, freq FROM wf), " +
        iter(1, last = false) + iter(2, last = false) + iter(3, last = true) +
        sel(1) + " UNION ALL " + sel(2) + " UNION ALL " + sel(3) +
        " ORDER BY step"),
    // identical training CTEs to rebuild the 3 merges, then the same
    // nested whole-symbol replaces applied to every token
    "qt_bpe_encode" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, COUNT(*) AS freq FROM tok WHERE w <> '' GROUP BY w), " +
        "w0 AS (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS r, freq FROM wf), " +
        iter(1, last = false) + iter(2, last = false) + iter(3, last = true) + ", " +
        (1 to 3).map(i => s"m$i AS (SELECT split_part(bg, ' ', 1) AS pa$i, " +
          s"split_part(bg, ' ', 2) AS pb$i, replace(bg, ' ', '') AS ns$i " +
          s"FROM best$i)").mkString(", ") + ", " +
        "t2 AS (SELECT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''), " +
        "enc AS (SELECT doc_id, w, " +
        "replace(replace(replace('  ' || regexp_replace(w, '(.)', '\\1  ', 'g'), " +
        "' ' || pa1 || '  ' || pb1 || ' ', ' ' || ns1 || ' '), " +
        "' ' || pa2 || '  ' || pb2 || ' ', ' ' || ns2 || ' '), " +
        "' ' || pa3 || '  ' || pb3 || ' ', ' ' || ns3 || ' ') AS r " +
        "FROM t2 CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3), " +
        "a AS (SELECT doc_id, COUNT(*) AS n_toks, " +
        "CAST(SUM(length(w)) AS BIGINT) AS n_chars, " +
        "CAST(SUM(len(string_split(trim(replace(r, '  ', ' ')), ' '))) AS BIGINT) " +
        "AS n_subwords FROM enc GROUP BY doc_id) " +
        "SELECT doc_id, n_toks, n_chars, n_subwords, " +
        "ROUND(CAST(n_chars AS DOUBLE) / n_subwords, 6) AS chars_per_subword " +
        "FROM a ORDER BY doc_id"))
}
