package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored BM25 text index — the retrieval artifact lifecycle
  * (build once per corpus snapshot → persist → load → serve), the
  * lexical twin of the stored ANN index
  * ([[Similarity.buildPqIndex]]/[[Similarity.loadPqIndex]]): a search
  * layer does not re-scan 100 TB of text per query; it scans an
  * inverted index pruned to the query's terms.
  *
  * The artifact is three parquet tables:
  *  - `postings/` — (token, doc_id, tf, dl): one row per distinct
  *    (token, document) pair, with the document length denormalized in
  *    (BM25's length normalization needs it per match row; carrying it
  *    here trades ~8 bytes/posting for a corpus-sized join at serve
  *    time). Written SORTED by token into row-group-sized blocks, so a
  *    term lookup prunes to the row groups whose [min,max] token range
  *    covers it — the parquet-native analogue of a postings seek.
  *  - `df/` — (token, df): document frequencies (vocabulary-sized).
  *  - `stats/` — one (n_docs, sum_dl) row.
  *
  * Serving reuses [[TextAnalysis.bm25Score]] — the SAME scoring tail as
  * the corpus-scan path ([[TextAnalysis.bm25QueryTable]]), so
  * served results are bit-equal to a fresh corpus scan by
  * construction: identical expression text, identical integer
  * micro-unit sums, identical rank comparisons (TextIndexSpec pins the
  * equality on the real workload; the `qt_bm25_served` oracle row runs
  * the FULL lifecycle under the driver's hash gate against the
  * corpus-recomputing DuckDB mirror).
  *
  * Scale shape: build is the corpus-sized pass (explode → two
  * aggregates, the qt_bm25_multi shape minus the query filter); serve
  * touches only `postings` rows whose token is in the query — the
  * `isin` predicate reaches the parquet scan (`PushedFilters: In`),
  * so row-group pruning on the token-sorted layout does the seeking.
  * `df`/`stats` are broadcast-sized after [[TextAnalysis.bm25Score]]'s
  * own query-term semi-join.
  */
object TextIndex {

  /** One corpus pass → the three artifact frames (postings, df, stats).
    * Tokenization matches [[TextAnalysis.bm25QueryTable]] exactly:
    * whitespace split, empty tokens dropped from matches, `dl` = raw
    * whitespace token count. Postings are POSITIONAL: each (token, doc)
    * row carries the sorted array of 0-based token positions — the
    * standard inverted-index extension that makes phrase/proximity
    * queries servable from the index alone (one int per occurrence,
    * the textbook positional-postings cost; tf = positions length by
    * construction, kept denormalized for the scoring path). */
  def build(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val postings = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .join(dl, "doc_id")
      .select("token", "doc_id", "tf", "dl", "positions")
    val df = postings.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    (postings, df, stats)
  }

  /** Persist the artifact. Postings are sorted by (token, doc_id) into
    * small row groups ([[graft.sources.FileFormats.writeRowGrouped]]'s
    * idea applied to the postings list), so term lookups prune below
    * file level. */
  def save(docs: DataFrame, dir: String, rowGroupBytes: Long = 1L << 20): Unit = {
    val (postings, df, stats) = build(docs)
    // range-cluster by token so each FILE owns a token range (parallel
    // writers at any corpus size) and each row group within it a
    // sub-range — both pruning levels work for a term seek
    postings.repartitionByRange(col("token"), col("doc_id"))
      .sortWithinPartitions("token", "doc_id")
      .write.option("parquet.block.size", rowGroupBytes)
      .mode("overwrite").parquet(s"$dir/postings")
    df.write.mode("overwrite").parquet(s"$dir/df")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** The loaded artifact (plain frames over the stored tables). */
  final case class Handle(postings: DataFrame, df: DataFrame, stats: DataFrame)

  def load(spark: SparkSession, dir: String): Handle = Handle(
    graft.sources.Tables.parquet(spark, s"$dir/postings"),
    graft.sources.Tables.parquet(spark, s"$dir/df"),
    graft.sources.Tables.parquet(spark, s"$dir/stats"))

  /** Score a (query_id, term) workload from the stored index — no
    * corpus access. `terms` are collected driver-side (bounded by the
    * workload, not the corpus) so the postings filter is a foldable
    * `isin` that parquet row-group pruning can use. */
  def serve(handle: Handle, queryTerms: DataFrame, topN: Int): DataFrame = {
    val q = queryTerms
      .select(col("query_id").cast("long"), col("term")).distinct()
    val terms = q.select("term").distinct().collect().map(_.getString(0))
    val hits = handle.postings.filter(col("token").isin(terms.toSeq: _*))
    TextAnalysis.bm25Score(hits, handle.df, handle.stats, q, topN)
  }

  /** QT-BM25-SERVED — the FULL lifecycle under the oracle gate: build →
    * save → load → serve the [[TextAnalysis.Bm25MultiWorkload]], in a
    * session-scoped temp dir. The oracle recomputes from the corpus
    * (same SQL as qt_bm25_multi), so the hash match proves the stored
    * artifact round-trip loses nothing. */
  /** Deterministic per-scale-dir artifact path (save() overwrites each
    * component) — repeated verify/bench runs REUSE the slot instead of
    * leaking a fresh postings/df/stats tree to /tmp per invocation. */
  /** One stored-index artifact slot per (JVM, scale dir): a real temp
    * dir (unique per process — concurrent verify/bench runs on one
    * machine can never overwrite each other's live index, and distinct
    * scale dirs can never collide the way a String.hashCode slot
    * could), reused across invocations within the process (repeated
    * runs exercise overwrite, and /tmp doesn't grow per run), removed
    * by a shutdown hook (no leak at exit). */
  private val artifactDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def artifactDir(d: String): String = {
    val key = java.nio.file.Paths.get(d).toAbsolutePath.toString
    artifactDirs.computeIfAbsent(key, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-textindex-")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(tmp.toFile)
      }))
      tmp.toString
    })
  }

  def qtBm25Served(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = artifactDir(d)
    save(graft.sources.Tables.documents(spark, d), dir)
    serve(load(spark, dir),
      TextAnalysis.Bm25MultiWorkload.toDF("query_id", "term"), topN = 10)
  }

  /** PHRASE query from the stored index — no corpus access: the pruned
    * positional postings alone decide where `phrase` occurs as
    * CONSECUTIVE tokens. Each (term, offset-in-phrase) pair maps a
    * stored position p to a candidate phrase START p − offset; a start
    * covered by ALL |phrase| offsets is a match (overlapping matches
    * and repeated phrase terms fall out of the same arithmetic — a
    * repeated term simply contributes several offsets). Scale shape:
    * the postings scan carries the same pushed `In(token)` filter as
    * BM25 serving (row-group pruning on the token-clustered layout);
    * the offsets frame is |phrase|-sized and broadcast; everything
    * after the explode is a hash aggregate on (doc, start). Returns
    * one row per matching doc: (doc_id, n_matches, first_pos),
    * doc-ordered. */
  def servePhrase(handle: Handle, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "textindex: empty phrase")
    val n = phrase.length
    val spark = handle.postings.sparkSession
    import spark.implicits._
    val offs = phrase.zipWithIndex.toDF("token", "off")
    handle.postings
      .filter(col("token").isin(phrase.distinct: _*))
      .select(col("token"), col("doc_id"), col("positions"))
      .join(broadcast(offs), "token")
      .select(col("doc_id"), col("off"),
        explode(col("positions")).as("pos"))
      .select(col("doc_id"),
        (col("pos").cast("long") - col("off")).as("start"), col("off"))
      .groupBy("doc_id", "start")
      .agg(countDistinct("off").as("cov"))
      .filter(col("cov") === n && col("start") >= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
      .orderBy("doc_id")
  }

  /** QT-PHRASE-SERVED — the positional lifecycle under the oracle gate:
    * build → save → load → phrase-serve, against a DuckDB mirror that
    * re-derives every occurrence from the raw text by position
    * self-joins. The hash match proves the stored position arrays
    * round-trip exactly and the adjacency arithmetic finds precisely
    * the consecutive occurrences. */
  def qtPhraseServed(spark: SparkSession, d: String): DataFrame = {
    val dir = artifactDir(d)
    save(graft.sources.Tables.documents(spark, d), dir)
    servePhrase(load(spark, dir), PhraseWorkload)
  }

  /** The declared phrase (3 terms, present at every test SF). */
  val PhraseWorkload: Seq[String] = Seq("value", "table", "part")

  // ---------------------------------------------------------------------
  // Versioned index + incremental maintenance (the production shape: you
  // never re-index 100 TB because 1 GB of new documents arrived)
  // ---------------------------------------------------------------------

  import graft.sources.TxLog

  private def pPath(table: String) = s"$table/postings"
  private def dPath(table: String) = s"$table/df"
  private def sPath(table: String) = s"$table/stats"

  /** Initialize a VERSIONED index: the three artifact tables live as
    * [[graft.sources.TxLog]] tables advancing in LOCKSTEP — every
    * maintenance operation commits exactly once to each, so "the index
    * at version V" pins all three consistently (reproducible retrieval
    * is index lineage, exactly as TxLog data versions are corpus
    * lineage). Returns the committed version (0). */
  def saveVersioned(docs: DataFrame, table: String): Long = {
    val spark = docs.sparkSession
    val (postings, df, stats) = build(docs)
    val v = TxLog.append(spark, pPath(table),
      postings.repartitionByRange(col("token"), col("doc_id"))
        .sortWithinPartitions("token", "doc_id"))
    TxLog.append(spark, dPath(table), df)
    TxLog.append(spark, sPath(table), stats)
    v
  }

  /** Fold NEW documents into a stored index without touching the
    * already-indexed corpus — valid for the APPEND-ONLY contract the
    * TxLog change feed serves (document ids never revised; a revised
    * doc is a new id after scrub/dedup):
    *  - postings: the delta docs' postings are APPENDED (disjoint doc
    *    ids ⇒ disjoint rows) — delta-sized work;
    *  - df: vocabulary-sized merge of old + delta counts, landed as
    *    one copy-on-write overwrite — never corpus-sized;
    *  - stats: one-row sum, same landing.
    * A doc id already present in the index fails LOUDLY before any
    * commit (double-counting df/stats would silently corrupt every
    * score; at 100 TB the exact distinct-id anti check below is the
    * maintenance-time cost — the stored-bloom two-tier split is the
    * documented refinement if it ever dominates). A caller that has
    * ALREADY verified disjointness (e.g.
    * [[graft.streaming.StreamingIndex]], which needs the overlap itself
    * for replay detection) passes `idsPrechecked = true` to skip the
    * second index-wide scan. Returns the new lockstep version. */
  def appendDelta(spark: SparkSession, table: String, newDocs: DataFrame,
                  idsPrechecked: Boolean = false): Long = {
    val (dp, dd, ds) = build(newDocs)
    if (!idsPrechecked) {
      val existing = TxLog.read(spark, pPath(table)).select("doc_id").distinct()
      val dup = dp.select("doc_id").distinct()
        .join(existing, Seq("doc_id"), "left_semi").limit(1).collect()
      require(dup.isEmpty,
        s"textindex: doc_id ${dup.headOption.map(_.getLong(0))} is already " +
          "indexed — appendDelta is append-only (revised docs need a new id)")
    }
    val oldDf = TxLog.read(spark, dPath(table))
    val mergedDf = oldDf.unionByName(dd)
      .groupBy("token").agg(sum("df").as("df"))
    val oldStats = TxLog.read(spark, sPath(table))
    val mergedStats = oldStats.unionByName(ds)
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    val v = TxLog.append(spark, pPath(table),
      dp.repartitionByRange(col("token"), col("doc_id"))
        .sortWithinPartitions("token", "doc_id"))
    TxLog.overwrite(spark, dPath(table), mergedDf)
    TxLog.overwrite(spark, sPath(table), mergedStats)
    v
  }

  /** Load a versioned index, optionally PINNED to version `asOf` —
    * "retrieve with the index as it stood at corpus snapshot V". The
    * lockstep invariant (all three tables at the same latest version)
    * is asserted loudly. */
  def loadVersioned(spark: SparkSession, table: String,
                    asOf: Option[Long] = None): Handle = {
    val vs = Seq(pPath(table), dPath(table), sPath(table))
      .map(t => TxLog.versions(spark, t).lastOption.getOrElse(-1L))
    require(vs.distinct.size == 1,
      s"textindex: component tables out of lockstep (versions $vs) — " +
        "a maintenance operation was interrupted mid-commit; rebuild")
    Handle(
      TxLog.read(spark, pPath(table), asOf),
      TxLog.read(spark, dPath(table), asOf),
      TxLog.read(spark, sPath(table), asOf))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qt_bm25_served" -> qtBm25Served _,
    "qt_phrase_served" -> qtPhraseServed _)

  /** qt_bm25_served: same oracle as qt_bm25_multi — the serve path must
    * reproduce the corpus-scan ranking exactly. qt_phrase_served: the
    * mirror re-finds every occurrence from raw text via position
    * self-joins (0-based positions = generate_subscripts − 1, matching
    * posexplode). */
  val oracles: Map[String, String] = Map(
    "qt_bm25_served" -> TextAnalysis.oracles("qt_bm25_multi"),
    "qt_phrase_served" -> {
      val ws = PhraseWorkload
      val joins = (1 until ws.length).map { j =>
        s"JOIN toks t$j ON t$j.doc_id = t0.doc_id AND " +
          s"t$j.pos = t0.pos + $j AND t$j.tok = '${ws(j)}' "
      }.mkString
      "WITH toks AS MATERIALIZED (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS tok, " +
        "generate_subscripts(string_split(text, ' '), 1) - 1 AS pos " +
        "FROM documents), " +
        s"m AS (SELECT t0.doc_id, t0.pos AS start FROM toks t0 $joins" +
        s"WHERE t0.tok = '${ws.head}') " +
        "SELECT doc_id, COUNT(*) AS n_matches, " +
        "CAST(MIN(start) AS BIGINT) AS first_pos " +
        "FROM m GROUP BY doc_id ORDER BY doc_id"
    })
}
