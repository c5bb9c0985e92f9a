package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Link-graph analysis: iterative PageRank as plain DataFrame aggregates.
  *
  * PageRank is the canonical "beyond wordcount" MapReduce program (each
  * iteration IS a map + shuffle + reduce: contributions flow along edges,
  * sum per target — the reference's O3/O4/O8 loop; `mapreduce.c:64-154`
  * generalized), and in an LLM-data pipeline it is a corpus-curation
  * signal: link centrality over a page/citation graph is a classic
  * quality prior for crawl filtering.
  *
  * Scale shape per iteration: one equi-join of the edge list with the
  * current scores (both partitioned by src — AQE picks the join), one
  * shuffle to sum contributions per dst, one left join back to the node
  * set. State between iterations is one (node, score) row per node with
  * lineage cut per round via [[Dedup.cutLineage]] (reliable checkpoints
  * when a checkpoint dir is configured, lazy local cuts otherwise — the
  * dupClusters discipline; a fixed iteration count needs no per-round
  * convergence job at all, so the cuts materialize inside the next
  * round's own action). The only driver-side value is one scalar (the
  * node count).
  *
  * Dangling-node mass: by default (oracle-mirrored) nodes without
  * out-edges absorb rank — fine for scoring/ranking uses. With
  * `redistributeDangling = true` their mass is spread uniformly each
  * round (the probabilistic model; total mass stays 1). The dangling
  * sum is a 1-row aggregate broadcast back into the round — never a
  * driver collect — so the scale shape is unchanged.
  */
object Graph {

  /** `edges`: (src: bigint, dst: bigint), multi-edges count once per
    * occurrence. Returns (node, score) after `iterations` rounds of
    * score = (1-d)/n + d * (Σ_{in-edges} score(src)/outdeg(src)
    *                        [+ danglingMass/n when redistributing]). */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // materialize the WEIGHTED edge list once (src, dst, outdeg): every
    // iteration joins against it, and folding the out-degree in up front
    // saves one aggregate + one join per round
    val weighted = Dedup.cutLineage(
      e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"),
      eager = true)
    val nodes = Dedup.cutLineage(
      weighted.select(col("src").as("node"))
        .union(weighted.select(col("dst").as("node")))
        .distinct(), eager = true)
    val n = nodes.count() // bounded driver scalar: one long
    // the dangling set (no out-edges) is fixed across rounds: derive once
    val dangling =
      if (redistributeDangling)
        Dedup.cutLineage(
          nodes.join(weighted.select(col("src").as("node")).distinct(),
            Seq("node"), "left_anti"), eager = true)
      else null
    var scores = nodes.withColumn("score", lit(1.0) / n)
    for (_ <- 1 to iterations) {
      val contribs = weighted
        .join(scores.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("score") / col("outdeg")).as("c"))
      val joined = nodes.join(contribs, Seq("node"), "left")
      val next =
        if (redistributeDangling) {
          // dangling mass this round: a 1-row aggregate, broadcast back —
          // stays distributed, no driver-side value
          val dm = scores.join(dangling, "node")
            .agg(coalesce(sum("score"), lit(0.0)).as("dm"))
          joined.crossJoin(broadcast(dm))
            .select(col("node"),
              (lit(1.0 - damping) / n + lit(damping) *
                (coalesce(col("c"), lit(0.0)) + col("dm") / n)).as("score"))
        } else
          joined.select(col("node"),
            (lit(1.0 - damping) / n + lit(damping) * coalesce(col("c"), lit(0.0)))
              .as("score"))
      scores = Dedup.cutLineage(next, eager = false)
    }
    scores
  }

  /** QG — PageRank over a deterministic synthetic link graph derived
    * from `orders` (src = customer, dst = a hashed order target), 3
    * iterations, scores rounded at 1e-6 (double contribution sums drift
    * only in the last ulps, so 1e-6 leaves ~9 orders of magnitude of
    * headroom — aligned with the other float queries; the oracle unrolls
    * the same 3 iterations as nested CTEs and rounds identically). */
  def qgPageRank(spark: SparkSession, d: String): DataFrame =
    pageRank(
      Tables.orders(spark, d)
        .select(col("o_custkey").as("src"),
          ((col("o_orderkey") * 7) % 1500 + 1).as("dst")),
      iterations = 3)
      .select(col("node"), round(col("score"), 6).as("score"))
      .orderBy("node")

  /** QG-TRI — triangle count + global clustering coefficient over an
    * undirected graph, via the degree-ordered orientation (Suri &
    * Vassilvitskii 2011, "Counting Triangles and the Curse of the Last
    * Reducer" — public knowledge): orient every edge from its
    * (degree, id)-smaller endpoint to the larger, so every wedge is
    * generated at its LOWEST-degree vertex. A degree-d hub then owns
    * O(√m) directed out-edges instead of a d² wedge explosion — the
    * exact skew that kills the naive self-join at 100 TB (the "last
    * reducer"). Each triangle materializes as exactly one wedge
    * (at its rank-minimum vertex) closed by one canonical edge, so
    * the count is exact, via two hash equi-joins.
    *
    * Output is one summary row: node/edge/wedge/triangle counts (all
    * exact integers) and the global clustering coefficient
    * 3·triangles / wedges (one division of exact longs, rounded 1e-6).
    */
  /** Canonical undirected edge set: a < b, self-loops dropped,
    * multi-edges collapsed. */
  private def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Per-node degree of a canonical edge set — |V|-sized. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Exact triangle count of a canonical edge set via the degree-ordered
    * orientation — one (n_triangles) row. Shared by the exact and the
    * DOULION-sampled paths, so the estimator counts with EXACTLY the
    * machinery the exact operator uses. Takes the degree frame
    * precomputed so a caller that needs degrees for its own aggregates
    * ([[triangleStats]]' n_nodes/n_wedges) can hand in ONE materialized
    * copy instead of Spark re-running the edge-scan + groupBy per
    * consumer (no cross-join subtree reuse in Catalyst). */
  private def orientedTriangles(und: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"))
    // wedges at the low-rank vertex, pair deduped by id order; the
    // closing edge is then (min id, max id) = a canonical `und` row
    dir.as("e1")
      .join(dir.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.hi").as("a"), col("e2.hi").as("b"))
      .join(und, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    val und = canonicalUndirected(edges)
    // materialized once (|V|-sized), read three times below: the da/db
    // orientation joins and the n_nodes/n_wedges aggregate
    val deg = degrees(und).localCheckpoint()
    val tri = orientedTriangles(und, deg)
    val nodesEdges = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))))
    nodesEdges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("gcc"))
  }

  /** DOULION approximate triangle count (Tsourakakis, Kang, Miller &
    * Faloutsos 2009, public): keep each canonical edge independently
    * with probability p, count triangles on the sparsified graph with
    * the SAME oriented counter, scale by 1/p³ (each surviving triangle
    * needed all three edges kept). This is the scale path for the
    * regime the 64× tier excluded by closed-form law — exact counting
    * is lawfully O(m^1.5), while DOULION's joins run on a p-fraction of
    * the edges (wedge work shrinks ~p², the dominant join's both sides
    * by p) with published unbiasedness and concentration.
    *
    * Sampling is DETERMINISTIC (the qp_mixture idiom): keep iff the
    * first two hex chars of md5("a:b:seed") compare below `cutoffHex`
    * — reproducible across runs, partitionings, and engines, so the
    * DuckDB oracle replays the identical sample and the estimate is
    * hash-exact, not just bound-certified. p = cutoffHex/0x100; the
    * default "80" gives p = 1/2, making 1/p³ = 8 exact integer math —
    * the estimate carries zero float risk. */
  def triangleStatsApprox(edges: DataFrame, cutoffHex: String = "80",
                          seed: Long = 42L): DataFrame = {
    require(cutoffHex.length == 2 &&
      cutoffHex.forall(c => c.isDigit || ('a' to 'f').contains(c)),
      s"cutoffHex must be two lowercase hex chars, got: $cutoffHex")
    val p = Integer.parseInt(cutoffHex, 16) / 256.0
    val und = canonicalUndirected(edges)
    val sampled = und.filter(
      substring(md5(concat_ws(":", col("a"), col("b"), lit(seed))), 1, 2)
        < cutoffHex)
    orientedTriangles(sampled, degrees(sampled))
      .select(col("n_triangles").as("t_sampled"),
        round(col("n_triangles") / lit(p * p * p), 0).cast("long").as("t_estimate"))
  }

  /** QG-TRI-APPROX — [[triangleStatsApprox]] (p = 1/2) next to the
    * exact count on the same graph, with the relative-error
    * certificate asserted in-plan (the qs_ann_lsh pattern): the oracle
    * replays the identical deterministic sample, so t_sampled and
    * t_estimate are hash-exact AND `within_bound` pins the realized
    * error under the published concentration. */
  def qgTrianglesApprox(spark: SparkSession, d: String): DataFrame = {
    val edges = Tables.orders(spark, d)
      .select(col("o_custkey").as("src"),
        ((col("o_orderkey") * 7) % 1500 + 1).as("dst"))
    val undExact = canonicalUndirected(edges)
    val exact = orientedTriangles(undExact, degrees(undExact))
      .select(col("n_triangles").as("t_exact"))
    triangleStatsApprox(edges).crossJoin(broadcast(exact))
      .select(col("t_sampled"), col("t_estimate"), col("t_exact"),
        (abs(col("t_estimate") - col("t_exact"))
          <= round(lit(0.15) * col("t_exact"), 0).cast("long")).as("within_bound"))
  }

  /** QG2 — [[triangleStats]] over the same deterministic synthetic
    * link graph as [[qgPageRank]] (the oracle repeats the naive
    * a<b<c three-way join, which counts each triangle once — equal to
    * the oriented count by construction). */
  def qgTriangles(spark: SparkSession, d: String): DataFrame =
    triangleStats(
      Tables.orders(spark, d)
        .select(col("o_custkey").as("src"),
          ((col("o_orderkey") * 7) % 1500 + 1).as("dst")))

  /** Per-node local clustering coefficient lcc(v) = 2·t(v) /
    * (deg(v)·(deg(v)−1)) — how close each node's neighborhood is to a
    * clique; with [[triangleStats]]' global count this completes the
    * standard triangle-metric pair (Watts–Strogatz 1998, public).
    *
    * Same degree-oriented triangle enumeration as [[triangleStats]]
    * (wedges rooted at the LOW-degree vertex, closed by a semi-join —
    * the O(m^1.5) bound, never node×node), but each closed triangle is
    * kept and exploded to its three corners, one aggregate counts
    * per-node memberships. Nodes of degree < 2 have no defined lcc and
    * are excluded (mirrored in the oracle). */
  def localClustering(edges: DataFrame): DataFrame = {
    val und = edges.select(
      least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dir = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"))
    val triangles = dir.as("e1")
      .join(dir.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("x"),
        col("e1.hi").as("a"), col("e2.hi").as("b"))
      .join(und, Seq("a", "b"), "left_semi")
    val perNode = triangles
      .select(explode(array(col("x"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("lcc"))
      .orderBy("node")
  }

  /** QG3 — [[localClustering]] over the same synthetic link graph. */
  def qgClustering(spark: SparkSession, d: String): DataFrame =
    localClustering(
      Tables.orders(spark, d)
        .select(col("o_custkey").as("src"),
          ((col("o_orderkey") * 7) % 1500 + 1).as("dst")))

  /** Bounded multi-source BFS: minimum hop distance from a source set,
    * out to `maxHops` — the traversal primitive the family lacked next
    * to scoring ([[pageRank]]) and structure ([[triangleStats]]):
    * reachability/influence-radius queries ("everything within 3 clicks
    * of the seed pages") are the crawl-frontier and
    * contamination-neighborhood shape of corpus curation.
    *
    * Scale shape — frontier expansion, the textbook distributed BFS:
    * each hop joins ONLY the current frontier against the edge list
    * (partitioned on the join key, frontier is the small side early on)
    * and anti-joins the reached set to drop revisits, so a node enters
    * the result exactly once at its MINIMUM distance (level-synchronous
    * BFS invariant — no per-node min aggregation needed). The loop is
    * bounded by `maxHops` at plan time; per-hop lineage is cut
    * ([[Dedup.cutLineage]], the pageRank/dupClusters discipline). At
    * 100 TB the growing anti-join against `reached` is the cost center
    * — `bloomRefine` applies the [[Ingest]] two-tier pattern to it:
    * a bloom filter over reached ids is probed MAP-SIDE right after
    * the edge join, so bloom-NEGATIVE candidates (provably unreached —
    * no false negatives) take a shuffle-free definitely-new path and
    * only the positive sliver (revisits + the fp-rate of genuinely new
    * nodes) flows into the exact anti-join; false positives are
    * re-dropped exactly there, so the result is IDENTICAL (GraphSpec
    * pins refined ≡ plain on every case); the anti-join's REACHED side
    * is pruned the same way with a bloom of the positive sliver.
    *
    * MEASURED honesty (PERF.md, "kHop bloom refinement"; sort-merge
    * regime forced):
    * at every probe scale (1.5k–150k node graphs from sf0.1 orders)
    * total shuffle bytes are FLAT refined-vs-plain and wall is ~2×
    * (per-hop blob builds + extra materializations) — because the
    * dominant shuffles are the per-hop edge join and the candidate
    * DISTINCT, whose volume the bloom cannot reduce, while both
    * anti-join inputs are post-distinct and node-bounded. The flag
    * therefore defaults OFF and exists for the regime the probe cannot
    * reach: dense revisit-heavy graphs whose deduped candidate and
    * reached sets themselves dwarf memory/broadcast limits. Hop count
    * stays small in practice (small-world graphs saturate in ≤ 6). */
  def kHopDistances(edges: DataFrame, sources: DataFrame,
                    maxHops: Int, bloomRefine: Boolean = false): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // BFS is over the simple directed graph: multi-edges collapse.
    // (A pre-repartition(src) of the edge list was tried and measured:
    // under AQE a checkpointed frame's coalesced partitioning is not
    // reusable by later jobs' EnsureRequirements, so it only ADDED a
    // shuffle — PERF.md, "kHop bloom refinement". The per-hop edge
    // shuffle is the price of the localCheckpoint job boundary; at
    // 100 TB the remedy is a BUCKETED edge table
    // ([[graft.sources.Bucketing]]), which co-locates the join across
    // jobs at the storage layer.)
    val e = Dedup.cutLineage(
      edges.select(col("src").cast("long"), col("dst").cast("long")).distinct(),
      eager = true)
    var reached = Dedup.cutLineage(
      sources.select(col("node").cast("long")).distinct()
        .withColumn("dist", lit(0L)), eager = true)
    var frontier = reached
    for (h <- 1 to maxHops) {
      val cand = frontier.select(col("node").as("src"))
        .join(e, "src")
        .select(col("dst").as("node"))
      val next = (if (bloomRefine) {
        // size the filter from the materialized reached set (cheap
        // count on a checkpointed frame); ~10 bits/key ≈ 1% fp rate
        val nReached = reached.count()
        val blob = Sketches.buildSeenFilter(reached, "node",
          expectedItems = nReached.max(1L), numBits = (nReached.max(1L) * 10L).max(1024L))
        // candidate split — negative leg: provably new, never touches
        // the anti-join; positive leg: the sliver that needs the exact
        // check. The legs are disjoint (the bloom verdict is
        // deterministic per id), so the union needs no cross-leg dedup.
        val defNew = Dedup.cutLineage(
          Sketches.filterUnseen(cand, "node", blob).distinct(), eager = true)
        val posSliver = Dedup.cutLineage(
          Sketches.filterMightSeen(cand, "node", blob).distinct(), eager = true)
        // reached-side pruning — the measured cost driver: the REACHED
        // side of the anti-join regrows and re-shuffles every hop, while
        // post-distinct candidates stay node-bounded. A bloom of the
        // (small) positive sliver filters reached MAP-SIDE, so the
        // anti-join's big side shrinks from |reached| to ~|reached ∩
        // sliver| (no false negatives ⇒ every real collision survives ⇒
        // the anti-join result is unchanged; extra fp rows just make the
        // pruned side slightly bigger than optimal).
        val nSliver = posSliver.count()
        val candBlob = Sketches.buildSeenFilter(posSliver, "node",
          expectedItems = nSliver.max(1L), numBits = (nSliver.max(1L) * 10L).max(1024L))
        val reachedSliver = Sketches.filterMightSeen(
          reached.select("node"), "node", candBlob)
        val mightSeen = posSliver.join(reachedSliver, Seq("node"), "left_anti")
        defNew.unionByName(mightSeen)
      } else {
        cand.distinct()
          .join(reached.select("node"), Seq("node"), "left_anti")
      }).withColumn("dist", lit(h.toLong))
      frontier = Dedup.cutLineage(next, eager = true)
      reached = Dedup.cutLineage(reached.unionByName(frontier), eager = false)
    }
    reached.orderBy("node")
  }

  /** QG4 — [[kHopDistances]] over the same synthetic link graph, seeded
    * at every graph node ≡ 1 (mod 100), 4 hops. All-integer output —
    * the oracle unrolls the same four frontier steps as chained CTEs. */
  def qgKhop(spark: SparkSession, d: String): DataFrame = {
    val edges = Tables.orders(spark, d)
      .select(col("o_custkey").as("src"),
        ((col("o_orderkey") * 7) % 1500 + 1).as("dst"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // plain path: at spec scale the reached set broadcasts and the
    // refinement would be pure overhead (see the bloomRefine scaladoc);
    // GraphSpec pins refined ≡ plain on exactly this graph
    kHopDistances(edges, nodes.filter(col("node") % 100 === 1), maxHops = 4)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qg_pagerank" -> qgPageRank _,
    "qg_triangles" -> qgTriangles _,
    "qg_triangles_approx" -> qgTrianglesApprox _,
    "qg_clustering" -> qgClustering _,
    "qg_khop" -> qgKhop _)

  val oracles: Map[String, String] = Map(
    // the identical deterministic md5 edge sample replayed in DuckDB
    // (hash-exact estimate) + naive exact count + the same certificate
    "qg_triangles_approx" ->
      ("WITH raw AS (SELECT o_custkey AS src, (o_orderkey * 7) % 1500 + 1 AS dst FROM orders), " +
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b " +
        "FROM raw WHERE src <> dst), " +
        "samp AS (SELECT a, b FROM und " +
        "WHERE substring(md5(concat_ws(':', a, b, 42)), 1, 2) < '80'), " +
        "ts AS (SELECT COUNT(*) AS t FROM samp e1 " +
        "JOIN samp e2 ON e2.a = e1.b JOIN samp e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "te AS (SELECT COUNT(*) AS t FROM und e1 " +
        "JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) " +
        "SELECT ts.t AS t_sampled, CAST(ROUND(ts.t / 0.125, 0) AS BIGINT) AS t_estimate, " +
        "te.t AS t_exact, " +
        "ABS(CAST(ROUND(ts.t / 0.125, 0) AS BIGINT) - te.t) <= " +
        "CAST(ROUND(0.15 * te.t, 0) AS BIGINT) AS within_bound FROM ts, te"),
    // the same four frontier steps unrolled: d_h = new nodes at hop h,
    // r_h = everything reached so far; level-synchronous BFS gives the
    // min distance by construction — all-integer, no float concerns
    "qg_khop" -> {
      def hop(h: Int) =
        s"d$h AS (SELECT DISTINCT e.dst AS node, CAST($h AS BIGINT) AS dist " +
          s"FROM e JOIN d${h - 1} ON e.src = d${h - 1}.node " +
          s"WHERE e.dst NOT IN (SELECT node FROM r${h - 1})), " +
          s"r$h AS (SELECT * FROM r${h - 1} UNION ALL SELECT * FROM d$h), "
      "WITH raw AS (SELECT o_custkey AS src, (o_orderkey * 7) % 1500 + 1 AS dst FROM orders), " +
        "e AS (SELECT DISTINCT src, dst FROM raw), " +
        "nodes AS (SELECT DISTINCT node FROM " +
        "(SELECT src AS node FROM raw UNION ALL SELECT dst FROM raw)), " +
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 100 = 1), " +
        "r0 AS (SELECT * FROM d0), " +
        hop(1) + hop(2) + hop(3) +
        "d4 AS (SELECT DISTINCT e.dst AS node, CAST(4 AS BIGINT) AS dist " +
        "FROM e JOIN d3 ON e.src = d3.node " +
        "WHERE e.dst NOT IN (SELECT node FROM r3)) " +
        "SELECT * FROM (SELECT * FROM r3 UNION ALL SELECT * FROM d4) ORDER BY node"
    },
    // naive a<b<c triangle enumeration, corners unnested, counted per
    // node, joined to the degree table — same exclusion of deg < 2
    "qg_clustering" ->
      ("WITH e AS (SELECT o_custkey AS src, (o_orderkey * 7) % 1500 + 1 AS dst FROM orders), " +
        "u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b " +
        "FROM e WHERE src <> dst), " +
        "deg AS (SELECT node, COUNT(*) AS d FROM " +
        "(SELECT a AS node FROM u UNION ALL SELECT b FROM u) GROUP BY node), " +
        "tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM u e1 " +
        "JOIN u e2 ON e2.a = e1.b JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tn AS (SELECT unnest([x, y, z]) AS node FROM tr), " +
        "tc AS (SELECT node, COUNT(*) AS tri FROM tn GROUP BY node) " +
        "SELECT deg.node, CAST(deg.d AS BIGINT) AS deg, " +
        "CAST(COALESCE(tc.tri, 0) AS BIGINT) AS tri, " +
        "ROUND(2.0 * COALESCE(tc.tri, 0) / (deg.d * (deg.d - 1)), 6) AS lcc " +
        "FROM deg LEFT JOIN tc USING (node) WHERE deg.d >= 2 ORDER BY node"),
    // naive a<b<c three-way join over the canonical undirected edge
    // set — counts each triangle exactly once, same total as the
    // degree-oriented plan; wedge count folds from the degree table
    "qg_triangles" ->
      ("WITH e AS (SELECT o_custkey AS src, (o_orderkey * 7) % 1500 + 1 AS dst FROM orders), " +
        "u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b " +
        "FROM e WHERE src <> dst), " +
        "deg AS (SELECT node, COUNT(*) AS d FROM " +
        "(SELECT a AS node FROM u UNION ALL SELECT b FROM u) GROUP BY node), " +
        "nn AS (SELECT COUNT(*) AS n_nodes, " +
        "CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg), " +
        "ne AS (SELECT COUNT(*) AS n_edges FROM u), " +
        "tri AS (SELECT COUNT(*) AS n_triangles FROM u e1 " +
        "JOIN u e2 ON e2.a = e1.b JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b) " +
        "SELECT n_nodes, n_edges, n_wedges, n_triangles, " +
        "ROUND(3.0 * n_triangles / n_wedges, 6) AS gcc " +
        "FROM nn CROSS JOIN ne CROSS JOIN tri"),
    "qg_pagerank" -> {
      def iter(prev: String, out: String) =
        s"c$out AS (SELECT dst, SUM(s.score / od.outdeg) AS c FROM e " +
          s"JOIN $prev s ON s.node = e.src JOIN od ON od.src = e.src GROUP BY dst), " +
          s"$out AS (SELECT nodes.node, CAST(0.15 AS DOUBLE) / nn.n + " +
          s"CAST(0.85 AS DOUBLE) * COALESCE(c$out.c, 0) AS score " +
          s"FROM nodes CROSS JOIN nn LEFT JOIN c$out ON c$out.dst = nodes.node), "
      "WITH e AS (SELECT o_custkey AS src, (o_orderkey * 7) % 1500 + 1 AS dst FROM orders), " +
        "nodes AS (SELECT DISTINCT node FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
        "nn AS (SELECT COUNT(*) AS n FROM nodes), " +
        "od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src), " +
        "s0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS score FROM nodes CROSS JOIN nn), " +
        iter("s0", "s1") + iter("s1", "s2") +
        "cs3 AS (SELECT dst, SUM(s.score / od.outdeg) AS c FROM e " +
        "JOIN s2 s ON s.node = e.src JOIN od ON od.src = e.src GROUP BY dst), " +
        "s3 AS (SELECT nodes.node, CAST(0.15 AS DOUBLE) / nn.n + " +
        "CAST(0.85 AS DOUBLE) * COALESCE(cs3.c, 0) AS score " +
        "FROM nodes CROSS JOIN nn LEFT JOIN cs3 ON cs3.dst = nodes.node) " +
        "SELECT node, ROUND(score, 6) AS score FROM s3 ORDER BY node"
    })
}
