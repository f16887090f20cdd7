package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.dedup.Dedup

/** Graph analytics over the duplicate-candidate graph — the dup
  * families ARE a graph (docs = nodes, LSH candidate pairs = edges),
  * and the graph views answer curation questions the pair lists
  * can't: which doc anchors a family (PageRank), how tangled the
  * corpus is (degree profile).
  *
  * Scale shape: edges come from the star-shaped LSH candidates
  * (linear in corpus size), each PageRank iteration is one
  * co-partitioned join + one partial-aggregated groupBy on the node
  * key — the standard distributed PageRank with NO driver-side graph;
  * a fixed iteration count keeps the whole computation oracle-
  * expressible as unrolled SQL (like the kmeans/label-propagation
  * oracles).
  */
object Graph extends graft.Registry {

  /** The candidate edge list MATERIALIZED once per (JVM, table dir) —
    * the graph family's input table. A lazily re-derived chain is
    * quadratically wasteful here: every PageRank iteration references
    * the edges AND the degree frame, so the un-staged logical plan
    * carried the full MinHash/LSH chain once per reference, and even
    * the two-groupBy degree profile paid a complete signature
    * re-derivation. The staging itself now lives in Dedup (shared with
    * the cluster-label consumers), so the graph and dedup families
    * derive the edge list exactly once between them. */
  private[graft] def stagedCandidates(spark: SparkSession, dir: String): DataFrame =
    Dedup.stagedCandidates(spark, dir)

  /** Undirected edge list over the staged candidates (both directions
    * exploded from the same row). */
  private def undirected(spark: SparkSession, dir: String): DataFrame =
    stagedCandidates(spark, dir)
      .select(explode(array(
        struct(col("ia").as("s"), col("ib").as("d")),
        struct(col("ib").as("s"), col("ia").as("d")))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))

  /** PageRank (damping 0.85, init 1.0, `iters` fixed iterations) over
    * the dup-candidate graph. Undirected edges mean no dangling nodes
    * (every node has out-degree >= 1), so no dangling-mass correction
    * term is needed. */
  def qPageRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val und = undirected(spark, dir)
    val deg = und.groupBy("s").agg(count(lit(1)).as("deg"))
    var rank = deg.select(col("s").as("node"), lit(1.0).as("r"))
    for (_ <- 1 to iters) {
      rank = und
        .join(deg, "s")
        .join(rank.withColumnRenamed("node", "s"), "s")
        .select(col("d").as("node"), (col("r") / col("deg")).as("c"))
        .groupBy("node")
        .agg((lit(0.15) + lit(0.85) * sum("c")).as("r"))
    }
    rank.select(col("node").as("doc_id"), round(col("r"), 6).as("rank"))
  }

  /** Degree profile of the dup graph: how many docs have k dup
    * neighbors — the shape that says "mostly pairs" vs "one giant
    * boilerplate family". Two bounded groupBys. */
  def qDegreeStats(spark: SparkSession, dir: String): DataFrame =
    undirected(spark, dir)
      .groupBy("s").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_docs"))

  /** Triangle count + global clustering coefficient of the dup graph
    * — triangles are transitivity evidence (a near-dups b, b near-dups
    * c, a near-dups c) that separates genuine duplicate families from
    * chance band collisions. Uses the standard DEGREE-ORDERED
    * orientation (each edge points to its higher-(degree, id)
    * endpoint, so every triangle is counted exactly once at its
    * minimum vertex): the wedge join's fan-out is bounded by
    * out-degree, which the orientation caps at O(sqrt(m)) — the
    * discipline that keeps a boilerplate hub with a million neighbors
    * from generating a quadratic wedge set, where a naive id-ordering
    * explodes on exactly the star-keeper hubs these edges have. Both
    * joins are co-partitioned equi-joins on node keys. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(stagedCandidates(spark, dir))

  /** Triangle census over any canonical (ia < ib, distinct) edge
    * frame. */
  def trianglesOf(e: DataFrame): DataFrame = {
    val deg = e
      .select(explode(array(
        struct(col("ia").as("s"), col("ib").as("d")),
        struct(col("ib").as("s"), col("ia").as("d")))).as("e"))
      .select(col("e.s").as("s"))
      .groupBy("s").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("s").as("ia"), col("deg").as("da")), "ia")
      .join(deg.select(col("s").as("ib"), col("deg").as("db")), "ib")
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("ia") < col("ib"))
    val oriented = withDeg.select(
      when(fwd, col("ia")).otherwise(col("ib")).as("a"),
      when(fwd, col("ib")).otherwise(col("ia")).as("b"))
    val w = oriented.as("x").join(oriented.as("y"),
      col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("p"), col("y.b").as("q"))
    val tri = w.join(e, w("p") === e("ia") && w("q") === e("ib"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(expr("sum(deg * (deg - 1) div 2)").as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("global_cc"))
  }

  /** Connected-component size distribution of the dup graph —
    * component_size -> n_components, singletons included (a doc with
    * no candidate edge is its own component). The macro answer to
    * "how duplicated is this corpus": a healthy crawl shows a long
    * singleton head and small families; one giant component means
    * boilerplate chaining. Rides the staged converged cluster labels
    * (derived once per JVM+dir, shared with clusters/keepers/savings),
    * so the query itself is a left join plus two bounded groupBys on
    * already-small frames. */
  def qComponents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .join(Dedup.stagedClusters(spark, dir), Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("comp"))
      .groupBy("comp").agg(count(lit(1)).as("component_size"))
      .groupBy("component_size").agg(count(lit(1)).as("n_components"))

  /** K-core decomposition (Seidman's coreness, via the standard
    * iterative peeling from the public literature): repeatedly drop
    * nodes whose degree in the SURVIVING subgraph is below k until a
    * fixed point — the k-core is the maximal subgraph of minimum
    * degree k, the graph-mining notion of "dense family core" that
    * separates tightly-knit duplicate families from stragglers
    * attached by one chance collision. Distributed shape per peel
    * round: one semi-join of edges against surviving nodes + one
    * partial-aggregated degree count — no driver-side graph; the loop
    * runs to CONVERGENCE in [[graft.Fixpoint]], and the fixed point is
    * the round whose surviving-edge count (observed by that round's
    * checkpoint) equals the previous round's. Output: one row per k
    * with core node and edge counts. */
  def qKCore(spark: SparkSession, dir: String, ks: Seq[Int] = Seq(2, 3)): DataFrame = {
    // maxRounds = the oracle's 8-round unroll PLUS the confirming
    // no-op round the convergence check spends (the loop counts it,
    // so 8 would wrongly reject a corpus whose peel depth is exactly
    // 8 — which the 8-peel SQL handles fine): peeling is monotone, so
    // a corpus converging within 8 peels matches the unrolled oracle
    // exactly, and a degree cascade DEEPER than the unroll (a long
    // pendant chain) fails loudly here rather than letting the
    // operator silently out-converge its own gate (round-8 advice)
    val e = stagedCandidates(spark, dir) // one staged read (a schema job) for every k
    ks.map(k => kCoreOf(e, k, maxRounds = 9)).reduce(_ unionByName _)
  }

  /** The k-core census over any canonical (ia < ib, distinct) edge
    * frame. */
  def kCoreOf(e: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    val edges = graft.Fixpoint.converge(s"$k-core peeling", e.select("ia", "ib"), maxRounds,
        count(lit(1)))(_ == _) { live =>
      val keep = live
        .select(explode(array(col("ia"), col("ib"))).as("s"))
        .groupBy("s").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("s"))
      live
        .join(keep.select(col("s").as("ia")), "ia")
        .join(keep.select(col("s").as("ib")), "ib")
        .select("ia", "ib")
    }
    val nodes = edges.select(explode(array(col("ia"), col("ib"))).as("s")).distinct()
    edges.agg(count(lit(1)).as("n_core_edges"))
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_core_nodes"))))
      .select(lit(k).as("k"), col("n_core_nodes"), col("n_core_edges"))
  }

  /** Common-neighbor link prediction over the VERIFIED near-dup
    * graph: for every node pair sharing >= 2 verified neighbors, the
    * common-neighbor count and the neighborhood-Jaccard score — the
    * classic "these two docs are probably near-dups even though no
    * verifier ever paired them" signal (the missing-edge complement
    * of the triangle census). The wedge join enumerates each
    * candidate pair once per shared center; its fan-out is deg^2 at a
    * hub — inherent to common-neighbor counting (unlike triangles,
    * BOTH wedge arms matter, so the degree-ordered orientation cannot
    * bound it). The edges are the verified pairs, not the raw band
    * candidates (keeper-star hubs blow the raw wedge set up
    * quadratically — the sf1 adversarial corpus hung that form), AND
    * every center's neighbor list is hub-capped at `cap` before the
    * wedge self-join — without the cap, verified degree is only
    * bounded by true family size, and the sf1 sweep's 100-copy
    * families grew wedge work 41x (the round-8 artifact's one
    * outlier). */
  def qCommonNeighbors(spark: SparkSession, dir: String, cap: Int = 32): DataFrame =
    commonNeighborsOf(Dedup.stagedVerifiedPairs(spark, dir), cap)

  /** The mutual hub-capped undirected edge frame + its degree table —
    * shared by the common-neighbor and resource-allocation link
    * predictors (see [[commonNeighborsOf]]'s scaladoc for why the cap
    * must be MUTUAL). Materialized once (localCheckpoint; see
    * [[graft.Fixpoint]] on lineage): it feeds both wedge arms AND the
    * degree frame, and each self-join branch otherwise re-derives the
    * whole explode+TopKPerKey chain — the plan showed the exec
    * running 4x and the edge explode 6x per query. */
  private def cappedMutual(e: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val und = e.select(explode(array(
        struct(col("ia").as("s"), col("ib").as("d")),
        struct(col("ib").as("s"), col("ia").as("d")))).as("x"))
      .select(col("x.s").as("s"), col("x.d").as("d"))
    // constant rank value => TopKPerKey orders purely by the long tie
    // column (neighbor id ASC), the deterministic first-cap truncation
    val ranked = graft.plans.TopKPerKey(
        und.withColumn("nv", lit(0.0)), Seq("s"), "nv", "d", cap)
      .select(col("s"), col("d"))
    val capped = ranked.join(
        ranked.select(col("d").as("s"), col("s").as("d")), Seq("s", "d"))
      .localCheckpoint(true)
    (capped, capped.groupBy("s").agg(count(lit(1)).as("deg")))
  }

  def qResourceAlloc(spark: SparkSession, dir: String, cap: Int = 32): DataFrame =
    resourceAllocOf(Dedup.stagedVerifiedPairs(spark, dir), cap)

  /** Resource-allocation link prediction (Zhou-Lu-Zhang 2009) over the
    * same capped mutual neighborhoods as [[commonNeighborsOf]]: a
    * predicted pair's score is sum over common neighbors w of
    * 1/deg(w) — common-neighbor counting that discounts hub wedges,
    * the strongest simple index in the link-prediction literature.
    *
    * Determinism: each center's weight is the exact FIXED-POINT
    * integer 1e12 DIV deg (BIGINT), so the per-pair score is an
    * order-free integer sum — no floating accumulation anywhere; the
    * reported double is one division of that integer. Same bounded
    * wedge work (cap^2 per center) and anti-join against existing
    * edges as the CN index. */
  def resourceAllocOf(e: DataFrame, cap: Int = 32): DataFrame = {
    val (capped, deg) = cappedMutual(e, cap)
    val weighted = capped.join(
      deg.withColumn("w", expr("1000000000000 DIV deg")).select("s", "w"), "s")
    weighted.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.d") < col("y.d"))
      .groupBy(col("x.d").as("p"), col("y.d").as("q"))
      .agg(count(lit(1)).as("cn"), sum(col("x.w")).as("ra_e12"))
      .filter(col("cn") >= 2)
      .join(e.select(col("ia").as("p"), col("ib").as("q")), Seq("p", "q"), "left_anti")
      .select(col("p"), col("q"), col("cn"), col("ra_e12"),
        expr(graft.functions.Exact.rate6("ra_e12", "1000000000000")).as("ra_score"))
  }

  /** Common-neighbor scores over any canonical (ia < ib, distinct)
    * edge frame, with MUTUAL per-center HUB CAPPING: each center
    * keeps only its first `cap` neighbors (by neighbor id — a
    * deterministic, oracle-expressible truncation), and an edge
    * survives only if BOTH endpoints kept each other, so the capped
    * graph stays undirected. That symmetry is what keeps the score a
    * true Jaccard of the truncated neighborhoods: degrees and wedge
    * counts describe the same edge set, so cn <= min(dp, dq) and the
    * score stays in [0,1] (a one-sided cap lets cn exceed the capped
    * degrees — a hub every small node still points at collects more
    * shared centers than its own truncated degree — and the "Jaccard"
    * goes negative). Per-center wedge work is bounded at
    * cap*(cap-1)/2 no matter how big a boilerplate family grows, and
    * the statistic is EXACTLY the uncapped one whenever every degree
    * <= cap (the testdata case: family size ~10 vs cap 32). The
    * truncation rides the custom TopKPerKey exec — one hash shuffle
    * on the center key, a bounded cap-row heap per center, NO
    * per-group sort — plus one co-partitioned self-join for the
    * mutuality check. */
  def commonNeighborsOf(e: DataFrame, cap: Int = 32): DataFrame = {
    val (capped, deg) = cappedMutual(e, cap)
    val cn = capped.as("x").join(capped.as("y"),
        col("x.s") === col("y.s") && col("x.d") < col("y.d"))
      .groupBy(col("x.d").as("p"), col("y.d").as("q"))
      .agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
      // link PREDICTION scores missing edges: pairs that are already
      // verified near-dups carry no new information (inside a dup
      // family nearly every wedge pair is an existing edge — the
      // anti-join collapses the output to the genuinely-predicted
      // links)
      .join(e.select(col("ia").as("p"), col("ib").as("q")), Seq("p", "q"), "left_anti")
    cn.join(deg.select(col("s").as("p"), col("deg").as("dp")), "p")
      .join(deg.select(col("s").as("q"), col("deg").as("dq")), "q")
      .select(col("p"), col("q"), col("cn"),
        expr(graft.functions.Exact.rate6("cn", "dp + dq - cn")).as("score"))
  }

  /** Degree assortativity (Newman's r, from the public
    * network-science literature): the Pearson correlation of endpoint
    * degrees across edges — positive r means dup families link
    * like-sized hubs (boilerplate chaining), negative means stars
    * (keeper-hub structure, the LSH candidate shape). One joined
    * degree frame + one corr aggregate over the directed edge list
    * (both directions, so the statistic is symmetric); rounded 6 on
    * both sides like every aggregated-double statistic (§4). */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirected(spark, dir)
    val deg = und.groupBy("s").agg(count(lit(1)).as("deg"))
    und.join(deg.select(col("s"), col("deg").as("ds")), "s")
      .join(deg.select(col("s").as("d"), col("deg").as("dd")), "d")
      .agg(count(lit(1)).as("n_directed_edges"),
        round(corr(col("ds").cast("double"), col("dd").cast("double")), 6)
          .as("assortativity"))
  }

  /** Newman modularity of the VERIFIED-family partition measured
    * against the CANDIDATE graph — the report that says how much of
    * the LSH band-collision structure the verified (Jaccard >= 0.8)
    * families actually explain: candidate edges inside a family are
    * true near-dup structure, straddling edges are banding false
    * positives, and Q = intra/m - sum_c d_c^2 / (4 m^2) charges both
    * against the degree-preserving null model. Every term is an EXACT
    * integer aggregate (intra-edge count, total edges, sum of squared
    * per-community degree sums — no double accumulates across rows),
    * so the closed-form double at the end is bitwise identical
    * cross-engine instead of ulp-hostage to summation order.
    * Communities are the staged converged label-prop families;
    * graph nodes without a verified family are their own singleton
    * community. One edge-label join + two bounded aggregates. */
  def qModularity(spark: SparkSession, dir: String): DataFrame =
    modularityStats(spark, dir, Dedup.stagedVerifiedClusters(spark, dir))

  /** Newman modularity of the LABEL-PROPAGATION partition against the
    * same candidate graph — community QUALITY for the communities the
    * engine itself finds (qModularity scores the verified families;
    * this scores `graph_label_propagation`'s output, closing the
    * find-communities -> score-communities loop with two already-
    * oracled building blocks). Same bounded aggregates. */
  def qLpModularity(spark: SparkSession, dir: String): DataFrame =
    modularityStats(spark, dir,
      lpLabelsOf(undirected(spark, dir), 3)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id")))

  /** Modularity statistics of any (doc_id, cluster_id) partition over
    * the staged candidate graph. */
  private def modularityStats(spark: SparkSession, dir: String,
                              labels: DataFrame): DataFrame = {
    val edgeCom = stagedCandidates(spark, dir).select("ia", "ib")
      .join(labels.select(col("doc_id").as("ia"), col("cluster_id").as("ca")), Seq("ia"), "left")
      .join(labels.select(col("doc_id").as("ib"), col("cluster_id").as("cb")), Seq("ib"), "left")
      .select(coalesce(col("ca"), col("ia")).as("ga"),
        coalesce(col("cb"), col("ib")).as("gb"))
    val eStats = edgeCom.agg(
      count(lit(1)).as("n_edges"),
      sum(when(col("ga") === col("gb"), 1L).otherwise(0L)).as("intra_edges"))
    val dC = undirected(spark, dir)
      .groupBy("s").agg(count(lit(1)).as("deg"))
      .join(labels.select(col("doc_id").as("s"), col("cluster_id")), Seq("s"), "left")
      .select(coalesce(col("cluster_id"), col("s")).as("c"), col("deg"))
      .groupBy("c").agg(sum("deg").as("dc"))
    val dStats = dC.agg(count(lit(1)).as("n_communities"),
      sum(col("dc") * col("dc")).as("sum_dc2"))
    eStats.crossJoin(broadcast(dStats))
      .select(col("n_edges"), col("n_communities"), col("intra_edges"),
        expr(graft.functions.Exact.rate6("intra_edges", "n_edges")).as("intra_frac"),
        expr(graft.functions.Exact.srate6(
          "4 * CAST(n_edges AS DECIMAL(38,0)) * intra_edges - sum_dc2",
          "4 * CAST(n_edges AS DECIMAL(38,0)) * n_edges")).as("modularity"))
  }

  /** Multi-source bounded-depth BFS over the dup-candidate graph: the
    * per-seed distance histogram (how many docs sit 1, 2, ... hops from
    * each probe document — the "how far does this boilerplate family
    * reach" reachability question, and the standard BFS primitive the
    * graph family was missing). Seeds are the 8 smallest node ids
    * (deterministic); depth is bounded at 4.
    *
    * Scale shape: each round is ONE equi-join of the (bounded)
    * frontier against the partitioned edge list + an anti-join against
    * the visited set — frontier and visited stay seed-bounded, the
    * corpus-sized edge list is never re-derived (staged candidates),
    * and the rounds run in [[graft.Fixpoint]] over one state frame
    * (visited; its level k-1 is round k's frontier). Counts INT-EXACT. */
  def qBfsDistances(spark: SparkSession, dir: String, depth: Int = 4): DataFrame =
    bfsDistancesOf(undirected(spark, dir), depth)

  /** [[qBfsDistances]] over any (s, d) undirected edge frame. */
  private[relational] def bfsDistancesOf(und: DataFrame, depth: Int): DataFrame = {
    val seeds = und.select("s").distinct().orderBy("s").limit(8)
      .select(col("s").as("seed"), col("s").as("node"), lit(0).as("dist"))
    graft.Fixpoint.sweeps(seeds, depth) { (visited, k) =>
      val frontier = visited.filter(col("dist") === k - 1)
      visited.unionByName(frontier
        .join(und, frontier("node") === und("s"))
        .select(col("seed"), col("d").as("node")).distinct()
        .join(visited, Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(k)))
    }.groupBy("seed", "dist").agg(count(lit(1)).as("n_nodes"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), 3 sweeps:
    * every node starts as its own community, then simultaneously
    * adopts its neighbors' MODE label (ties to the smallest label —
    * the deterministic variant; async/random LPA is not reproducible).
    * Communities are finer than connected components (which this
    * corpus collapses into one giant blob via band-collision chains) —
    * LPA finds the dense dup-family cores inside it. Output is the
    * community-size histogram.
    *
    * Scale shape per sweep: one edge-label join shuffling on node id +
    * one bounded-fanout groupBy — PageRank's exact envelope; the mode
    * is a per-node argmax via row_number over the (node, label) vote
    * counts, partition size bounded by degree. The sweeps run in
    * [[graft.Fixpoint]] with convergence off. */
  def qLabelPropagation(spark: SparkSession, dir: String, sweeps: Int = 3): DataFrame =
    labelPropagationOf(undirected(spark, dir), sweeps)

  /** Per-node labels after [[qLabelPropagation]]'s synchronous
    * sweeps — exposed so community-QUALITY consumers (LP modularity)
    * share the exact partition the census reports. */
  private[relational] def lpLabelsOf(und: DataFrame, sweeps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val init = und.select(col("s").as("node")).distinct().withColumn("lbl", col("node"))
    graft.Fixpoint.sweeps(init, sweeps) { (lbl, _) =>
      val votes = und
        .join(lbl, und("d") === lbl("node"))
        .select(und("s").as("v"), col("lbl"))
        .groupBy("v", "lbl").agg(count(lit(1)).as("n"))
      val mode = votes
        .withColumn("rk", row_number().over(
          Window.partitionBy("v").orderBy(col("n").desc, col("lbl").asc)))
        .filter(col("rk") === 1)
        .select(col("v"), col("lbl").as("new_lbl"))
      // the state holds one row per node, so it is also the node list
      lbl.select("node").join(mode, col("node") === col("v"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("node")).as("lbl"))
    }
  }

  /** [[qLabelPropagation]] over any (s, d) undirected edge frame. */
  private[relational] def labelPropagationOf(und: DataFrame, sweeps: Int): DataFrame =
    lpLabelsOf(und, sweeps)
      .groupBy("lbl").agg(count(lit(1)).as("community_size"))
      .groupBy("community_size").agg(count(lit(1)).as("n_communities"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_propagation" -> ((s: SparkSession, d: String) => qLabelPropagation(s, d)),
    "graph_bfs_distances" -> ((s: SparkSession, d: String) => qBfsDistances(s, d)),
    "graph_modularity" -> (qModularity _),
    "graph_lp_modularity" -> (qLpModularity _),
    "graph_assortativity" -> (qAssortativity _),
    "graph_pagerank" -> ((s: SparkSession, d: String) => qPageRank(s, d)),
    "graph_triangles" -> (qTriangles _),
    "graph_components" -> (qComponents _),
    "graph_kcore" -> ((s: SparkSession, d: String) => qKCore(s, d)),
    "graph_common_neighbors" -> ((s: SparkSession, d: String) => qCommonNeighbors(s, d)),
    "graph_resource_alloc" -> ((s: SparkSession, d: String) => qResourceAlloc(s, d)),
    "graph_degree_stats" -> (qDegreeStats _))

  private val undSql =
    """und AS (SELECT ia AS s, ib AS d FROM cands
      |       UNION ALL SELECT ib AS s, ia AS d FROM cands),
      |deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s)""".stripMargin

  /** The label-propagation oracles' shared prefix: the candidate graph,
    * each node its own label in `l0`, then three synchronous sweeps —
    * the most frequent neighbour label, ties to the smallest — ending
    * at `l3`. */
  private val lpSweepsSql = {
    val sweep = (k: Int) =>
      s"""v$k AS (SELECT und.s AS node, l${k - 1}.lbl, count(*) AS n
         |  FROM und JOIN l${k - 1} ON und.d = l${k - 1}.node GROUP BY 1, 2),
         |m$k AS (SELECT node, lbl FROM (
         |  SELECT node, lbl, row_number() OVER (
         |    PARTITION BY node ORDER BY n DESC, lbl ASC) AS rk FROM v$k)
         |  WHERE rk = 1),
         |l$k AS MATERIALIZED (
         |  SELECT nodes.node, coalesce(m$k.lbl, nodes.node) AS lbl
         |  FROM nodes LEFT JOIN m$k ON m$k.node = nodes.node)""".stripMargin
    s"""WITH ${Dedup.sigSql},
       |${Dedup.bandsSql},
       |${Dedup.candsSql},
       |$undSql,
       |nodes AS (SELECT DISTINCT s AS node FROM und),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${(1 to 3).map(sweep).mkString(",\n")}""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "graph_label_propagation" ->
      s"""$lpSweepsSql,
         |sz AS (SELECT lbl, count(*) AS community_size FROM l3 GROUP BY lbl)
         |SELECT community_size, count(*) AS n_communities
         |FROM sz GROUP BY community_size""".stripMargin,
    "graph_lp_modularity" ->
      s"""$lpSweepsSql,
         |lm AS MATERIALIZED (SELECT node AS doc_id, lbl FROM l3),
         |dc AS (SELECT coalesce(lm.lbl, deg.s) AS c, CAST(sum(deg) AS BIGINT) AS dc
         |       FROM deg LEFT JOIN lm ON lm.doc_id = deg.s GROUP BY 1),
         |ds AS (SELECT count(*) AS n_communities,
         |       CAST(sum(dc * dc) AS BIGINT) AS sum_dc2 FROM dc),
         |ec AS (SELECT count(*) AS n_edges,
         |  CAST(sum(CASE WHEN coalesce(la.lbl, cands.ia) = coalesce(lb.lbl, cands.ib)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
         |  FROM cands LEFT JOIN lm la ON la.doc_id = cands.ia
         |             LEFT JOIN lm lb ON lb.doc_id = cands.ib)
         |SELECT n_edges, n_communities, intra_edges,
         |  ${graft.functions.Exact.duck6("intra_edges", "n_edges")} AS intra_frac,
         |  ${graft.functions.Exact.sduck6(
              "4 * CAST(n_edges AS HUGEINT) * intra_edges - sum_dc2",
              "4 * CAST(n_edges AS HUGEINT) * n_edges")} AS modularity
         |FROM ec CROSS JOIN ds""".stripMargin,
    "graph_bfs_distances" -> {
      val round = (k: Int) =>
        s"""f$k AS (SELECT DISTINCT seed, und.d AS node
           |  FROM n${k - 1} JOIN und ON und.s = n${k - 1}.node),
           |n$k AS MATERIALIZED (SELECT seed, node, $k AS dist
           |  FROM f$k ANTI JOIN vis${k - 1} USING (seed, node)),
           |vis$k AS MATERIALIZED (SELECT seed, node FROM vis${k - 1}
           |  UNION ALL SELECT seed, node FROM n$k)""".stripMargin
      val rounds = (1 to 4).map(round).mkString(",\n")
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |$undSql,
         |n0 AS (SELECT s AS seed, s AS node, 0 AS dist
         |  FROM (SELECT DISTINCT s FROM und ORDER BY s LIMIT 8)),
         |vis0 AS (SELECT seed, node FROM n0),
         |$rounds,
         |allv AS (SELECT seed, dist FROM n0
         |  UNION ALL SELECT seed, dist FROM n1
         |  UNION ALL SELECT seed, dist FROM n2
         |  UNION ALL SELECT seed, dist FROM n3
         |  UNION ALL SELECT seed, dist FROM n4)
         |SELECT seed, CAST(dist AS INT) AS dist, count(*) AS n_nodes
         |FROM allv GROUP BY seed, dist""".stripMargin
    },
    "graph_pagerank" -> {
      val iter = (i: Int) =>
        s"""r$i AS (SELECT d AS node, 0.15 + 0.85 * sum(r / deg) AS r
           |  FROM und JOIN deg USING (s) JOIN r${i - 1} ON r${i - 1}.node = und.s
           |  GROUP BY d)""".stripMargin
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |$undSql,
         |r0 AS (SELECT s AS node, 1.0 AS r FROM deg),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node AS doc_id, round(r, 6) AS rank FROM r3""".stripMargin
    },
    "graph_triangles" ->
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |$undSql,
         |o AS (SELECT
         |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND ia < ib)
         |      THEN ia ELSE ib END AS a,
         |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND ia < ib)
         |      THEN ib ELSE ia END AS b
         |  FROM cands JOIN deg d1 ON d1.s = ia JOIN deg d2 ON d2.s = ib),
         |w AS (SELECT x.b AS p, y.b AS q FROM o x JOIN o y
         |  ON x.a = y.a AND x.b < y.b),
         |tri AS (SELECT count(*) AS n_triangles
         |  FROM w JOIN cands c ON c.ia = w.p AND c.ib = w.q),
         |ww AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_triangles, n_wedges,
         |  round(3.0 * n_triangles / n_wedges, 6) AS global_cc
         |FROM tri CROSS JOIN ww""".stripMargin,
    "graph_degree_stats" ->
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |$undSql
         |SELECT deg, count(*) AS n_docs FROM deg GROUP BY deg""".stripMargin,
    "graph_assortativity" ->
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |$undSql
         |SELECT count(*) AS n_directed_edges,
         |  round(corr(CAST(d1.deg AS DOUBLE), CAST(d2.deg AS DOUBLE)), 6)
         |    AS assortativity
         |FROM und JOIN deg d1 ON d1.s = und.s JOIN deg d2 ON d2.s = und.d""".stripMargin,
    "graph_kcore" -> {
      // unrolled peel per k (8 rounds; peeling is monotone, so rounds
      // past the fixed point are no-ops — GraphSpec asserts the
      // converged operator equals this unroll on the testdata).
      // Every round CTE is MATERIALIZED: each round references its
      // predecessor three times (edge frame + two node joins), so
      // default inline expansion re-derives the whole LSH chain 3^i
      // times and exhausts file handles re-reading the parquet.
      def chain(k: Int): String = {
        val p = s"k$k"
        val rounds = (0 until 8).map { i =>
          s"""${p}_n$i AS MATERIALIZED (SELECT s FROM (
             |  SELECT s, count(*) AS deg FROM (
             |    SELECT ia AS s FROM ${p}_e$i UNION ALL SELECT ib FROM ${p}_e$i)
             |  GROUP BY s) WHERE deg >= $k),
             |${p}_e${i + 1} AS MATERIALIZED (SELECT ia, ib FROM ${p}_e$i
             |  JOIN ${p}_n$i a ON a.s = ia JOIN ${p}_n$i b ON b.s = ib)""".stripMargin
        }.mkString(",\n")
        s"""${p}_e0 AS MATERIALIZED (SELECT ia, ib FROM cands),
           |$rounds""".stripMargin
      }
      def sel(k: Int): String =
        s"""SELECT CAST($k AS INT) AS k,
           |  (SELECT count(DISTINCT s) FROM (
           |     SELECT ia AS s FROM k${k}_e8 UNION ALL SELECT ib FROM k${k}_e8)) AS n_core_nodes,
           |  (SELECT count(*) FROM k${k}_e8) AS n_core_edges""".stripMargin
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |${chain(2)},
         |${chain(3)}
         |${sel(2)}
         |UNION ALL
         |${sel(3)}""".stripMargin
    },
    "graph_modularity" -> {
      val sweep = (in: String, out: String) =>
        s"""$out AS (SELECT doc_id, min(lbl) AS lbl FROM (
           |  SELECT e2.d AS doc_id, p.lbl FROM e2 JOIN $in p ON p.doc_id = e2.s
           |  UNION ALL SELECT doc_id, lbl FROM $in) GROUP BY doc_id)""".stripMargin
      val sweeps = (1 to 6).map(i => sweep(s"l${i - 1}", s"l$i")).mkString(",\n")
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |cm AS MATERIALIZED (SELECT ia, ib FROM cands),
         |w AS (SELECT doc_id, list_distinct(string_split(${Dedup.NT}, ' ')) AS ws FROM documents),
         |vp AS MATERIALIZED (SELECT ia, ib FROM (
         |  SELECT ia, ib,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / len(list_distinct(list_concat(wa.ws, wb.ws))) AS j
         |  FROM cm JOIN w wa ON ia = wa.doc_id JOIN w wb ON ib = wb.doc_id)
         |  WHERE j >= 0.8),
         |e2 AS (SELECT ia AS s, ib AS d FROM vp
         |       UNION ALL SELECT ib AS s, ia AS d FROM vp),
         |nodes AS (SELECT DISTINCT s AS doc_id FROM e2),
         |l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
         |$sweeps,
         |lm AS MATERIALIZED (SELECT doc_id, lbl FROM l6),
         |und AS (SELECT ia AS s FROM cm UNION ALL SELECT ib FROM cm),
         |deg AS (SELECT s, count(*) AS deg FROM und GROUP BY s),
         |dc AS (SELECT coalesce(lm.lbl, deg.s) AS c, CAST(sum(deg) AS BIGINT) AS dc
         |       FROM deg LEFT JOIN lm ON lm.doc_id = deg.s GROUP BY 1),
         |ds AS (SELECT count(*) AS n_communities,
         |       CAST(sum(dc * dc) AS BIGINT) AS sum_dc2 FROM dc),
         |ec AS (SELECT count(*) AS n_edges,
         |  CAST(sum(CASE WHEN coalesce(la.lbl, cm.ia) = coalesce(lb.lbl, cm.ib)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
         |  FROM cm LEFT JOIN lm la ON la.doc_id = cm.ia
         |          LEFT JOIN lm lb ON lb.doc_id = cm.ib)
         |SELECT n_edges, n_communities, intra_edges,
         |  ${graft.functions.Exact.duck6("intra_edges", "n_edges")} AS intra_frac,
         |  ${graft.functions.Exact.sduck6(
              "4 * CAST(n_edges AS HUGEINT) * intra_edges - sum_dc2",
              "4 * CAST(n_edges AS HUGEINT) * n_edges")} AS modularity
         |FROM ec CROSS JOIN ds""".stripMargin
    },
    "graph_common_neighbors" ->
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |w AS (SELECT doc_id, list_distinct(string_split(${Dedup.NT}, ' ')) AS ws FROM documents),
         |vp AS MATERIALIZED (SELECT ia, ib FROM (
         |  SELECT ia, ib,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / len(list_distinct(list_concat(wa.ws, wb.ws))) AS j
         |  FROM cands JOIN w wa ON ia = wa.doc_id JOIN w wb ON ib = wb.doc_id)
         |  WHERE j >= 0.8),
         |vund AS (SELECT ia AS s, ib AS d FROM vp
         |         UNION ALL SELECT ib AS s, ia AS d FROM vp),
         |rnk AS (SELECT s, d FROM (
         |    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn
         |    FROM vund) WHERE rn <= 32),
         |cund AS (SELECT r1.s, r1.d FROM rnk r1
         |         JOIN rnk r2 ON r1.s = r2.d AND r1.d = r2.s),
         |vdeg AS (SELECT s, count(*) AS deg FROM cund GROUP BY s),
         |cn AS (
         |  SELECT p, q, cn FROM (
         |    SELECT x.d AS p, y.d AS q, count(*) AS cn
         |    FROM cund x JOIN cund y ON x.s = y.s AND x.d < y.d
         |    GROUP BY x.d, y.d
         |    HAVING count(*) >= 2) c
         |  WHERE NOT EXISTS (SELECT 1 FROM vp WHERE vp.ia = c.p AND vp.ib = c.q))
         |SELECT p, q, cn,
         |  ${graft.functions.Exact.duck6("cn", "dp.deg + dq.deg - cn")} AS score
         |FROM cn JOIN vdeg dp ON dp.s = p JOIN vdeg dq ON dq.s = q""".stripMargin,
    "graph_resource_alloc" ->
      s"""WITH ${Dedup.sigSql},
         |${Dedup.bandsSql},
         |${Dedup.candsSql},
         |w AS (SELECT doc_id, list_distinct(string_split(${Dedup.NT}, ' ')) AS ws FROM documents),
         |vp AS MATERIALIZED (SELECT ia, ib FROM (
         |  SELECT ia, ib,
         |    CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         |      / len(list_distinct(list_concat(wa.ws, wb.ws))) AS j
         |  FROM cands JOIN w wa ON ia = wa.doc_id JOIN w wb ON ib = wb.doc_id)
         |  WHERE j >= 0.8),
         |vund AS (SELECT ia AS s, ib AS d FROM vp
         |         UNION ALL SELECT ib AS s, ia AS d FROM vp),
         |rnk AS (SELECT s, d FROM (
         |    SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) AS rn
         |    FROM vund) WHERE rn <= 32),
         |cund AS (SELECT r1.s, r1.d FROM rnk r1
         |         JOIN rnk r2 ON r1.s = r2.d AND r1.d = r2.s),
         |vdeg AS (SELECT s, count(*) AS deg FROM cund GROUP BY s),
         |wgt AS (SELECT s, 1000000000000 // deg AS w FROM vdeg),
         |ra AS (
         |  SELECT p, q, cn, ra_e12 FROM (
         |    SELECT x.d AS p, y.d AS q, count(*) AS cn, sum(g.w) AS ra_e12
         |    FROM cund x JOIN cund y ON x.s = y.s AND x.d < y.d
         |    JOIN wgt g ON g.s = x.s
         |    GROUP BY x.d, y.d
         |    HAVING count(*) >= 2) c
         |  WHERE NOT EXISTS (SELECT 1 FROM vp WHERE vp.ia = c.p AND vp.ib = c.q))
         |SELECT p, q, cn, CAST(ra_e12 AS BIGINT) AS ra_e12,
         |  ${graft.functions.Exact.duck6("ra_e12", "1000000000000")} AS ra_score
         |FROM ra""".stripMargin,
    "graph_components" ->
      s"""WITH ${Dedup.clusterChainSql},
         |comp AS (
         |  SELECT coalesce(l3.lbl, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN l3 ON l3.doc_id = d.doc_id),
         |sz AS (SELECT comp, count(*) AS component_size FROM comp GROUP BY comp)
         |SELECT component_size, count(*) AS n_components
         |FROM sz GROUP BY component_size""".stripMargin)
}
