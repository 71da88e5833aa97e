package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Det._
import graft.io.Sources

/** Distributed connected components over a DataFrame edge list — the
  * missing last stage of the dedup story: LSH candidate PAIRS become
  * duplicate CLUSTERS, and one canonical document per cluster survives.
  * (Reference surface reconstruction: postpy has no graph ops; this is a
  * north-star LLM-pipeline operator — near-dup dedup at corpus scale is
  * pair-generation → components → keep-one, per the standard MinHash-LSH
  * pipeline literature.)
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round every node takes the minimum label among
  * itself and its neighbors; at fixpoint all nodes of a component carry
  * the component's minimum id. Each round is ONE hash-shuffle join on id
  * plus a groupBy — fully distributed, no driver-side row data (the only
  * per-round action is a scalar changed-count). Lineage is truncated every
  * round with localCheckpoint so the plan stays O(1) deep regardless of
  * iteration count; on a real cluster with preemptible executors use
  * reliable checkpoint() instead. Superseded per-round checkpoint blocks
  * are dropped by reference: once a round's frame goes unreferenced,
  * Spark's ContextCleaner reclaims its blocks asynchronously (driver-GC
  * triggered), so storage stays bounded by the live frame, not the round
  * count.
  *
  * Scale shape: rounds = component DIAMETER, and near-dup clusters are
  * shallow (dozens of members, diameter a few hops), so 3-5 rounds settle
  * a 100 TB corpus. For adversarial path-shaped graphs switch to the
  * alternating large-star/small-star doubling scheme (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — same join
  * primitive, O(log²) rounds; not needed for the dedup workload this
  * serves.
  */
object Graph {

  /** Components of the undirected graph given by (src, dst) edge rows.
    * Returns (id, component) for every node that appears in an edge;
    * component = the minimum node id of the connected component.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    // A NULL endpoint is dropped (it denotes "no edge", not a node — and
    // the recursive-CTE oracle would never reach it through a NULL join
    // key).
    // r12 opt: symmetrize with ONE explode per edge row (the old
    // self-union evaluated the upstream plan twice and needed a separate
    // e0 checkpoint to avoid that), then ONE exchange — hash by dst
    // (dst-clustering satisfies the (src,dst) dedup), so the per-round
    // `sym ⋈ labels` on dst never re-shuffles the adjacency; and the
    // per-round `labels ⋈ nbrMin` on id reuses the id partitioning both
    // sides inherit (labels from the previous round's checkpointed join
    // output, nbrMin from its groupBy) — per round, only the nbr-min
    // census exchange moves data.
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(eager = false) // lazy r12: round 1 materializes, later rounds reuse
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // min neighbor label per node: one shuffle join + one partial-agg'd groupBy
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_min"))
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
                least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        // lazy (r12): the changed-count below is the materializing action,
        // so the eager form paid a separate checkpoint job per round
        .localCheckpoint(eager = false)
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("component"))
  }

  /** Fixed-iteration PageRank over a directed edge list — the classic
    * simplified formulation (the one in the public Spark examples and the
    * original Hadoop formulation): r_0(v) = 1.0;
    * r_{t+1}(v) = (1−d) + d · Σ_{u→v} r_t(u)/outdeg(u).
    * No dangling-mass redistribution and no 1/N normalization, which keeps
    * every step a pure dataflow (no per-round driver scalar) and makes the
    * recursion expressible verbatim in plain SQL for the oracle twin.
    *
    * A FIXED iteration count (not convergence detection) is deliberate:
    * the result is a deterministic function of the edge list, so it can
    * sit under the hash-match gate; production callers who want a
    * tolerance loop can wrap it (each extra round is one join + one agg).
    *
    * Scale shape per round: edges ⋈ ranks on src (one hash shuffle on the
    * SAME key every round — co-partitioning is reused), groupBy dst (one
    * shuffle), left join back to the node set. Edges, degrees and nodes
    * are materialized ONCE (localCheckpoint — each is referenced every
    * round); the rounds themselves stay LAZY: each round references the
    * previous ranks exactly once, so the composed plan is linear in
    * `iterations` and the whole computation runs as one pipelined job —
    * no per-round materialization barrier (connectedComponents needs one
    * because its convergence count is a per-round ACTION; a fixed-round
    * loop has none). For long loops on huge graphs set `checkpointEvery`
    * to bound lineage/optimizer growth. Rank error vs the true
    * eigenvector decays as d^t; 5 rounds is the planning-score regime,
    * not web-graph convergence.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85,
               checkpointEvery: Int = 0): DataFrame = {
    // Every loop-invariant frame is hash-partitioned on its per-round join
    // key before it is checkpointed, but localCheckpoint does NOT carry
    // that partitioning into the plan: a checkpointed frame plans as
    // `Scan ExistingRDD`, so every round re-plans
    // `Scan ExistingRDD[src,dst]` -> `Exchange hashpartitioning(src, n)`,
    // and likewise for the node and degree frames (see the planned
    // q_pagerank query). Only exchange reuse keeps the rounds cheap: these
    // exchanges are identical in every round, so AQE runs each once and
    // later rounds read it as a `ReusedExchange`. The one new shuffle per
    // round is the contribs groupBy on `dst`.
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      // ONE exchange: hash by src, then dedup (src-clustering satisfies
      // the (src,dst) aggregate, so no second exchange); the plans that
      // read the checkpoint still exchange by src (see above)
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(eager = false) // lazy r12: the single pipelined rank job materializes all three
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct() // distinct ⇒ already hash-partitioned by id
      .localCheckpoint(eager = false)
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .join(deg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("outdeg")).as("c"))
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
                (lit(1.0 - damping) + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Breadth-first search from a source node: hop distance for every node
    * reachable within `maxHops`. One join + anti-join per level — the
    * frontier-expansion dataflow (each level is a hash join on the node
    * key; the anti-join against the visited set is what keeps a dense
    * graph from re-expanding already-settled nodes). Levels are
    * checkpointed so lineage stays O(1) per round, like
    * connectedComponents. Rounds = the radius of interest, not data size.
    */
  def bfsHops(edges: DataFrame, src: Long, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // r12 opt: symmetrize with ONE explode per input row instead of a
    // self-union (the union evaluated the upstream edge plan twice and
    // needed its own checkpoint to avoid that); then ONE exchange — hash
    // by src (clustering by src satisfies the (src,dst) dedup, and every
    // round's frontier join keys on src, so the adjacency never
    // re-shuffles). The 1-row visited seed needs no materialization.
    val sym = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .localCheckpoint(eager = false) // lazy r12: the one 3-hop job materializes it
    var visited = Seq((src, 0)).toDF("id", "hop")
    var frontier = visited.select(col("id"))
    var h = 0
    while (h < maxHops) {
      h += 1
      // only the new level materializes: `visited` is a union chain over
      // already-checkpointed levels, so re-deriving it each round costs a
      // union of cached blocks, not a recomputation (3 rounds deep)
      // r13 (guide §3.1/§3.2, VERDICT r12 #9): BROADCAST the frontier and
      // the visited set — both are id-only frames bounded by the k-hop
      // neighborhood, orders of magnitude smaller than the adjacency. The
      // unhinted SMJ re-SORTED the src-partitioned adjacency every level
      // and exchanged the frontier; as broadcast hash joins the adjacency
      // is never sorted or re-shuffled, and the anti-join loses its
      // exchange too. (For frontiers beyond broadcast size — web-graph
      // BFS, not this bounded-radius query — drop the hints and the
      // partitioned SMJ form returns.)
      val next = sym.join(broadcast(frontier.withColumnRenamed("id", "src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(broadcast(visited), Seq("id"), "left_anti")
        .withColumn("hop", lit(h))
        // LAZY checkpoint (r12): still truncates lineage and caches the
        // level's blocks at first compute — `next` is referenced twice
        // (visited union + next frontier) and materializes once — but
        // without an eager per-level job barrier: the whole 3-hop
        // expansion runs as one job at the final action.
        .localCheckpoint(eager = false)
      visited = visited.union(next)
      frontier = next.select(col("id"))
    }
    visited
  }

  /** q_bfs_hops: hop-distance distribution from customer 0 over the
    * customer↔supplier trade graph (3 hops: the suppliers customer 0 buys
    * from, their other customers, those customers' other suppliers) — the
    * reachability/radius profile of the transaction network, and the
    * shortest-path sibling of q_pagerank/q_dedup_clusters on the same
    * edge machinery. Output: (hop, n_nodes, sum of original keys) —
    * exact integers.
    */
  def bfsHopsQuery(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Sources.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Sources.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    bfsHops(pairs, src = 0L, maxHops = 3)
      .groupBy(col("hop").cast("long").as("hop"))
      .agg(count(lit(1)).as("n_nodes"),
           sum(floor(col("id") / 2)).cast("long").as("sum_key"))
      .orderBy(col("hop"))
  }

  /** q_pagerank: PageRank over the customer↔supplier trade graph —
    * an edge per DISTINCT (customer, supplier) trading pair from
    * orders ⋈ lineitem, symmetrized so rank flows both ways (popular
    * suppliers lift the customers who buy from them and vice versa).
    * Node ids are made disjoint arithmetically (customer 2k, supplier
    * 2k+1 — engine-portable, no string keys through the shuffles).
    * 5 rounds, d = 0.85, round-6 on output only: both engines iterate
    * the same IEEE-double tree and the final rounding absorbs ulp-level
    * summation-order drift (the q_bm25 determinism pattern).
    */
  /** Triangle counting over an undirected edge list via DEGREE ORIENTATION
    * (the node-iterator++ / forward algorithm; Schank & Wagner 2005,
    * Suri & Vassilvitskii WWW'11 for the MapReduce form): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher
    * one, enumerate directed wedges (u→v, u→w), and close each wedge
    * against the edge set. Orientation is the whole scale story: on ANY
    * graph the out-degree of every node is O(√m), so the wedge join emits
    * O(m^1.5) rows worst-case — versus Θ(Σ deg²) (quadratic in the hot
    * node's degree) for the naive wedge enumeration. On a skewed 100 TB
    * co-occurrence graph the hub nodes are exactly where naive dies; here
    * hubs sit on the RECEIVING side of every one of their edges and emit
    * no wedges at all. All three steps are hash equi-joins (node key, then
    * the (v, w) pair key); nothing is ever collected.
    *
    * Edges must be (u, v) with u < v, one row per undirected edge.
    * Returns one row: n_nodes, n_edges, n_triangles.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .filter(col("u") < col("v"))
      // lazy (r12): all references sit in ONE final job — blocks cache at
      // first compute, no separate materialization job
      .localCheckpoint(eager = false) // referenced by degrees, orientation, and the closing semi-join
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val lowerFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(lowerFirst, col("u")).otherwise(col("v")).as("src"),
      when(lowerFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(eager = false) // joined with itself for wedges (lazy, r12)
    val wedges = oriented.as("w1")
      .join(oriented.as("w2"), col("w1.src") === col("w2.src") && col("w1.dst") < col("w2.dst"))
      .select(least(col("w1.dst"), col("w2.dst")).as("u"),
              greatest(col("w1.dst"), col("w2.dst")).as("v"))
    val tri = wedges.join(e, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** q_triangle_count: triangles in the supplier CO-ORDER graph — an edge
    * between two suppliers that fill the same order at least 5 distinct
    * times (the weight threshold keeps the graph sparse as the corpus
    * grows; without it a co-occurrence graph densifies toward a clique and
    * triangle counting is meaningless at any scale). The declared output
    * is the one-row (nodes, edges, triangles) profile — the clustering-
    * coefficient numerator every graph-shape audit starts with.
    */
  /** The shared co-order supplier edge set (u, v), u < v: suppliers
    * co-filling at least `minCount` distinct orders — the one graph all
    * three graph-census keys (triangles, degrees, communities) run over;
    * factored per VERDICT r9 #5 (was triplicated verbatim).
    *
    * Per-order supplier sets are TINY (~4-7), so pair generation runs as
    * a map-side HOF over one collect_set aggregate instead of the
    * distinct + self-join spelling (two fewer shuffles over the fact;
    * the oracle twins keep the equivalent join spelling — semantics are
    * identical). NB the round-3 note: for LARGE per-key lists (doc
    * shingles) the explode-pairs form measured slower — list size
    * decides, not taste. The weight threshold keeps the graph sparse as
    * the corpus grows.
    */
  def coOrderEdges(spark: SparkSession, dir: String, minCount: Long = 5L): DataFrame = {
    val perOrder = Sources.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_suppkey"))).as("ss"))
    perOrder.select(explode(flatten(transform(col("ss"), (x, i) =>
      transform(slice(col("ss"), i + lit(2), size(col("ss"))),
                y => struct(x.as("u"), y.as("v")))))).as("p"))
      .select(col("p.u"), col("p.v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("u"), col("v"))
  }

  def triangleCountQuery(spark: SparkSession, dir: String): DataFrame =
    triangleCount(coOrderEdges(spark, dir))

  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Sources.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Sources.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    pageRank(sym, "src", "dst", iterations = 5, damping = 0.85)
      .select(when(col("id") % 2 === 0, "c").otherwise("s").as("kind"),
              floor(col("id") / 2).cast("long").as("key"),
              r6(col("rank")).as("pr"))
      .orderBy(col("kind"), col("key"))
  }

  /** q_degree_dist: degree distribution of the co-order supplier graph —
    * the first thing anyone asks of a graph ("is it power-law? any
    * hubs?") and the input to the q_triangle_count orientation argument.
    * Same weighted edge construction as the triangle key (suppliers
    * co-filling >= 5 orders, map-side HOF pair generation); then degree
    * per node, nodes per degree. All integers; the id sum pins membership,
    * not just counts.
    */
  def degreeDistQuery(spark: SparkSession, dir: String): DataFrame = {
    val edges = coOrderEdges(spark, dir)
    // r13 (guide §2.4/§2.3, VERDICT r12 #4): endpoint census as ONE
    // explode(array(u, v)) per edge row — the old unionAll of two
    // different projections evaluated the whole coOrderEdges
    // pair-generation subtree (collect_set + HOF pair expansion +
    // (u,v)-count) TWICE: the branches are distinct plans, so exchange
    // reuse never dedups them. Same multiset of endpoints, one subtree.
    edges.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"), sum(col("n")).as("sum_id"))
      .orderBy(col("deg"))
  }

  /** q_graph_assortativity: Newman's degree-assortativity coefficient of
    * the co-order supplier graph — "do hubs link to hubs" (r > 0,
    * social-network shape) or "hubs to leaves" (r < 0, infrastructure
    * shape): the one-number mixing summary next to q_degree_dist's full
    * spectrum. r is the Pearson correlation of endpoint degrees over
    * edges; every moment (M, Σ jk, Σ(j+k), Σ(j²+k²)) is an EXACT BIGINT
    * — one edge-grain aggregate after two degree-lookup joins — so the
    * declared sums pin membership and the single IEEE tree (round-6)
    * finalizes r identically in both engines. Zero variance (all degrees
    * equal — the ENTIRE sf0.001 graph is 9-regular, so this is a live
    * case, not a corner) yields r = NULL via the exact integer test
    * 2M·Σ(j²+k²) = (Σ(j+k))² — the moments row itself is always emitted,
    * so the gate proves membership at every SF and there is no float
    * boundary to flip. Scale: degrees are node-grain (tiny
    * next to edges), the two lookups are hash joins AQE can broadcast;
    * nothing downstream of the edge aggregate is data-sized. Moment
    * magnitudes: Σ(j²+k²)·2M and (Σ(j+k))² need |E|·deg²·2|E| < 2⁶³ —
    * holds through every declared SF with >10³ headroom; beyond that the
    * guard moves to DECIMAL(38,0), r itself is unchanged.
    */
  def assortativityQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = coOrderEdges(spark, dir)
      .localCheckpoint(eager = false) // consumed by the degree census + the edge join (lazy, r12)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val j = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    val m = j.agg(count(lit(1)).as("n_edges"),
      sum(col("du") * col("dv")).as("s_jk"),
      sum(col("du") + col("dv")).as("s_sum"),
      sum(col("du") * col("du") + col("dv") * col("dv")).as("s_sq"))
    val mD = col("n_edges").cast("double")
    val mu = col("s_sum").cast("double") / (mD * 2.0)
    m.filter(col("n_edges") > 0)
      .select(col("n_edges"), col("s_jk"), col("s_sum"), col("s_sq"),
        when(col("s_sq") * col("n_edges") * 2 =!= col("s_sum") * col("s_sum"),
          r6((col("s_jk").cast("double") / mD - mu * mu) /
             (col("s_sq").cast("double") / (mD * 2.0) - mu * mu))).as("r"))
  }

  /** q_jaccard_neighbors: neighborhood Jaccard per co-order edge —
    * |N(u)∩N(v)| / |N(u)∪N(v)|, the link-prediction / graph-sparsification
    * score ("how embedded is this tie"): edges whose endpoints share most
    * of their neighborhoods are community-internal; near-zero scores are
    * bridges (the local-sparsification keep rule, Satuluri et al. 2011 —
    * public method). Common neighbors come from the wedge self-join on
    * the symmetric adjacency (each wedge counted once via a<b), then a
    * LEFT join back to the edge list keeps zero-overlap edges; union =
    * du + dv − common (open neighborhoods, no self-loops by
    * construction). Integer counts end in ONE IEEE division, round-6.
    * Scale: a common neighbor of an EDGE is exactly a triangle through
    * it, so the counts come from the DEGREE-ORIENTED triangle
    * enumeration (each wedge generated at its lowest-degree apex — the
    * q_triangle_count arboricity-style bound, Σ out-deg², NOT the
    * unoriented Σ deg² a naive adjacency self-join pays on hub-skewed
    * graphs), each surviving triangle exploded into its three edges.
    */
  def jaccardNeighborsQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val e = coOrderEdges(spark, dir)
      .localCheckpoint(eager = false) // referenced by degrees, orientation, and the edge joins (lazy, r12)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
    val lowerFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(lowerFirst, col("u")).otherwise(col("v")).as("src"),
      when(lowerFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(eager = false) // joined with itself for wedges (lazy, r12)
    val wedges = oriented.as("w1")
      .join(oriented.as("w2"), col("w1.src") === col("w2.src") && col("w1.dst") < col("w2.dst"))
      .select(col("w1.src").as("w"),
              col("w1.dst").as("u"), col("w2.dst").as("v"))
    val tri = wedges.join(e, Seq("u", "v"), "left_semi") // (u, v, w) real triangles
    val common = tri.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(least(col("w"), col("u")).as("a"), greatest(col("w"), col("u")).as("b")),
        struct(least(col("w"), col("v")).as("a"), greatest(col("w"), col("v")).as("b")))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
    e.join(common, Seq("u", "v"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        r6(col("common").cast("double") /
           (col("du") + col("dv") - col("common")).cast("double")).as("jacc"))
      .orderBy(col("u"), col("v"))
  }

  /** Synchronous label propagation (LPA, Raghavan et al. 2007 — public
    * method): `rounds` sync updates where every node adopts the most
    * frequent label among its neighbours, ties to the SMALLEST label.
    * Sync + min-tiebreak makes the result a pure function of the edge
    * set (async LPA is order-dependent — unusable under a hash gate).
    * Each round is ONE hash join (edges ⋈ labels) + one aggregate + one
    * per-node argmax window — all partitioned by node id; lineage is cut
    * per round (the CC pattern).
    *
    * Node ids must be SIGNED NUMERIC (and not Long.MinValue): the argmax
    * tie-break negates the label (max of (cnt, −label) = highest count,
    * ties to smallest label), which has no meaning for string keys and
    * would overflow on Long.MinValue (ADVICE r12). Every caller maps to
    * long ids first; for orderable non-numeric ids use the row_number
    * window form this replaced.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    // r12 opt (guide §2.4): the adjacency is materialized ALREADY
    // partitioned by the per-round join key, so none of the `rounds`
    // joins re-shuffles the edge list — only the (src,label) census and
    // the per-node argmax move data. The rounds themselves stay LAZY
    // (fixed round count, no per-round action, and each round references
    // the previous labels exactly ONCE, so the composed plan is linear in
    // `rounds` — the q_pagerank argument; the old per-round eager
    // localCheckpoint paid a materialization job every round for nothing).
    // r13 (guide §2.4, the CC/BFS explode-symmetrize trick): ONE explode
    // per edge row instead of unionAll of two projections — the upstream
    // edge plan (for q_communities the full coOrderEdges pair-generation)
    // is evaluated ONCE into the materialized adjacency, not twice.
    val und = edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .localCheckpoint(eager = false) // lazy r12: the one pipelined LPA job materializes it
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    (1 to rounds).foreach { _ =>
      // per-node argmax as ONE hash aggregate (max_by on (cnt, -label):
      // highest count wins, ties to the SMALLEST label — identical to the
      // old row_number window, minus the window's per-partition sort)
      labels = und
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl")))
          .getField("nl").as("label"))
        .select(col("id"), (-col("label")).as("label"))
    }
    labels
  }

  /** q_communities: LPA communities of the co-order supplier graph after
    * 3 sync rounds — the community census (which supplier cliques fill
    * orders together), the graph sibling of q_dedup_clusters' pure
    * connectivity. Same weighted edge construction as q_triangle_count /
    * q_degree_dist; output pins membership (min id, id sum), not just
    * sizes. The oracle unrolls the 3 rounds as chained CTEs — identical
    * integer semantics, no recursion needed for a FIXED round count.
    */
  def communitiesQuery(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(coOrderEdges(spark, dir), "u", "v", rounds = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"),
           sum(col("id")).as("sum_id"))
      .orderBy(col("community"))
}
