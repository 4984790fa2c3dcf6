package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Checkpoints.CutOps

/** Graph-shaped analytics beyond the iterative loops in
  * [[HierarchyQueries]] (frontier traversal, PageRank) and the
  * connected components in [[graft.operators.ConnectedComponents]]:
  * whole-graph structural metrics computed as plain relational plans.
  *
  * Triangle counting is the canonical "join-shaped graph analytics"
  * benchmark (reference analogue: the graph-adjacency checks the QRT road
  * matcher runs, `etl_lalf_road_missing_qrt.py:221-231`, generalized to a
  * full structural-motif count). The scale shape is the degree-ordered
  * node-iterator: orienting every edge from its (degree, id)-smaller
  * endpoint to the larger one makes each triangle enumerable exactly once
  * and bounds the wedge fan-out of the self-join by O(m^1.5) regardless of
  * degree skew (Suri & Vassilvitskii, "Counting Triangles and the Curse of
  * the Last Reducer", WWW'11) — a hub of degree d generates wedges only
  * from its ≤ √m higher-ordered neighbors, not all d.
  */
object GraphQueries extends QueryCatalog {

  /** Distinct co-supply edges: suppliers adjacent when both ship
    * high-quantity lines of the same order. The quantity filter is
    * pushed to the scan; the self-join shuffles on the order key. */
  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct()
  }

  private val edgesCte =
    """li AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 45),
      |edges AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)""".stripMargin

  /** Two synchronous min-label rounds over neighbors∪self — shared by
    * q_graph_labelprop (the labels) and q_graph_modularity (the quality
    * score of exactly those labels). Takes the edge relation from the
    * caller (r15): modularity already materializes the co-supply edges
    * for its own intra/degree relations, and passing the SAME cut
    * relation in saves re-deriving the lineitem self-join + distinct a
    * second time inside the label build. */
  private def labelPropLabels(e0: DataFrame): DataFrame = {
    val adjBase = e0.unionByName(
      e0.select(col("v").as("u"), col("u").as("v")))
    val nodes = adjBase.select(col("u")).distinct()
    val adj = adjBase
      .unionByName(nodes.select(col("u"), col("u").as("v")))
      .cutLineage(eager = false)
    def round1(labels: DataFrame): DataFrame =
      adj.join(labels, adj("u") === labels("node"))
        .groupBy(col("v").as("n")).agg(min(col("label")).as("l"))
        .select(col("n").as("node"), col("l").as("label"))
    val l0 = nodes.select(col("u").as("node"), col("u").as("label"))
    round1(round1(l0))
  }

  /** DuckDB twin of [[labelPropLabels]] — `l2` is the label relation. */
  private val labelPropCte =
    """adjb AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
      |nodes AS (SELECT DISTINCT u FROM adjb),
      |adj AS (SELECT u, v FROM adjb UNION ALL SELECT u, u FROM nodes),
      |l1 AS (
      |  SELECT adj.v AS node, MIN(adj.u) AS label
      |  FROM adj GROUP BY adj.v),
      |l2 AS (
      |  SELECT adj.v AS node, MIN(l1.label) AS label
      |  FROM adj JOIN l1 ON adj.u = l1.node GROUP BY adj.v)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-supplier triangle participation in the co-supply graph (two
    // suppliers are adjacent when they both ship high-quantity lines of
    // the same order). Plan shape, in scale order:
    //   1. edge build: one equi-join of the filtered lineitem projection
    //      with itself on the order key (quantity filter is pushed to the
    //      scan; ReadSchema carries 3 columns) + a distinct — both shuffle
    //      on keys Catalyst picks;
    //   2. degree: map-side-combinable count over the symmetrized ends —
    //      node-cardinality output, BROADCAST back onto the edges (no
    //      edge-relation shuffle to orient);
    //   3. wedge join e1.b = e2.a and the closing join on (a, b) — the
    //      only edge×edge work, bounded by the orientation;
    //   4. triangle→node explode + count: partial-aggregable, then a
    //      20-row TakeOrderedAndProject.
    // The oriented edge relation feeds the self-join THREE times — one
    // lazy lineage cut materializes it once (PERF.md #2: without the cut
    // the edge-build join replays per consumer and the analyzer walks an
    // exponentially nested plan).
    "q_graph_triangles" -> ((s, dir) => {
      val edges = coSupplyEdges(s, dir).cutLineage(eager = false)
      val deg = edges.select(col("u").as("n"))
        .unionByName(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val uFirst = col("du.d") < col("dv.d") ||
        (col("du.d") === col("dv.d") && col("u") < col("v"))
      val oe = edges
        .join(broadcast(deg).as("du"), col("u") === col("du.n"))
        .join(broadcast(deg).as("dv"), col("v") === col("dv.n"))
        .select(when(uFirst, col("u")).otherwise(col("v")).as("ea"),
          when(uFirst, col("v")).otherwise(col("u")).as("eb"))
        .cutLineage(eager = false)
      val tri = oe.as("e1")
        .join(oe.as("e2"), col("e1.eb") === col("e2.ea"))
        .join(oe.as("e3"),
          col("e3.ea") === col("e1.ea") && col("e3.eb") === col("e2.eb"))
        .select(col("e1.ea").as("x"), col("e1.eb").as("y"),
          col("e2.eb").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("suppkey"))
        .groupBy(col("suppkey")).agg(count(lit(1)).as("tri_cnt"))
        .orderBy(col("tri_cnt").desc, col("suppkey")).limit(20)
    }),

    // Degree distribution of the co-supply graph — the first structural
    // diagnostic before any graph algorithm (skew here predicts reducer
    // skew everywhere downstream; a power-law tail is what the
    // degree-ordered orientation above defuses). Two partial-aggregable
    // groupBys: node degree, then nodes-per-degree.
    // HITS hubs & authorities (Kleinberg 1999), 2 fixed iterations over
    // the DIRECTED customer→supplier trade graph — the bipartite
    // companion of q_graph_pagerank: authority(s) sums hub scores of
    // buyers, hub(c) sums authority of its suppliers. Each half-step is
    // one edge-scan with the (node-cardinality) score vector joined —
    // SIZE-GATED broadcast (Broadcasts.sizeGated over an HLL endpoint
    // estimate, no distinct shuffle): below ~5M nodes the vector rides
    // map-side, above it the node id stays the shuffle key instead of
    // OOMing the driver. Scores are SUM-normalized and rounded to 9 dp
    // per step on BOTH engines so float order can't drift across
    // iterations (the pagerank parity discipline). Fixed iterations
    // keep the oracle replayable.
    "q_graph_hits" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        // lazy cut (r14 opt): the HLL estimate below is the loop's
        // first action anyway — it materializes the cut's blocks AND
        // reads the estimate in ONE job, where the eager cut paid a
        // separate materialization job first (guide §1.2: fewer passes)
        .cutLineage(eager = false)
      // one map-side HLL pass bounds both score vectors' cardinality
      val est = edges.agg(approx_count_distinct(col("sp")).as("nsp"),
        approx_count_distinct(col("c")).as("nc")).first()
      val nMax = math.max(est.getLong(0), est.getLong(1))
      def gated(df: DataFrame): DataFrame =
        graft.operators.Broadcasts.sizeGated(df, nMax)
      // r15 opt (guide §2.4): each score vector materializes ONCE (lazy
      // cut) — the sum-normalizer's broadcast build is its first action
      // and fills the blocks; the main leg and every downstream consumer
      // (the next half-step's gated broadcast) then read blocks instead
      // of replaying the edge-join + groupBy per consumer (the r14
      // measured shape: 5 extra ~0.4 s edge passes per run).
      def normed(df: DataFrame, key: String, v: String): DataFrame = {
        val d = df.cutLineage(eager = false)
        val t = d.agg(sum(col(v)).as("t"))
        d.crossJoin(broadcast(t))
          .select(col(key), round(col(v) / col("t"), 9).as(v))
      }
      // h0 = 1 ⇒ a1 ∝ in-degree
      val a1 = normed(edges.groupBy(col("sp"))
        .agg(count(lit(1)).cast("double").as("a")), "sp", "a")
      val h1 = normed(edges.join(gated(a1), Seq("sp"))
        .groupBy(col("c")).agg(sum(col("a")).as("h")), "c", "h")
      val a2 = normed(edges.join(gated(h1), Seq("c"))
        .groupBy(col("sp")).agg(sum(col("h")).as("a")), "sp", "a")
      a2.select(col("sp").as("s_suppkey"), round(col("a"), 6).as("authority"))
        .orderBy(col("authority").desc, col("s_suppkey"))
        .limit(10)
    }),

    // LOCAL clustering coefficient — per-node cliquishness
    // lcc(u) = 2·t(u) / (d(u)·(d(u)−1)), the node-level companion of
    // the global triangle count: per edge (u,v), the closed wedges at u
    // are |N(u) ∩ N(v)|, summed and halved (each triangle at u closes
    // through two of its edges). Neighbor sets ride as sorted arrays on
    // a node-keyed join — the same adjacency-list join shape as the
    // Jaccard query; per-row set intersection is an array op, no
    // wedge-explosion join. Top-10 by degree.
    "q_graph_local_clustering" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      val edges = e0.unionByName(
        e0.select(col("v").as("u"), col("u").as("v")))
      val nbrs = edges.groupBy(col("u"))
        .agg(sort_array(collect_set(col("v"))).as("ns"))
      val tri = edges
        .join(nbrs, Seq("u"))
        .join(nbrs.select(col("u").as("v"), col("ns").as("ns_v")),
          Seq("v"))
        .groupBy(col("u"))
        .agg((sum(size(array_intersect(col("ns"), col("ns_v")))) / 2)
          .cast("long").as("t"), count(lit(1)).as("d"))
      tri.filter(col("d") >= 2)
        .select(col("u").as("supplier"), col("d").as("degree"), col("t")
          .as("triangles"),
          round(lit(2.0) * col("t") / (col("d") * (col("d") - 1)), 6)
            .as("lcc"))
        .orderBy(col("degree").desc, col("supplier"))
        .limit(10)
    }),

    // Degree assortativity (Newman 2002): Pearson correlation of the
    // endpoint degrees over the edge list — one number separating
    // hub-to-hub networks (> 0) from hub-and-spoke ones (< 0), the
    // structural health check run before graph partitioning (a strongly
    // disassortative graph is the skew-join warning sign). Degrees are
    // one partial-aggregable groupBy BROADCAST onto both edge endpoints
    // (the q_graph_jaccard shape); corr() is a single-pass co-moment.
    // Each undirected edge contributes both orientations so the
    // correlation is symmetric.
    "q_graph_assortativity" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      val edges = e0.unionByName(
        e0.select(col("v").as("u"), col("u").as("v")))
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      edges
        .join(broadcast(deg), Seq("u"))
        .join(broadcast(deg.select(col("u").as("v"), col("d").as("dv"))),
          Seq("v"))
        // r15 (inherited sf0.001 defect): ANSI-mode corr() RAISES
        // Division-by-zero on an empty/degenerate edge set instead of
        // returning the SQL NULL DuckDB returns. The same Pearson value
        // from the same co-moment accumulators, with the degenerate
        // case null-safe: covar_pop/(stddev_pop·stddev_pop) under
        // try_divide. Hash parity re-proven at sf0.001/0.01/0.1.
        .agg(count(lit(1)).as("n_endpoints"),
          round(try_divide(
            covar_pop(col("d").cast("double"), col("dv").cast("double")),
            stddev_pop(col("d").cast("double")) *
              stddev_pop(col("dv").cast("double"))), 6)
            .as("assortativity"))
    }),

    "q_graph_degree_dist" -> ((s, dir) => {
      val edges = coSupplyEdges(s, dir)
      edges.select(col("u").as("n"))
        .unionByName(edges.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // Link prediction by neighbor-set Jaccard over the supplier→part
    // bipartite graph (two suppliers are similar when their part
    // catalogs overlap). Scale shape: common-neighbor counting is ONE
    // self-equi-join on the part key — fan-out bounded by per-part
    // supplier degree, the bipartite twin of the wedge bound above —
    // then degree vectors (node-cardinality) broadcast back on. No
    // supplier×supplier enumeration anywhere.
    "q_graph_jaccard" -> ((s, dir) => {
      val sp = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 45)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p"))
        .distinct()
        .cutLineage(eager = false)
      val deg = sp.groupBy(col("sk")).agg(count(lit(1)).as("d"))
      val com = sp.as("a")
        .join(sp.as("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
        .agg(count(lit(1)).as("common"))
      com
        .join(broadcast(deg).as("d1"), col("s1") === col("d1.sk"))
        .join(broadcast(deg).as("d2"), col("s2") === col("d2.sk"))
        .select(col("s1"), col("s2"), col("common"),
          round(col("common").cast("double") /
            (col("d1.d") + col("d2.d") - col("common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("s1"), col("s2"))
        .limit(20)
    }),

    // Adamic–Adar link prediction over the same supplier→part bipartite
    // projection: common neighbors weighted by 1/ln(part degree), so
    // ubiquitous parts contribute less evidence than rare ones. Same
    // scale shape as q_graph_jaccard — ONE self-equi-join on the part
    // key, fan-out bounded by per-part supplier degree — with the part
    // degree (dimension-sized after the quantity filter) broadcast onto
    // the pair stream; the AA sum is a map-side-combinable aggregate.
    "q_graph_adamic_adar" -> ((s, dir) => {
      val sp = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 45)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("p"))
        .distinct()
        .cutLineage(eager = false)
      // renamed key: pd derives from sp, so an un-renamed `p` would be
      // expression-id-ambiguous against the self-joined a/b legs
      val pd = sp.groupBy(col("p").as("pp")).agg(count(lit(1)).as("pd"))
      sp.as("a")
        .join(sp.as("b"),
          col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
        .join(broadcast(pd), col("a.p") === col("pp"))
        .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
        .agg(count(lit(1)).as("common"),
          round(sum(lit(1.0) / log(col("pd"))), 6).as("aa"))
        .orderBy(col("aa").desc, col("s1"), col("s2"))
        .limit(20)
    }),

    // Two-hop neighborhood feature aggregation — the message-passing
    // primitive of GNN feature pipelines (GraphSAGE-mean without the
    // learned weights): hop 1 averages each customer's adjacent supplier
    // balances, hop 2 averages those customer embeddings back onto
    // suppliers. Each hop is ONE edge-keyed equi-join + one
    // partial-aggregable mean — the relational shape that scales to any
    // edge count (no adjacency lists materialize, degree skew lands in
    // AQE's lap). Feature sums run exact-decimal; the only double
    // reductions are ≤|neighbors| 6-dp-bounded means (QueryCatalog
    // parity note).
    "q_graph_neighbor_agg" -> ((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
        .distinct()
        .cutLineage(eager = false)
      val sf = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_acctbal"))
      // both hop sums run in DECIMAL: a double Σ is summation-order-
      // dependent and diverges from DuckDB by 1 ulp at the 6-dp rounding
      // boundary once neighborhoods grow (caught by the sf0.1 gate)
      val h1 = edges.join(broadcast(sf), col("sk") === col("s_suppkey"))
        .groupBy(col("c"))
        .agg(count(lit(1)).as("deg_c"),
          round(sum(col("s_acctbal").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 6).as("h1"))
      edges.join(h1, Seq("c"))
        .groupBy(col("sk"))
        .agg(count(lit(1)).as("deg_s"),
          round(sum(col("h1").cast("decimal(28,6)")).cast("double")
            / count(lit(1)), 6).as("h2"))
        .join(broadcast(sf), col("sk") === col("s_suppkey"))
        .select(col("sk").as("suppkey"), col("deg_s"),
          round(col("s_acctbal").cast("double"), 6).as("own"), col("h2"))
        .orderBy(col("suppkey"))
    }),

    // Multi-source BFS hop distance over the (cyclic) co-supply graph —
    // frontier iteration with min-dist semantics, the general-graph
    // sibling of HierarchyQueries' DAG traversal. Each round is one
    // frontier⋈edges equi-join plus an anti-join against the reached
    // set; the frontier shrinks monotonically (visited nodes never
    // re-enter), lineage is cut per round, and the depth bound caps the
    // loop. The DuckDB oracle replays it as a bounded WITH RECURSIVE
    // with UNION-distinct on (node, dist) and a min(dist) collapse.
    "q_graph_bfs" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      val edges = e0.unionByName(
          e0.select(col("v").as("u"), col("u").as("v")))
        .cutLineage(eager = false)
      val sources = edges.select(col("u").as("node")).distinct()
        .filter(col("node") % 50 === 0)
      // lazy (r14 opt): the first frontier count materializes the cut
      var reached = sources.withColumn("dist", lit(0))
        .cutLineage(eager = false)
      var frontier = reached
      // ONE action per round (PERF.md #33 discipline, r13): the next
      // frontier is cut LAZILY and count() both materializes its
      // blocks and IS the emptiness probe — the eager-cut + isEmpty
      // pair cost two scheduled jobs per round for the same
      // information
      var frontierRows = frontier.count()
      var reachedRows = frontierRows
      var depth = 0
      while (depth < 3 && frontierRows > 0) {
        depth += 1
        // frontier and reached are node-cardinality vectors whose exact
        // counts the emptiness probes already read — SIZE-GATED
        // broadcast (r15 opt, the CC-round discipline): below the cap
        // each round is one pass over the materialized edge blocks with
        // no edge shuffle; above it the node id stays the shuffle key.
        def gated(df: DataFrame, n: Long): DataFrame =
          graft.operators.Broadcasts.sizeGated(df, n)
        val next = gated(frontier, frontierRows)
          .join(edges, frontier("node") === edges("u"))
          .select(col("v").as("node")).distinct()
          .join(gated(reached, reachedRows), Seq("node"), "left_anti")
          .withColumn("dist", lit(depth))
          .cutLineage(eager = false)
        frontierRows = next.count()
        reachedRows += frontierRows
        reached = reached.unionByName(next).cutLineage(eager = false)
        frontier = next
      }
      reached.orderBy(col("node"))
    }),

    // Weighted single-source shortest paths — bounded synchronous
    // Bellman-Ford: after round k the dist relation holds the exact
    // minimum over all ≤ k-edge paths from any source, so a fixed round
    // count is a DECLARED path-length bound, not an approximation cut
    // short. Each round is ONE dist⋈edges equi-join (shuffle key = the
    // hop node, same as BFS/pagerank) + a map-side-combinable min —
    // state is two fixed-width columns regardless of graph size, and no
    // per-node priority queue exists anywhere (Dijkstra's heap is the
    // thing that does NOT distribute; synchronous relaxation is the
    // 1000-executor form). Weights are a deterministic edge function so
    // the DuckDB oracle can replay them; it enumerates ≤ 4-hop walks
    // with WITH RECURSIVE and min-collapses — independent of the
    // relaxation loop.
    "q_graph_sssp" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      val sym = e0.unionByName(
        e0.select(col("v").as("u"), col("u").as("v")))
      val edges = sym
        .withColumn("w", (col("u") + col("v")) % 5 + lit(1L))
        .cutLineage(eager = false)
      // lazy (r14 opt): the initial signature materializes the cut
      var dist = edges.select(col("u").as("node")).distinct()
        .filter(col("node") % 50 === 0)
        .withColumn("dist", lit(0L)).cutLineage(eager = false)
      // ONE action per round (PERF.md #33, r13): each round's relation
      // is cut lazily and the xor-signature aggregate both materializes
      // it and detects the fixpoint — when the relation stops changing,
      // every later relaxation is a no-op, so exiting early returns the
      // identical ≤4-hop minimum. Signatures equal ⇒ confirm with the
      // exact join probe (collision costs one extra probe, never a
      // wrong answer — the ConnectedComponents discipline).
      // the same single job also reads the exact row count (r15 opt):
      // it sizes the next round's gated broadcast for free, exactly as
      // in the ConnectedComponents rounds
      def sigAndCount(df: DataFrame): (Long, Long) = {
        val r = df.agg(bit_xor(xxhash64(col("node"), col("dist"))),
          count(lit(1))).first()
        (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
      }
      var (prevSig, nDist) = sigAndCount(dist)
      var round = 0
      var converged = false
      while (round < 4 && !converged) {
        round += 1
        // dist is a node-cardinality vector — size-gated broadcast onto
        // the materialized edge blocks (the CC-round discipline): below
        // the cap a relaxation round never shuffles the edges
        val relaxed = graft.operators.Broadcasts.sizeGated(dist, nDist)
          .join(edges, dist("node") === edges("u"))
          .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        val next = dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .cutLineage(eager = false)
        val (sig, n2) = sigAndCount(next)
        converged = sig == prevSig && next.as("n")
          .join(dist.as("o"), col("n.node") === col("o.node"), "full_outer")
          .filter(col("n.dist") =!= col("o.dist") ||
            col("n.dist").isNull =!= col("o.dist").isNull)
          .isEmpty
        prevSig = sig
        nDist = n2
        dist = next
      }
      dist.orderBy(col("node"))
    }),

    // Incremental connected-components maintenance — the streaming-graph
    // twin of the batch clustering: a persisted (node, comp) labeling
    // folds in a NEW edge batch via the star trick (old components are
    // connectivity-equivalent to member→hub stars), so the update cost
    // is bounded by the new batch's merge depth and the accumulated edge
    // history is NEVER replayed. The batch deliberately BRIDGES two
    // pre-existing components (chain {10m..10m+2} ⋈ pair
    // {10m+4,10m+5}) — every member of both must transitively relabel,
    // the case a naive "label only the new endpoints" update gets
    // wrong. The oracle recomputes the full closure over old∪new edges
    // with WITH RECURSIVE — incremental must equal from-scratch.
    "q_graph_cc_incremental" -> ((s, dir) => {
      import graft.operators.ConnectedComponents
      val k = Tables.customer(s, dir).select(col("c_custkey").as("k"))
      val e1 = k.filter(col("k") % 10 < 2)
        .select(col("k").as("u"), (col("k") + 1).as("v"))
        .unionByName(k.filter(col("k") % 10 === 4)
          .select(col("k").as("u"), (col("k") + 1).as("v")))
      val e2 = k.filter(col("k") % 10 === 2)
        .select(col("k").as("u"), (col("k") + 2).as("v"))
      val base = ConnectedComponents.label(e1, col("u"), col("v"))
      ConnectedComponents.incrementalLabel(base, e2, col("u"), col("v"))
        .orderBy(col("node"))
    }),

    // Min-label propagation, two synchronous rounds — the community-
    // detection primitive (and the per-round step of ConnectedComponents,
    // surfaced here as a bounded catalog query the oracle can replay).
    // Each round is ONE edge⋈label equi-join + a min-aggregation over
    // neighbors∪self; labels are node ids, so the state is two
    // fixed-width columns regardless of graph size. The self-loop union
    // keeps isolated-in-round nodes stable without an outer join.
    "q_graph_labelprop" -> ((s, dir) =>
      labelPropLabels(coSupplyEdges(s, dir).cutLineage(eager = false))
        .orderBy(col("node"))),

    // Newman modularity of the label-propagation communities — the
    // quality score that tells you whether the detected partition beats
    // random wiring (Q > 0). Everything reduces to community-cardinality
    // relations: intra-community edge counts (one edge⋈labels join with
    // the node-sized label map BROADCAST), community degree mass (the
    // same broadcast onto the degree vector), and the closed form
    // Q = Σ_c [e_c/m − (d_c/2m)²] folds in a single-row aggregate.
    "q_graph_modularity" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir).cutLineage(eager = false)
      val lab = labelPropLabels(e0).cutLineage(eager = false)
      // the label map is node-cardinality — same size-gated broadcast
      // rule as pagerank/HITS (grows with the data; the count also
      // materializes the lazy cut once for its three consumers)
      val nLab = lab.count()
      def gated(df: DataFrame): DataFrame =
        graft.operators.Broadcasts.sizeGated(df, nLab)
      val m = e0.agg(count(lit(1)).cast("double").as("m"))
      val intra = e0
        .join(gated(lab).as("lu"), col("u") === col("lu.node"))
        .join(gated(lab).as("lv"), col("v") === col("lv.node"))
        .filter(col("lu.label") === col("lv.label"))
        .groupBy(col("lu.label").as("lbl")).agg(count(lit(1)).as("ec"))
      val deg = e0.select(col("u").as("n"))
        .unionByName(e0.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val dc = deg.join(gated(lab), col("n") === col("node"))
        .groupBy(col("label").as("lbl"))
        .agg(sum(col("d")).cast("double").as("dc"))
      dc.join(intra, Seq("lbl"), "left_outer")
        .select(col("lbl"), coalesce(col("ec"), lit(0L)).as("ec"),
          col("dc"))
        .crossJoin(broadcast(m))
        .agg(
          round(sum(col("ec") / col("m") -
            pow(col("dc") / (col("m") * 2), 2)), 6).as("modularity"),
          count(lit(1)).as("n_communities"))
    }),

    // 3-core peel, three synchronous rounds: drop nodes with degree < 3,
    // recount over the induced subgraph, repeat — the densest-region
    // extractor (spam rings, scraper farms, hub communities). Each round
    // is one semi-join of edges against surviving nodes + one
    // partial-aggregable degree count; the round count is FIXED (3) on
    // both engines, so the oracle replays the same bounded peel rather
    // than a fixpoint the two sides might reach at different depths.
    // Output: survivors with their degree in the surviving subgraph.
    "q_graph_kcore" -> ((s, dir) => {
      val e0 = coSupplyEdges(s, dir)
      var edges = e0.unionByName(
          e0.select(col("v").as("u"), col("u").as("v")))
        .cutLineage(eager = false)
      val k = 3
      for (_ <- 1 to 3) {
        val alive = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("u").as("n"))
        edges = edges
          .join(alive.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(alive.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          // lazy (r14 opt): the peel has no per-round action — the one
          // terminal aggregate materializes the 3 chained cuts inside
          // one job instead of 3 scheduled materialization jobs
          .cutLineage(eager = false)
      }
      edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
        .orderBy(col("node"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_graph_local_clustering" ->
      s"""WITH $edgesCte,
         |sym AS (
         |  SELECT u, v FROM edges
         |  UNION ALL SELECT v AS u, u AS v FROM edges),
         |nbrs AS (
         |  SELECT u, list_sort(list(DISTINCT v)) AS ns FROM sym
         |  GROUP BY u),
         |tri AS (
         |  SELECT s.u,
         |    CAST(SUM(len(list_intersect(a.ns, b.ns))) // 2 AS BIGINT)
         |      AS t,
         |    COUNT(*) AS d
         |  FROM sym s JOIN nbrs a ON s.u = a.u JOIN nbrs b ON s.v = b.u
         |  GROUP BY s.u)
         |SELECT u AS supplier, d AS degree, t AS triangles,
         |  round(2.0 * t / (d * (d - 1)), 6) AS lcc
         |FROM tri WHERE d >= 2
         |ORDER BY degree DESC, supplier LIMIT 10""".stripMargin,

    "q_graph_hits" ->
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1r AS (SELECT sp, CAST(COUNT(*) AS DOUBLE) AS a FROM edges
        |        GROUP BY sp),
        |a1 AS (SELECT sp, round(a / (SELECT SUM(a) FROM a1r), 9) AS a
        |       FROM a1r),
        |h1r AS (SELECT c, SUM(a) AS h FROM edges JOIN a1 USING (sp)
        |        GROUP BY c),
        |h1 AS (SELECT c, round(h / (SELECT SUM(h) FROM h1r), 9) AS h
        |       FROM h1r),
        |a2r AS (SELECT sp, SUM(h) AS a FROM edges JOIN h1 USING (c)
        |        GROUP BY sp),
        |a2 AS (SELECT sp, round(a / (SELECT SUM(a) FROM a2r), 9) AS a
        |       FROM a2r)
        |SELECT sp AS s_suppkey, round(a, 6) AS authority
        |FROM a2 ORDER BY authority DESC, s_suppkey LIMIT 10""".stripMargin,

    "q_graph_assortativity" ->
      s"""WITH $edgesCte,
         |sym AS (
         |  SELECT u, v FROM edges
         |  UNION ALL SELECT v AS u, u AS v FROM edges),
         |deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u)
         |SELECT COUNT(*) AS n_endpoints,
         |  round(corr(du.d::DOUBLE, dv.d::DOUBLE), 6) AS assortativity
         |FROM sym JOIN deg du ON sym.u = du.u
         |         JOIN deg dv ON sym.v = dv.u""".stripMargin,
    "q_graph_degree_dist" ->
      s"""WITH $edgesCte,
         |deg AS (
         |  SELECT n, COUNT(*) AS degree FROM (
         |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
         |  GROUP BY n)
         |SELECT degree, COUNT(*) AS n_nodes FROM deg
         |GROUP BY degree ORDER BY degree""".stripMargin,

    "q_graph_triangles" ->
      s"""WITH $edgesCte,
        |deg AS (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |oe AS (
        |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS ea,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS eb
        |  FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
        |tri AS (
        |  SELECT e1.ea AS x, e1.eb AS y, e2.eb AS z
        |  FROM oe e1 JOIN oe e2 ON e1.eb = e2.ea
        |  JOIN oe e3 ON e3.ea = e1.ea AND e3.eb = e2.eb)
        |SELECT suppkey, COUNT(*) AS tri_cnt FROM (
        |  SELECT x AS suppkey FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |GROUP BY suppkey
        |ORDER BY tri_cnt DESC, suppkey LIMIT 20""".stripMargin,

    "q_graph_jaccard" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 45),
        |deg AS (SELECT sk, COUNT(*) AS d FROM sp GROUP BY sk),
        |com AS (
        |  SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS common
        |  FROM sp a JOIN sp b ON a.p = b.p AND a.sk < b.sk
        |  GROUP BY 1, 2)
        |SELECT s1, s2, common,
        |       round(common::DOUBLE / (d1.d + d2.d - common), 6) AS jaccard
        |FROM com
        |JOIN deg d1 ON d1.sk = com.s1
        |JOIN deg d2 ON d2.sk = com.s2
        |ORDER BY jaccard DESC, s1, s2 LIMIT 20""".stripMargin,

    "q_graph_adamic_adar" ->
      """WITH sp AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 45),
        |pd AS (SELECT p, COUNT(*) AS pd FROM sp GROUP BY p)
        |SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS common,
        |       round(sum(1.0 / ln(pd.pd)), 6) AS aa
        |FROM sp a
        |JOIN sp b ON a.p = b.p AND a.sk < b.sk
        |JOIN pd ON pd.p = a.p
        |GROUP BY 1, 2
        |ORDER BY aa DESC, s1, s2 LIMIT 20""".stripMargin,

    "q_graph_neighbor_agg" ->
      """WITH edges AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sk
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |h1 AS (
        |  SELECT c, COUNT(*) AS deg_c,
        |    round(CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      / COUNT(*), 6) AS h1
        |  FROM edges e JOIN supplier s ON e.sk = s.s_suppkey
        |  GROUP BY c),
        |h2 AS (
        |  SELECT sk, COUNT(*) AS deg_s,
        |    round(CAST(SUM(CAST(h1 AS DECIMAL(28,6))) AS DOUBLE)
        |      / COUNT(*), 6) AS h2
        |  FROM edges JOIN h1 USING (c) GROUP BY sk)
        |SELECT h2.sk AS suppkey, h2.deg_s,
        |  round(CAST(s.s_acctbal AS DOUBLE), 6) AS own, h2.h2
        |FROM h2 JOIN supplier s ON h2.sk = s.s_suppkey
        |ORDER BY suppkey""".stripMargin,

    "q_graph_bfs" ->
      s"""WITH RECURSIVE $edgesCte,
        |e AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |bfs(node, dist) AS (
        |  SELECT DISTINCT u AS node, 0 AS dist FROM e WHERE u % 50 = 0
        |  UNION
        |  SELECT e.v, bfs.dist + 1 FROM bfs JOIN e ON e.u = bfs.node
        |  WHERE bfs.dist < 3)
        |SELECT node, MIN(dist) AS dist FROM bfs
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_graph_cc_incremental" ->
      """WITH RECURSIVE e AS (
        |  SELECT c_custkey AS u, c_custkey + 1 AS v FROM customer
        |  WHERE c_custkey % 10 < 2 OR c_custkey % 10 = 4
        |  UNION ALL
        |  SELECT c_custkey, c_custkey + 2 FROM customer
        |  WHERE c_custkey % 10 = 2),
        |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |reach(node, r) AS (
        |  SELECT u AS node, u AS r FROM sym
        |  UNION
        |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node)
        |SELECT node, MIN(r) AS comp FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_graph_sssp" ->
      s"""WITH RECURSIVE $edgesCte,
        |e AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |we AS (SELECT u, v, (u + v) % 5 + 1 AS w FROM e),
        |walk(node, dist, hops) AS (
        |  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist, 0 AS hops
        |  FROM we WHERE u % 50 = 0
        |  UNION
        |  SELECT we.v, walk.dist + we.w, walk.hops + 1
        |  FROM walk JOIN we ON we.u = walk.node
        |  WHERE walk.hops < 4)
        |SELECT node, MIN(dist) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_graph_labelprop" ->
      s"""WITH $edgesCte,
        |$labelPropCte
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin,

    "q_graph_modularity" ->
      s"""WITH $edgesCte,
        |$labelPropCte,
        |m AS (SELECT COUNT(*)::DOUBLE AS m FROM edges),
        |intra AS (
        |  SELECT lu.label AS lbl, COUNT(*) AS ec
        |  FROM edges e
        |  JOIN l2 lu ON e.u = lu.node
        |  JOIN l2 lv ON e.v = lv.node
        |  WHERE lu.label = lv.label GROUP BY 1),
        |deg AS (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |dc AS (
        |  SELECT l2.label AS lbl, SUM(d)::DOUBLE AS dc
        |  FROM deg JOIN l2 ON deg.n = l2.node GROUP BY 1)
        |SELECT round(SUM(coalesce(ec, 0) / m.m
        |    - pow(dc.dc / (2 * m.m), 2)), 6) AS modularity,
        |  COUNT(*) AS n_communities
        |FROM dc LEFT JOIN intra ON dc.lbl = intra.lbl, m""".stripMargin,

    "q_graph_kcore" ->
      s"""WITH $edgesCte,
        |e1 AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |a1 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3),
        |f1 AS (SELECT e.u, e.v FROM e1 e
        |       JOIN a1 x ON e.u = x.u JOIN a1 y ON e.v = y.u),
        |a2 AS (SELECT u FROM f1 GROUP BY u HAVING COUNT(*) >= 3),
        |f2 AS (SELECT e.u, e.v FROM f1 e
        |       JOIN a2 x ON e.u = x.u JOIN a2 y ON e.v = y.u),
        |a3 AS (SELECT u FROM f2 GROUP BY u HAVING COUNT(*) >= 3),
        |f3 AS (SELECT e.u, e.v FROM f2 e
        |       JOIN a3 x ON e.u = x.u JOIN a3 y ON e.v = y.u)
        |SELECT u AS node, COUNT(*) AS core_deg FROM f3
        |GROUP BY u ORDER BY node""".stripMargin
  )
}
