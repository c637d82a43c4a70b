package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphBuilder, GraphStore, PropertyGraph}

/** Graph-metric gates (components, triangles, centralities, k-core/truss, layering, sampling walks, HyperBall).
  *
  * Split from the former single-object SparkEntry (round 14) — a pure
  * refactor: every entry body is byte-identical, gate names and oracle
  * SQL unchanged; [[SparkEntry]] composes the family maps back together.
  */
private[graft] object GatesGraphMetrics extends GateFamily {
  import GateSupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // GraphX bridge: connected components on the supplier-nation-region
    // subgraph (undirected reachability, component = min vertex id).
    "x1_connected_components" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      val sub = PropertyGraph(
        g.V.filter(col("label").isin("supplier", "nation", "region")),
        g.E.filter(expr(s"src div ${B}").isin(4, 2)))
      graph.GraphXBridge.connectedComponents(s, sub, numParts = 8)
    }),

    // GraphX static PageRank, SELF-EVALUATING (the cd7 pattern): float
    // ranks are summation-order-dependent in the last ulp, so the gate
    // joins GraphX's result against the integer fixed-point twin
    // (pageRankFixed — same initial rank 1.0, same 0.15 + 0.85·Σ step,
    // same iteration count; GraphX additionally normalizes final ranks to
    // sum to |V|, so the twin is normalized the same way before compare)
    // and emits the deterministic rank_micro plus the VERDICT: graphx_ok
    // flips (and the hash breaks) if GraphX ever drifts more than 5e-4
    // from the normalized integer fixpoint. The oracle recomputes
    // rank_micro (x4's unrolled recurrence) and asserts the verdict true.
    "x2_pagerank" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      val sub = PropertyGraph(
        g.V.filter(col("label").isin("supplier", "nation", "region")),
        g.E.filter(expr(s"src div ${B}").isin(4, 2)))
      val gx = graph.GraphXBridge.pageRank(s, sub, iters = 3, numParts = 8)
        .withColumnRenamed("id", "__gid")
      val fx = graph.GraphXBridge.pageRankFixed(sub.E.select("src", "dst"), iters = 3)
      val norm = fx.agg(sum(col("rank_micro")).as("__total"), count(lit(1)).as("__n"))
      fx.crossJoin(broadcast(norm))
        .join(gx, col("id") === col("__gid"))
        .select(col("id"), col("rank_micro"),
          (abs(col("rank") - col("rank_micro") * col("__n") / col("__total"))
            <= lit(5e-4)).as("graphx_ok"))
    }),

    // GraphX triangle count over a customer–nation–region graph with
    // 2-hop shortcut edges (each customer closes one triangle).
    "x3_triangle_count" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"), (lit(2L * B) + col("c_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"), (lit(1L * B) + col("n_regionkey")).as("dst"))
      val cr = t(s, dir, "customer").join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select((lit(3L * B) + col("c_custkey")).as("src"),
          (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.GraphXBridge.triangleCount(s, cn.unionByName(nr).unionByName(cr), numParts = 8)
        .filter(col("n_triangles") > 0)
    }),

    // Deterministic fixed-point PageRank (integer micro-rank units) on the
    // supplier–nation–region graph — the cross-engine-verifiable twin of
    // x2's GraphX float PageRank.
    "x4_pagerank_fixed" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"), (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"), (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.GraphXBridge.pageRankFixed(sn.unionByName(nr), iters = 3)
    }),

    // Weighted shortest paths (Bellman-Ford, exact BIGINT distances) from
    // the region vertices over the REVERSED containment graph, with
    // deterministic synthetic weights — the weight property the reference
    // writes on every edge (main.go:321), finally traversed as a weight.
    "x8_weighted_sssp" -> ((s, dir) => {
      val ns = t(s, dir, "nation").select(
        (lit(1L * B) + col("n_regionkey")).as("src"),
        (lit(2L * B) + col("n_nationkey")).as("dst"),
        (col("n_nationkey") % 3 + 1).cast("long").as("w"))
      val sp = t(s, dir, "supplier").select(
        (lit(2L * B) + col("s_nationkey")).as("src"),
        (lit(4L * B) + col("s_suppkey")).as("dst"),
        (col("s_suppkey") % 5 + 1).cast("long").as("w"))
      val seeds = t(s, dir, "region").select((lit(1L * B) + col("r_regionkey")).as("id"))
      graph.Traversal.sssp(ns.unionByName(sp), seeds)
    }),

    // Borůvka minimum spanning forest over the containment graph plus two
    // md5-weighted rings (the base graph is a tree — rings add the cycles
    // an MST must break). THE parallel MST: Prim/Kruskal are sequential by
    // construction; Borůvka merges every component each round, ≤ log₂ V
    // rounds of joins. The (w, u, v) lexicographic edge order makes the
    // forest unique, so the oracle replays sequential Prim under the same
    // order and must land on the identical edge set.
    // Condensation layering: collapse every cycle to its SCC, then
    // longest-path-layer the quotient DAG — the composition that lifts
    // x30's DAG-only layering to ARBITRARY digraphs (the condensation of
    // any digraph is acyclic, so topoLayers' cycle-throw can never
    // fire). Graph: suppliers → the 25-nation directed ring (one
    // genuine SCC) → regions; output (component, layer, n_members) —
    // suppliers singletons at 0, the ring SCC at 1, regions at 2.
    "x31_condensation_layers" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nring = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(2L * B) + (col("n_nationkey") + 1) % 25).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val e = sn.unionByName(nring).unionByName(nr)
      val comp = Cuts.cut(graph.Traversal.scc(e))
      val ce = e
        .join(comp.select(col("id").as("src"), col("component").as("csrc")),
          Seq("src"))
        .join(comp.select(col("id").as("dst"), col("component").as("cdst")),
          Seq("dst"))
        .filter(col("csrc") =!= col("cdst"))
        .select(col("csrc").as("src"), col("cdst").as("dst")).distinct()
      graph.Traversal.topoLayers(ce)
        .withColumnRenamed("id", "component")
        .join(comp, Seq("component"))
        .groupBy(col("component"), col("layer"))
        .agg(count(lit(1)).as("n_members"))
    }),

    // DEEP-DAG layering: the depth-escape path of topoLayers driven under
    // the oracle. The corpus is a chain-with-width DAG derived from the
    // dense documents ids — w disjoint chains (edge n → n+w), width
    // w = max(2, N/128), so the critical path is ~128+ levels at EVERY sf
    // (depth pinned, width grows with data — the scale axis a dependency
    // DAG actually has). 128 ≫ switchDepth=32, so the frontier loop
    // ABANDONS level sets and restarts as topoLayersDoubling (max-plus
    // relation squaring, ⌈log₂ depth⌉+1 ≈ 8 composition rounds instead
    // of ~64 serial frontier jobs); the gate REQUIRES that switch via the
    // topoDoublingSwitches counter — a silent fall-back to the
    // depth-serialized path is a red gate, not a quiet 8× job-count
    // regression. Disjoint chains keep the materialized closure at
    // O(N·depth) rows (N²/2w), the bound that makes doubling affordable
    // here. Oracle: layer(n) = n div w in closed form — the generated
    // corpus is exactly what makes the fixpoint independently checkable.
    "x32_deep_layers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val n = docs.count() // one metadata-cheap job to size the width knob
      val w = math.max(2L, n / 128L)
      // node id = doc_id RANK, not doc_id: the id space must be dense for
      // the closed-form oracle, and the 10× ScaleUp replica strides its
      // keys (raw ids would leave replicas 2..10 edge-less and the DAG
      // shallow). The single-partition window is corpus GENERATION for
      // the gate, not the operator under test — at real scale the dense
      // id would come from the data itself.
      val nodes = docs.select((row_number().over(Window.orderBy(col("doc_id")))
        - 1).cast("long").as("nid"))
      val edges = nodes.select(col("nid").as("src"),
          (col("nid") + lit(w)).as("dst"))
        .filter(col("dst") < n)
      val before = graph.Traversal.topoDoublingSwitches.get()
      // topoLayers materializes eagerly (its convergence probes run the
      // jobs), so the switch has fired — or not — by the time it returns.
      // 8 shuffle partitions, scoped: ~17 serial round-trip jobs (16
      // frontier probes + 8 doubling rounds) over a ≤320k-row closure are
      // LATENCY-bound, not data-bound — the deployment knob is the same
      // conf sized to the relation, exactly like the streaming gates'
      // state-store scoping.
      val layered = withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        graph.Traversal.topoLayers(edges)
      }
      require(graph.Traversal.topoDoublingSwitches.get() > before,
        s"x32: depth ${(n - 1) / w} did not trigger the doubling switch — " +
          "the gate exists to pin the log-depth path; check switchDepth")
      layered.groupBy(col("layer"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("id")).as("id_sum"))
    }),

    // Longest-path (topological) layering of the containment DAG — the
    // lineage-scheduler read-out: layer = what can run in parallel, max
    // layer = critical-path depth. The FK graph is a DAG by construction
    // (every 'in' edge points up the hierarchy); customers that never
    // ordered are in-degree-0 sources at layer 0, so labels can span
    // layers — the per-(label, layer) census is the gate output.
    "x30_topo_layers" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      graph.Traversal.topoLayers(g.edges, prepEdges = false)
        .join(g.vertices.select(col("id"), col("label")), Seq("id"))
        .groupBy(col("label"), col("layer"))
        .agg(count(lit(1)).as("n"))
    }),

    "x29_boruvka_mst" -> ((s, dir) => {
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val nring = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(2L * B) + (col("n_nationkey") + 1) % 25).as("dst"))
      val sup = t(s, dir, "supplier")
      val sn = sup.select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val scnt = sup.agg(count(lit(1)).as("ns"))
      val sring = sup.crossJoin(broadcast(scnt)).select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        // 0-based s_suppkey in this corpus: wrap with (sk + 1) % count
        (lit(4L * B) + (col("s_suppkey") + 1) % col("ns")).as("dst"))
      val e = nr.unionByName(nring).unionByName(sn).unionByName(sring)
        .withColumn("w", functions.Hashing.md5Long(concat(
          least(col("src"), col("dst")).cast("string"), lit("_"),
          greatest(col("src"), col("dst")).cast("string"))) % 1000000)
      graph.Traversal.boruvkaMst(e)
    }),

    // k-core decomposition (k=3): iterative peel of the full containment
    // graph to its maximal min-undirected-degree-3 subgraph — the
    // periphery-stripping sanitation pass (converges in ≤5 rounds here;
    // the oracle unrolls 10 idempotent peel rounds). Output: each core
    // vertex with its degree inside the core.
    "x9_kcore" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      // assumeDistinct: the store's edges are distinct (src, dst) pairs
      // and the FK containment graph is a DAG (strictly layered
      // lineitem→orders→customer→nation→region), so no reverse pair
      // exists — the symmetrize-distinct exchange is provably redundant.
      graph.Traversal.kCore(g.E, k = 3, assumeDistinct = true)
    }),

    // Personalized PageRank (same integer fixed-point recipe), teleport
    // mass pinned to the region vertices: rank = proximity to the regions
    // through the containment chain, not global importance.
    "x7_ppr_regions" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"), (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"), (lit(1L * B) + col("n_regionkey")).as("dst"))
      val seeds = t(s, dir, "region").select((lit(1L * B) + col("r_regionkey")).as("id"))
      graph.GraphXBridge.pageRankPersonalized(sn.unionByName(nr), seeds, iters = 3)
    }),

    // Multi-source BFS: minimum hop distance from the lineitem layer to
    // everything it reaches (lineitem=0 -> orders/part/supplier=1 ->
    // customer/nation=2 -> nation/region=3/4; nation's min is 2 via the
    // supplier path — the MIN semantics the per-origin khop can't give
    // without materializing every pair). The oracle's recursion guard is
    // pinned to bfsDepth's maxIter (64): parity must not silently depend
    // on graph diameter staying under a smaller ad-hoc bound.
    "x6_bfs_depth" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      g.bfsDepth(g.hasLabel("lineitem"))
    }),

    // Strongly connected components of the above-uniform-transition
    // graph: edges are event-type bigrams whose conditional probability
    // exceeds the uniform 20% (sw6's matrix, thresholded — an asymmetric
    // "more likely than chance" relation), components labeled by min
    // co-reachable id — directed-cycle structure the plain closure (a14)
    // can't name. The general Traversal.scc runs on string keys here.
    "x10_scc" -> ((s, dir) => {
      val tm = streaming.EventPipeline.transitionMatrix(events(s, dir))
      val e = tm.filter(col("p_micro") >= 200000L)
        .select(col("from_type").as("src"), col("to_type").as("dst"))
      graph.Traversal.scc(e)
    }),

    // Exact neighborhood function (Palmer's ANF): the hop-distance
    // distribution of the symmetrized supplier–nation–region graph —
    // N(h) as cum_pairs per hop, the effective-diameter read-out. Exact
    // via one all-vertex min-hop sweep (khop) + a tiny per-hop aggregate.
    "x11_anf" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val e = sn.unionByName(nr)
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      // diameter of the containment graph is 4 at every SF (s–n–r–n'–s');
      // maxHop 5 keeps one empty-level margin as the convergence witness
      graph.Traversal.neighborhoodFunction(und, maxHop = 5)
    }),

    // Exact harmonic centrality (Σ 1/d grouped by distance, integer
    // micro units): the O(pairs) exact twin on the containment graph.
    "x21_harmonic" -> ((s, dir) => {
      graph.Traversal.harmonicCentrality(snrUndirected(s, dir), maxHop = 5)
    }),

    // Stress centrality (Shimbel) — the integer betweenness: per vertex,
    // the COUNT of shortest (s,t) paths passing through it (ordered
    // pairs). Path counts compose exactly in long arithmetic where
    // Brandes' fractional betweenness cannot cross engines; the oracle
    // replays it by brute walk enumeration + min-hop filtering.
    "x22_stress" -> ((s, dir) => {
      graph.Traversal.stressCentrality(snrUndirected(s, dir), maxHop = 5)
    }),

    // The sampled-source scale path (Brandes–Pich pivots), run as code:
    // deterministic hash-sampled sources ∪ hubs sweep, same composition.
    // Pivot estimates concentrate only with a handful of pivots per
    // locality — below 1000 vertices a 25% sample leaves 0-or-1 pivots
    // per nation and the estimator is legitimately garbage — so the
    // pivot fraction is a deterministic function of graph size: 25%
    // when V ≥ 1000 (the bench SF: real sampling, verified within
    // 50%), the full population below (where the spec separately
    // proves raw ≡ exact). SELF-EVALUATING (cd7 pattern): the exact
    // stress rides in-row (x22's sweep, recomputed here); sp_ok
    // cross-multiplies raw·n_sources vs exact·n_sampled in pure
    // integers — no floored quotient to disagree on.
    "x22b_stress_sampled" -> ((s, dir) => {
      val und = snrUndirected(s, dir)
      val nV = und.select(col("src")).distinct().count()
      val mod = if (nV >= 1000) 4 else 1
      val exact = graph.Traversal.stressCentrality(und, maxHop = 5)
      graph.Traversal.stressCentralitySampled(und, maxHop = 5, sampleMod = mod)
        .join(exact, Seq("id"))
        .select(col("id"), col("stress"),
          (abs(col("raw") * col("n_sources") - col("stress") * col("n_sampled")) * 2
            <= col("stress") * col("n_sampled")).as("sp_ok"))
    }),

    // Vertex eccentricity (bounded): per-vertex max min-hop distance —
    // the periphery/radius read-out, derived from the same min-hop sweep
    // x11/x14/x21 read.
    "x25_eccentricity" -> ((s, dir) => {
      graph.Traversal.eccentricity(snrUndirected(s, dir), maxHop = 5)
    }),

    // Degree assortativity (Newman's r): do hubs attach to hubs? The
    // supplier–nation–region graph is hub-and-spoke, so r is strongly
    // negative — the one-number warning that hop joins on this graph
    // funnel through few celebrity vertices (what a13b's salted variant
    // exists for). Exact integer sufficient statistics ride in-row.
    "x23_assortativity" -> ((s, dir) => {
      graph.Traversal.degreeAssortativity(snrUndirected(s, dir))
    }),

    // Local clustering coefficient per vertex over the triangle-bearing
    // customer–nation–region graph (x3's): 2·T(v)/(deg(v)·(deg(v)−1))
    // in floor-micro units — the per-vertex refinement of x3's census.
    "x24_clustering_coeff" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"), (lit(2L * B) + col("c_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"), (lit(1L * B) + col("n_regionkey")).as("dst"))
      val cr = t(s, dir, "customer").join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select((lit(3L * B) + col("c_custkey")).as("src"),
          (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.Traversal.localClustering(cn.unionByName(nr).unionByName(cr))
    }),

    // The same centrality from per-vertex HyperBall sketches — O(V)
    // state, no pair materialized (Boldi–Vigna's original read-out).
    // SELF-EVALUATING (cd7 pattern): exact value rides in-row; hb_ok
    // flips (breaking the hash) if the estimate drifts past 2%.
    "x21b_harmonic_hyperball" -> ((s, dir) => {
      val und = snrUndirected(s, dir)
      graph.Traversal.hyperBallCentrality(und, maxHop = 5)
        .join(graph.Traversal.harmonicCentrality(und, maxHop = 5), Seq("id"))
        .select(col("id"), col("harmonic_micro"),
          (abs(col("harmonic_est_micro") - col("harmonic_micro")) * 50
            <= col("harmonic_micro")).as("hb_ok"))
    }),

    // Effective diameter (90th percentile of the distance distribution):
    // the smallest h whose N(h) covers ≥90% of all connected pairs —
    // derived from the exact ANF curve with one broadcast total.
    "x14_eff_diameter" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val e = sn.unionByName(nr)
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val anf = graph.Traversal.neighborhoodFunction(und, maxHop = 5)
      val total = anf.agg(max(col("cum_pairs")).as("total"))
      anf.crossJoin(broadcast(total))
        .filter(col("cum_pairs") * 10 >= col("total") * 9)
        .agg(min(col("hop")).as("effective_diameter"), max(col("total")).as("total_pairs"))
    }),

    // HyperBall (Boldi–Vigna): the same curve from per-vertex HLL
    // sketches — O(V) fixed-size state per round, no pair ever
    // materializes; THE 100 TB path where x11's exact closure cannot fit.
    // SELF-EVALUATING (the cd7 pattern): HLL registers are
    // engine-specific, so the exact curve (the x11 sweep) rides the
    // same rows and
    // the gate emits the error-bound VERDICT per hop — hb_ok flips (and
    // the hash breaks) if any hop's estimate drifts past 2% of the exact
    // cumulative pair count. The oracle recomputes the exact curve
    // (x11's WITH RECURSIVE) and asserts the verdict true.
    "x11b_hyperball" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val e = sn.unionByName(nr)
      val und = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val est = graph.Traversal.hyperBall(und, maxHop = 5)
      graph.Traversal.neighborhoodFunction(und, maxHop = 5)
        .join(est, Seq("hop"))
        .select(col("hop"), col("n_pairs"), col("cum_pairs"),
          (abs(col("est_pairs") - col("cum_pairs")) * 50 <= col("cum_pairs"))
            .as("hb_ok"))
    }),

    // k-truss of the verified near-dup graph (Jaccard ≥ 0.5 edges): keep
    // only edges closing ≥1 triangle — the cohesive dup CORES, with the
    // chain-merge bridge edges LSH clustering is prone to peeled away.
    "x13_ktruss" -> ((s, dir) => {
      val pairs = operators.Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      graph.Traversal.kTruss(pairs, k = 3)
        .select(col("a").as("id_a"), col("b").as("id_b"), col("support"))
    }),

    // Luby maximal independent set with deterministic md5 priorities over
    // the symmetrized supplier–nation–region graph — the symmetry-breaking
    // primitive (conflict-free parallel work-sets); expected O(log n)
    // rounds of one join + one min aggregate over O(V) state.
    "x12_mis" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.Traversal.maximalIndependentSet(sn.unionByName(nr))
    }),

    // Negative edge sampling (word2vec/GNN contrastive pairs): 3
    // unigram-weighted pseudo-random non-neighbors per customer, drawn
    // from the customer→nation edge list's dst multiset — md5-positioned
    // into a sharded-prefix-sum canonical order (no global sort), draws
    // hitting a real neighbor or self rejected. Fully deterministic;
    // the oracle replays the same shard ranks and md5 draws.
    "x15_negative_sampling" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"),
        (lit(2L * B) + col("c_nationkey")).as("dst"))
      graph.Traversal.negativeSample(cn, k = 3)
    }),

    // Random-walk corpus (DeepWalk positive pairs, x15's counterpart): 2
    // deterministic md5-steered walks of ≤3 steps from every region and
    // nation down the containment fan-out (region→nation→customer);
    // customer sinks end walks early — no padding. The oracle replays
    // every path step by step.
    "x16_random_walks" -> ((s, dir) => {
      val rn = t(s, dir, "nation").select(
        (lit(1L * B) + col("n_regionkey")).as("src"),
        (lit(2L * B) + col("n_nationkey")).as("dst"))
      val nc = t(s, dir, "customer").select(
        (lit(2L * B) + col("c_nationkey")).as("src"),
        (lit(3L * B) + col("c_custkey")).as("dst"))
      graph.Traversal.randomWalks(rn.unionByName(nc), walks = 2, len = 3)
    }),

    // HITS hubs/authorities (integer max-normalized, 2 fixed
    // iterations): customers/suppliers are pure hubs, regions pure
    // authorities, nations both — the directed complement to PageRank
    // on the containment graph. Exact BIGINTs, oracle-unrolled.
    "x17_hits" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"),
        (lit(2L * B) + col("c_nationkey")).as("dst"))
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.GraphXBridge.hitsFixed(cn.unionByName(sn).unionByName(nr), iters = 2)
    }),

    // Link-prediction candidates: top-3 non-adjacent pairs per vertex
    // by the integer Resource-Allocation index (Σ 10⁶ div deg(w) over
    // common neighbors — exact, order-free; Adamic-Adar's ln would cost
    // cross-engine ulps) on the symmetrized supplier–nation–region
    // graph. The positive-candidate half of link-prediction training;
    // x15 supplies the negatives.
    "x19_link_predict" -> ((s, dir) => {
      val sn = t(s, dir, "supplier").select(
        (lit(4L * B) + col("s_suppkey")).as("src"),
        (lit(2L * B) + col("s_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.Traversal.linkPredict(sn.unionByName(nr), k = 3)
    }),

    // Sampled neighbor aggregation (GraphSAGE mini-batch prep): per
    // nation, the exact cent-sum of account balance over ≤8 md5-sampled
    // customers — the cap bounds join fan-in per vertex at s rows
    // whatever the degree distribution (the celebrity-vertex answer for
    // GNN feature gathering).
    "x20_neighbor_agg" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nc = cust.select(
        (lit(2L * B) + col("c_nationkey")).as("src"),
        (lit(3L * B) + col("c_custkey")).as("dst"))
      val feats = cust.select(
        (lit(3L * B) + col("c_custkey")).as("id"),
        round(col("c_acctbal") * 100).cast("long").as("feature"))
      graph.Traversal.neighborAgg(nc, feats, s = 8)
    }),

    // Synchronous label propagation, 4 fixed rounds, min-label
    // tie-break: communities on the symmetrized customer–nation–region
    // containment graph. Deterministic by construction; the oracle
    // replays all 4 rounds.
    "x18_label_prop" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"),
        (lit(2L * B) + col("c_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.Traversal.labelPropagation(cn.unionByName(nr), rounds = 4)
    }),

    // Degree histogram of the whole graph: out-degree -> #vertices,
    // INCLUDING the outdeg=0 bucket (sink vertices never appear as src).
    "x5_degree_histogram" -> ((s, dir) => {
      val g = GraphStore.get(s, dir)
      val deg = g.E.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
      g.V.select(col("id")).join(deg, Seq("id"), "left")
        .select(coalesce(col("outdeg"), lit(0L)).as("outdeg"))
        .groupBy(col("outdeg")).agg(count(lit(1)).as("n_vertices"))
    }),

    // Exact closeness centrality (Wasserman–Faust) — the fourth read-out
    // of the min-hop distance sweep (x11/x14/x21/x25's): integer
    // reach/dist-sum statistics, one floored micro division.
    "x26_closeness" -> ((s, dir) => {
      graph.Traversal.closenessCentrality(snrUndirected(s, dir), maxHop = 5)
    }),

    // Newman modularity of the x18 label-prop partition, exact in
    // integers (one numerator, one denominator, one floored division) —
    // the "was that community structure real?" score next to x18.
    "x27_modularity" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"),
        (lit(2L * B) + col("c_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      val edges = cn.unionByName(nr)
      graph.Traversal.modularity(edges,
        graph.Traversal.labelPropagation(edges, rounds = 4))
    }),

    // Densest-subgraph parallel peel (Bahmani ε=0): the whole round
    // trace — exact integer peel condition deg·n ≤ m2, floored micro
    // density per round — over the customer–nation–region graph. The
    // leaf customers peel away and density concentrates on the
    // dimension core.
    "x28_densest" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(
        (lit(3L * B) + col("c_custkey")).as("src"),
        (lit(2L * B) + col("c_nationkey")).as("dst"))
      val nr = t(s, dir, "nation").select(
        (lit(2L * B) + col("n_nationkey")).as("src"),
        (lit(1L * B) + col("n_regionkey")).as("dst"))
      graph.Traversal.densestSubgraphTrace(cn.unionByName(nr), rounds = 6)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "x9_kcore" -> kcoreOracleSql(k = 3, rounds = 10),

    "x12_mis" -> misOracleSql(rounds = 8),

    // 2 HITS iterations unrolled: each is hub-sum → max-normalize →
    // auth-sum → max-normalize, all integer.
    "x17_hits" -> {
      // One half-step: sum `inCol` of `prev` over edges joined on
      // `joinEnd`, grouped by `groupEnd`, then integer max-normalize
      // into `outCol` of CTE `out`.
      def half(prev: String, inCol: String, joinEnd: String, groupEnd: String,
               out: String, outCol: String) =
        s"""${out}r AS (SELECT v.id, coalesce(s.s, 0) AS raw FROM v LEFT JOIN (
           |  SELECT e.$groupEnd AS id, sum(p.$inCol) AS s
           |  FROM e JOIN $prev p ON p.id = e.$joinEnd GROUP BY e.$groupEnd) s USING (id)),
           |$out AS (SELECT id, CAST(raw * 1000000 // greatest((SELECT max(raw) FROM ${out}r), 1) AS BIGINT) AS $outCol FROM ${out}r)"""
          .stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT 3*72057594037927936 + c_custkey AS src,
         |    2*72057594037927936 + c_nationkey AS dst FROM customer
         |  UNION SELECT 4*72057594037927936 + s_suppkey, 2*72057594037927936 + s_nationkey FROM supplier
         |  UNION SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT id, 1000000 AS hub FROM v),
         |${half("h0", "hub", "src", "dst", "a1", "auth")},
         |${half("a1", "auth", "dst", "src", "h1", "hub")},
         |${half("h1", "hub", "src", "dst", "a2", "auth")},
         |${half("a2", "auth", "dst", "src", "h2", "hub")}
         |SELECT a2.id, a2.auth AS auth_micro, h2.hub AS hub_micro
         |FROM a2 JOIN h2 USING (id)""".stripMargin
    },

    // Same md5 sample ranks, same cent conversion, same capped sum.
    "x20_neighbor_agg" ->
      s"""WITH e AS (SELECT DISTINCT 2*72057594037927936 + c_nationkey AS src,
         |    3*72057594037927936 + c_custkey AS dst FROM customer),
         |r AS (SELECT src, dst, row_number() OVER (PARTITION BY src
         |    ORDER BY ${md5i("CAST(src AS VARCHAR) || '#agg#' || CAST(dst AS VARCHAR)")}, dst) AS rn
         |  FROM e),
         |f AS (SELECT 3*72057594037927936 + c_custkey AS dst,
         |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS feature FROM customer)
         |SELECT r.src AS id, count(*) AS n_sampled,
         |  CAST(sum(f.feature) AS BIGINT) AS feat_sum
         |FROM r JOIN f USING (dst) WHERE rn <= 8 GROUP BY r.src""".stripMargin,

    // Wedge join + integer RA scoring + adjacency anti-join + per-u
    // top-3 window, replayed exactly.
    "x19_link_predict" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 4*72057594037927936 + s_suppkey AS src,
        |    2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |u AS (SELECT src, dst FROM e0 WHERE src <> dst
        |  UNION SELECT dst, src FROM e0 WHERE src <> dst),
        |deg AS (SELECT src AS w, count(*) AS wdeg FROM u GROUP BY src),
        |wedge AS (SELECT a.src AS u, a.dst AS w, b.dst AS v
        |  FROM u a JOIN u b ON a.dst = b.src WHERE a.src <> b.dst),
        |sc AS (SELECT wedge.u, wedge.v, count(*) AS common_neighbors,
        |    CAST(sum(1000000 // deg.wdeg) AS BIGINT) AS ra_micro
        |  FROM wedge JOIN deg ON deg.w = wedge.w
        |  GROUP BY wedge.u, wedge.v),
        |nonadj AS (SELECT sc.* FROM sc
        |  WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.src = sc.u AND u.dst = sc.v))
        |SELECT u, v, common_neighbors, ra_micro,
        |  CAST(row_number() OVER (PARTITION BY u
        |    ORDER BY ra_micro DESC, common_neighbors DESC, v) AS INTEGER) AS rank
        |FROM nonadj QUALIFY rank <= 3""".stripMargin,

    // 4 synchronous LPA rounds unrolled: per round the min-mode
    // neighbor label via a count window, isolated fallback to self.
    "x18_label_prop" -> s"""$labelPropCtes
      |SELECT id, label FROM l4""".stripMargin,

    // Modularity of the same partition: the label-prop chain replayed,
    // then the pure-integer sufficient statistics and one explicit
    // truncate-toward-zero micro division (matching Spark's `div`).
    "x27_modularity" ->
      s"""$labelPropCtes,
         |e2 AS (SELECT u.src, u.dst, ls.label AS sl, ld.label AS dl
         |  FROM u JOIN l4 ls ON ls.id = u.src JOIN l4 ld ON ld.id = u.dst),
         |perc AS (SELECT sl, count(*) AS deg_c,
         |  sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS intra_c FROM e2 GROUP BY sl),
         |tot AS (SELECT count(*) AS n_communities, sum(deg_c) AS m2,
         |  sum(intra_c) AS intra_total, sum(deg_c * deg_c) AS deg_sq FROM perc)
         |SELECT CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(m2 AS BIGINT) AS m2,
         |  CAST(intra_total * m2 - deg_sq AS BIGINT) AS q_num,
         |  CAST(m2 * m2 AS BIGINT) AS q_den,
         |  CAST(CASE WHEN intra_total * m2 - deg_sq >= 0
         |    THEN (intra_total * m2 - deg_sq) * 1000000 // (m2 * m2)
         |    ELSE -((deg_sq - intra_total * m2) * 1000000 // (m2 * m2)) END
         |    AS BIGINT) AS q_micro
         |FROM tot""".stripMargin,

    // The peel unrolled: per round the exact integer stats, the
    // deg·n ≤ m2 peel set, and the surviving edge set. Every round CTE
    // is MATERIALIZED: each e_r is referenced three times by round r+1,
    // and DuckDB's default CTE inlining would expand the chain into
    // 3⁶ re-reads of the parquet view (measured: file-handle exhaustion).
    "x28_densest" -> {
      val rounds = (1 to 6).map { r =>
        s"""s$r AS MATERIALIZED (SELECT count(*) AS m2, count(DISTINCT src) AS n FROM e${r - 1}),
           |p$r AS MATERIALIZED (SELECT src AS v FROM e${r - 1} GROUP BY src
           |  HAVING count(*) * (SELECT n FROM s$r) <= (SELECT m2 FROM s$r)),
           |e$r AS MATERIALIZED (SELECT src, dst FROM e${r - 1}
           |  WHERE src NOT IN (SELECT v FROM p$r)
           |    AND dst NOT IN (SELECT v FROM p$r))""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 6).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, CAST(n AS BIGINT) AS n_vertices,
           |  CAST(m2 AS BIGINT) AS m2,
           |  CAST(m2 * 1000000 // (2 * n) AS BIGINT) AS density_micro
           |FROM s$r WHERE n > 0""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e00 AS (
         |  SELECT DISTINCT 3*72057594037927936 + c_custkey AS src,
         |    2*72057594037927936 + c_nationkey AS dst FROM customer
         |  UNION SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
         |e0 AS MATERIALIZED (SELECT src, dst FROM e00 WHERE src <> dst
         |  UNION SELECT dst, src FROM e00 WHERE src <> dst),
         |$rounds
         |$rows""".stripMargin
    },

    // Replays every walk step: same dst-ascending edge ranks, same md5
    // draws, same sink termination.
    "x16_random_walks" -> {
      def step(n: Int, prev: String) =
        s"""s$n AS (SELECT p.start, p.walk, i.dst AS cur
           |  FROM $prev p
           |  JOIN deg d ON d.src = p.cur
           |  JOIN idx i ON i.src = p.cur AND i.idx =
           |    ${md5i(s"CAST(p.start AS VARCHAR) || '#walk#' || CAST(p.walk AS VARCHAR) || '#$n'")} % d.deg)"""
          .stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT 1*72057594037927936 + n_regionkey AS src,
         |    2*72057594037927936 + n_nationkey AS dst FROM nation
         |  UNION
         |  SELECT DISTINCT 2*72057594037927936 + c_nationkey,
         |    3*72057594037927936 + c_custkey FROM customer),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |idx AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM e),
         |s0 AS (SELECT s.src AS start, w.walk, s.src AS cur
         |  FROM (SELECT DISTINCT src FROM e) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS walk) w),
         |${step(1, "s0")},
         |${step(2, "s1")},
         |${step(3, "s2")}
         |SELECT start, CAST(walk AS INTEGER) AS walk, 0 AS step, start AS vertex FROM s0
         |UNION ALL SELECT start, CAST(walk AS INTEGER), 1, cur FROM s1
         |UNION ALL SELECT start, CAST(walk AS INTEGER), 2, cur FROM s2
         |UNION ALL SELECT start, CAST(walk AS INTEGER), 3, cur FROM s3""".stripMargin
    },

    // Replays negativeSample's deterministic construction exactly: the
    // sharded-prefix-sum canonical edge order, the md5 draw positions,
    // and both rejection rules.
    "x15_negative_sampling" ->
      s"""WITH e AS (SELECT DISTINCT 3*72057594037927936 + c_custkey AS src,
         |    2*72057594037927936 + c_nationkey AS dst FROM customer),
         |h AS (SELECT src, dst,
         |  ${md5i("CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)")} AS h FROM e),
         |sh AS (SELECT *, h % 32 AS shard FROM h),
         |r AS (SELECT src, dst, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY h, src, dst) - 1 AS wr FROM sh),
         |off AS (SELECT shard, count(*) AS cnt FROM sh GROUP BY shard),
         |off2 AS (SELECT shard, coalesce(sum(cnt) OVER (ORDER BY shard
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM off),
         |dict AS (SELECT off2.off + r.wr AS pos, r.dst AS neg FROM r JOIN off2 USING (shard)),
         |tot AS (SELECT count(*) AS e_cnt FROM e),
         |draws AS (SELECT s.src, d.draw,
         |  ${md5i("CAST(s.src AS VARCHAR) || '#neg#' || CAST(d.draw AS VARCHAR)")}
         |    % (SELECT e_cnt FROM tot) AS pos
         |  FROM (SELECT DISTINCT src FROM e) s
         |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS draw) d)
         |SELECT dr.src, CAST(dr.draw AS INTEGER) AS draw, dict.neg
         |FROM draws dr JOIN dict USING (pos)
         |WHERE dict.neg <> dr.src
         |  AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = dr.src AND e.dst = dict.neg)""".stripMargin,

    // truss peel, 4 unrolled rounds (idempotent past the fixpoint): per
    // round keep edges with a common neighbor inside the current set.
    "x13_ktruss" -> {
      val rounds = 4
      val per = (1 to rounds).map { r =>
        s"""u${r - 1} AS (SELECT a AS u, b AS v FROM e${r - 1}
           |  UNION ALL SELECT b, a FROM e${r - 1}),
           |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e WHERE EXISTS (
           |  SELECT 1 FROM u${r - 1} x JOIN u${r - 1} y ON y.v = x.v
           |  WHERE x.u = e.a AND y.u = e.b AND x.v <> e.a AND x.v <> e.b))""".stripMargin
      }.mkString(",\n")
      s"""$SHINGLE_CTES,
         |base AS (SELECT doc_id, list_distinct(sh) AS shd,
         |  list_min(list_transform(sh, x -> ${md5i(s"x || '|1'")})) AS h1 FROM s),
         |e0 AS MATERIALIZED (SELECT a, b FROM (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         |    floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |      / len(list_distinct(a.shd || b.shd)) * 10000) / 10000 AS j
         |  FROM base a JOIN base b ON a.h1 = b.h1 AND a.doc_id < b.doc_id)
         |  WHERE j >= 0.5),
         |$per,
         |uf AS (SELECT a AS u, b AS v FROM e$rounds UNION ALL SELECT b, a FROM e$rounds)
         |SELECT e.a AS id_a, e.b AS id_b, CAST(count(*) AS BIGINT) AS support
         |FROM e$rounds e JOIN uf x ON x.u = e.a JOIN uf y ON y.u = e.b AND y.v = x.v
         |WHERE x.v <> e.a AND x.v <> e.b GROUP BY e.a, e.b""".stripMargin
    },

    "x10_scc" ->
      """WITH RECURSIVE o AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |b AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS cnt
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(cnt) AS tot FROM b GROUP BY from_type),
        |e AS (SELECT from_type AS src, to_type AS dst FROM b JOIN t USING (from_type)
        |  WHERE cnt * 1000000 // tot >= 200000),
        |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |reach(a, z) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.z = e.src),
        |co AS (SELECT r1.a AS id, r1.z AS m FROM reach r1
        |  JOIN reach r2 ON r1.a = r2.z AND r1.z = r2.a)
        |SELECT id, min(m) AS component FROM (
        |  SELECT id, id AS m FROM verts UNION ALL SELECT id, m FROM co)
        |GROUP BY id""".stripMargin,

    "x11_anf" -> anfSql(extraCols = ""),

    // x11b's oracle: the identical exact curve, plus the constant verdict
    // the self-evaluating HyperBall gate must reproduce (hb_ok flips only
    // if a hop's HLL estimate drifts past 2% of the exact cumulative —
    // the cd7 carry-exact-in-row pattern).
    "x11b_hyperball" -> anfSql(extraCols = ", true AS hb_ok"),

    "x21_harmonic" -> harmonicSql(extraCols = ""),

    "x22_stress" -> stressSql(extraCols = ""),

    // x22b's oracle: the identical exact counts plus the constant
    // verdict the self-evaluating sampled gate must reproduce (sp_ok
    // flips only if the pivot estimate drifts past 50% of exact — the
    // cd7 carry-exact-in-row pattern).
    "x22b_stress_sampled" -> stressSql(extraCols = ", true AS sp_ok"),
    "x21b_harmonic_hyperball" -> harmonicSql(extraCols = ", true AS hb_ok"),

    "x14_eff_diameter" ->
      """WITH RECURSIVE e AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM und),
        |walk(v, u, hop) AS (
        |  SELECT v, v, 0 FROM verts
        |  UNION
        |  SELECT w.v, und.dst, w.hop + 1 FROM walk w JOIN und ON w.u = und.src
        |  WHERE w.hop < 5),
        |md AS (SELECT v, u, min(hop) AS d FROM walk GROUP BY v, u),
        |h AS (SELECT CAST(d AS BIGINT) AS hop, count(*) AS n_pairs FROM md GROUP BY d),
        |c AS (SELECT hop, CAST(sum(n_pairs) OVER (ORDER BY hop) AS BIGINT) AS cum FROM h),
        |t AS (SELECT max(cum) AS total FROM c)
        |SELECT min(hop) AS effective_diameter, CAST(max(total) AS BIGINT) AS total_pairs
        |FROM c, t WHERE cum * 10 >= total * 9""".stripMargin,

    // scc by co-reachability (x10's recursion on the strided id graph),
    // condensation edges distinct across components, layer DP on the
    // quotient, member census per (component, layer).
    "x31_condensation_layers" ->
      """WITH RECURSIVE e AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 2*72057594037927936 + (n_nationkey + 1) % 25 FROM nation
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |verts AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |reach(a, z) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON r.z = e.src),
        |co AS (SELECT r1.a AS id, r1.z AS m FROM reach r1
        |  JOIN reach r2 ON r1.a = r2.z AND r1.z = r2.a),
        |comp AS (SELECT id, min(m) AS component FROM (
        |  SELECT id, id AS m FROM verts UNION ALL SELECT id, m FROM co)
        |  GROUP BY id),
        |ce AS (SELECT DISTINCT cs.component AS src, cd.component AS dst
        |  FROM e JOIN comp cs ON cs.id = e.src JOIN comp cd ON cd.id = e.dst
        |  WHERE cs.component <> cd.component),
        |srcs AS (SELECT DISTINCT src AS id FROM ce WHERE src NOT IN (SELECT dst FROM ce)),
        |p(id, layer) AS (
        |  SELECT id, 0 FROM srcs
        |  UNION
        |  SELECT ce.dst, p.layer + 1 FROM p JOIN ce ON ce.src = p.id),
        |lay AS (SELECT id AS component, max(layer) AS layer FROM p GROUP BY id)
        |SELECT c.component, CAST(l.layer AS BIGINT) AS layer,
        |  count(*) AS n_members
        |FROM comp c JOIN lay l ON l.component = c.component
        |GROUP BY 1, 2""".stripMargin,

    // the chain-with-width corpus in closed form: node n lives on chain
    // n mod w at position n div w, so its longest-path layer IS n div w —
    // no recursion needed, which is the point of generating the corpus
    // (an oracle the deep fixpoint cannot influence)
    "x32_deep_layers" ->
      """WITH p AS (SELECT greatest(2, count(*) // 128) AS w FROM documents),
        |r AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS nid FROM documents)
        |SELECT nid // w AS layer, count(*) AS n_nodes,
        |  CAST(sum(nid) AS BIGINT) AS id_sum
        |FROM r, p GROUP BY 1""".stripMargin,

    // a14's edge CTE, longest-path DP: enumerate (vertex, depth) pairs
    // from the in-degree-0 sources (UNION dedups, the DAG bounds depth),
    // keep the max per vertex, census by label stride.
    "x30_topo_layers" ->
      """WITH RECURSIVE e AS (
        |  SELECT 3*72057594037927936 + c_custkey AS src, 2*72057594037927936 + c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 4*72057594037927936 + s_suppkey, 2*72057594037927936 + s_nationkey FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation
        |  UNION ALL SELECT 6*72057594037927936 + o_orderkey, 3*72057594037927936 + o_custkey FROM orders
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 6*72057594037927936 + l_orderkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 5*72057594037927936 + l_partkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 4*72057594037927936 + l_suppkey FROM lineitem
        |), srcs AS (SELECT DISTINCT src AS id FROM e WHERE src NOT IN (SELECT dst FROM e)),
        |p(id, layer) AS (
        |  SELECT id, 0 FROM srcs
        |  UNION
        |  SELECT e.dst, p.layer + 1 FROM p JOIN e ON e.src = p.id
        |),
        |lay AS (SELECT id, max(layer) AS layer FROM p GROUP BY id)
        |SELECT CASE id // 72057594037927936
        |    WHEN 1 THEN 'region' WHEN 2 THEN 'nation' WHEN 3 THEN 'customer'
        |    WHEN 4 THEN 'supplier' WHEN 5 THEN 'part' WHEN 6 THEN 'orders'
        |    WHEN 7 THEN 'lineitem' END AS label,
        |  CAST(layer AS BIGINT) AS layer, count(*) AS n
        |FROM lay GROUP BY 1, 2""".stripMargin,

    "x1_connected_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM und),
        |reach(v, u) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT r.v, und.dst FROM reach r JOIN und ON r.u = und.src)
        |SELECT v AS id, min(u) AS component FROM reach GROUP BY v""".stripMargin,

    "x3_triangle_count" ->
      """WITH raw AS (
        |  SELECT 3*72057594037927936 + c_custkey AS src, 2*72057594037927936 + c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation
        |  UNION ALL SELECT 3*72057594037927936 + c_custkey, 1*72057594037927936 + n_regionkey
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT v AS id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |GROUP BY v""".stripMargin,

    // The harmonic oracle's min-hop walk read at max(d) per origin.
    "x25_eccentricity" ->
      """WITH RECURSIVE e AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM und),
        |walk(v, u, hop) AS (
        |  SELECT v, v, 0 FROM verts
        |  UNION
        |  SELECT w.v, und.dst, w.hop + 1 FROM walk w JOIN und ON w.u = und.src
        |  WHERE w.hop < 5),
        |md AS (SELECT v, u, min(hop) AS d FROM walk GROUP BY v, u)
        |SELECT verts.v AS id,
        |  CAST(coalesce(max(CASE WHEN md.d > 0 THEN md.d END), 0) AS BIGINT) AS ecc
        |FROM verts LEFT JOIN md ON md.v = verts.v GROUP BY verts.v""".stripMargin,

    // Newman's r over the symmetrized supplier–nation–region graph: the
    // same exact-integer sufficient statistics, one IEEE divide at the end.
    "x23_assortativity" ->
      """WITH raw AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |u AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw) WHERE src <> dst),
        |deg AS (SELECT src AS v, count(*) AS deg FROM u GROUP BY src),
        |p AS (SELECT dx.deg AS dx, dy.deg AS dy
        |  FROM u JOIN deg dx ON u.src = dx.v JOIN deg dy ON u.dst = dy.v),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m_edges, CAST(sum(dx) AS BIGINT) AS sum_x,
        |  CAST(sum(dx * dy) AS BIGINT) AS sum_xy, CAST(sum(dx * dx) AS BIGINT) AS sum_xx FROM p)
        |SELECT m_edges, sum_x, sum_xy, sum_xx,
        |  CASE WHEN CAST(m_edges AS DOUBLE) * sum_xx - CAST(sum_x AS DOUBLE) * sum_x > 0
        |    THEN CAST(floor(1000000.0
        |      * (CAST(m_edges AS DOUBLE) * sum_xy - CAST(sum_x AS DOUBLE) * sum_x)
        |      / (CAST(m_edges AS DOUBLE) * sum_xx - CAST(sum_x AS DOUBLE) * sum_x)) AS BIGINT)
        |  END AS r_micro
        |FROM s""".stripMargin,

    // Per-vertex triangle credit over the x3 graph joined with degrees;
    // 2e6·T/(d·(d−1)) in integer floor units, deg ≥ 2 only.
    "x24_clustering_coeff" ->
      """WITH raw AS (
        |  SELECT 3*72057594037927936 + c_custkey AS src, 2*72057594037927936 + c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation
        |  UNION ALL SELECT 3*72057594037927936 + c_custkey, 1*72057594037927936 + n_regionkey
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM raw WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tv AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |  GROUP BY v),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
        |SELECT deg.v AS id, deg.deg, coalesce(tv.n_tri, 0) AS n_tri,
        |  CAST(2000000 * coalesce(tv.n_tri, 0) // (deg.deg * (deg.deg - 1)) AS BIGINT) AS lcc_micro
        |FROM deg LEFT JOIN tv ON deg.v = tv.v
        |WHERE deg.deg >= 2""".stripMargin,

    "x4_pagerank_fixed" -> pagerankFixedSql(extraCols = ""),

    // x2's oracle: the identical integer recurrence, plus the constant
    // verdict the self-evaluating gate must reproduce (the Spark side
    // flips graphx_ok only if GraphX's float ranks drift off the
    // normalized fixpoint — the cd7 carry-exact-in-row pattern).
    "x2_pagerank" -> pagerankFixedSql(extraCols = ", true AS graphx_ok"),

    // Bellman-Ford unrolled: the graph is 2 levels deep, so two relax
    // rounds reach the fixpoint; a third would be identity.
    "x8_weighted_sssp" ->
      """WITH e AS (
        |  SELECT 1*72057594037927936 + n_regionkey AS src,
        |         2*72057594037927936 + n_nationkey AS dst,
        |         CAST(n_nationkey % 3 + 1 AS BIGINT) AS w FROM nation
        |  UNION ALL
        |  SELECT 2*72057594037927936 + s_nationkey,
        |         4*72057594037927936 + s_suppkey,
        |         CAST(s_suppkey % 5 + 1 AS BIGINT) FROM supplier),
        |d0 AS (SELECT 1*72057594037927936 + r_regionkey AS id, CAST(0 AS BIGINT) AS dist FROM region),
        |r1 AS (SELECT e.dst AS id, min(d0.dist + e.w) AS d FROM e JOIN d0 ON e.src = d0.id GROUP BY e.dst),
        |d1 AS (SELECT coalesce(d0.id, r1.id) AS id,
        |  least(coalesce(d0.dist, 9223372036854775807), coalesce(r1.d, 9223372036854775807)) AS dist
        |  FROM d0 FULL OUTER JOIN r1 ON d0.id = r1.id),
        |r2 AS (SELECT e.dst AS id, min(d1.dist + e.w) AS d FROM e JOIN d1 ON e.src = d1.id GROUP BY e.dst),
        |d2 AS (SELECT coalesce(d1.id, r2.id) AS id,
        |  least(coalesce(d1.dist, 9223372036854775807), coalesce(r2.d, 9223372036854775807)) AS dist
        |  FROM d1 FULL OUTER JOIN r2 ON d1.id = r2.id)
        |SELECT id, dist FROM d2""".stripMargin,

    // sequential Prim under the same (w, u, v) total order — a DIFFERENT
    // algorithm landing on the same unique forest, so the hash match
    // proves MST-ness, not replay-consistency. Single-row recursion
    // carrying the visited list; the graph is connected by construction
    // (nation ring bridges all regions, suppliers hang off nations).
    "x29_boruvka_mst" -> {
      val B = "72057594037927936"
      s"""WITH RECURSIVE e0 AS (
         |  SELECT 2*$B + n_nationkey AS a, 1*$B + n_regionkey AS b FROM nation
         |  UNION ALL SELECT 2*$B + n_nationkey, 2*$B + ((n_nationkey + 1) % 25) FROM nation
         |  UNION ALL SELECT 4*$B + s_suppkey, 2*$B + s_nationkey FROM supplier
         |  UNION ALL SELECT 4*$B + s_suppkey,
         |    4*$B + ((s_suppkey + 1) % (SELECT count(*) FROM supplier)) FROM supplier),
         |e2 AS (SELECT u, v, ${md5i("CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)")} % 1000000 AS w
         |  FROM (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM e0 WHERE a <> b)),
         |und AS (SELECT u AS fa, v AS fb, u, v, w FROM e2
         |  UNION ALL SELECT v, u, u, v, w FROM e2),
         |st AS (
         |  SELECT [(SELECT min(u) FROM e2)] AS vis,
         |    CAST([] AS BIGINT[]) AS us, CAST([] AS BIGINT[]) AS vs, CAST([] AS BIGINT[]) AS ws
         |  UNION ALL
         |  SELECT list_append(vis, pb), list_append(us, pu), list_append(vs, pv), list_append(ws, pw)
         |  FROM (
         |    SELECT st.vis AS vis, st.us AS us, st.vs AS vs, st.ws AS ws,
         |      und.fb AS pb, und.u AS pu, und.v AS pv, und.w AS pw,
         |      row_number() OVER (ORDER BY und.w, und.u, und.v) AS rn
         |    FROM st JOIN und ON list_contains(st.vis, und.fa)
         |      AND NOT list_contains(st.vis, und.fb)
         |  ) WHERE rn = 1),
         |fin AS (SELECT us, vs, ws FROM st ORDER BY len(vis) DESC LIMIT 1)
         |SELECT CAST(unnest(us) AS BIGINT) AS u, CAST(unnest(vs) AS BIGINT) AS v,
         |  CAST(unnest(ws) AS BIGINT) AS w FROM fin""".stripMargin
    },

    "x7_ppr_regions" -> {
      // x4's unrolled integer recurrence, reset mass pinned to the seeds.
      val iters = (1 to 3).map { i =>
        s"""p$i AS (
           |  SELECT v.id, v.is_seed * 150000 + (17 * coalesce(c.m, 0)) // 20 AS rank_micro
           |  FROM v LEFT JOIN (
           |    SELECT e.dst AS id, sum(p${i - 1}.rank_micro // d.outdeg) AS m
           |    FROM e JOIN p${i - 1} ON e.src = p${i - 1}.id JOIN d ON d.src = e.src
           |    GROUP BY e.dst) c ON v.id = c.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT src, dst FROM (
         |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
         |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation)),
         |d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |sd AS (SELECT 1*72057594037927936 + r_regionkey AS id FROM region),
         |v AS (SELECT id, CAST(CASE WHEN id IN (SELECT id FROM sd) THEN 1 ELSE 0 END AS BIGINT) AS is_seed
         |  FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
         |p0 AS (SELECT id, is_seed * 1000000 AS rank_micro FROM v),
         |$iters
         |SELECT id, CAST(rank_micro AS BIGINT) AS rank_micro FROM p3""".stripMargin
    },

    "x5_degree_histogram" ->
      """WITH verts AS (
        |  SELECT 1*72057594037927936 + r_regionkey AS id FROM region
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey FROM nation
        |  UNION ALL SELECT 3*72057594037927936 + c_custkey FROM customer
        |  UNION ALL SELECT 4*72057594037927936 + s_suppkey FROM supplier
        |  UNION ALL SELECT 5*72057594037927936 + p_partkey FROM part
        |  UNION ALL SELECT 6*72057594037927936 + o_orderkey FROM orders
        |  UNION ALL SELECT DISTINCT 7*72057594037927936 + l_orderkey*10 + l_linenumber FROM lineitem),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT 3*72057594037927936 + c_custkey AS src, 2*72057594037927936 + c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 4*72057594037927936 + s_suppkey, 2*72057594037927936 + s_nationkey FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation
        |  UNION ALL SELECT 6*72057594037927936 + o_orderkey, 3*72057594037927936 + o_custkey FROM orders
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 6*72057594037927936 + l_orderkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 5*72057594037927936 + l_partkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 4*72057594037927936 + l_suppkey FROM lineitem)),
        |d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)
        |SELECT coalesce(d.outdeg, 0) AS outdeg, count(*) AS n_vertices
        |FROM verts v LEFT JOIN d ON v.id = d.src GROUP BY 1""".stripMargin,

    "x6_bfs_depth" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT 3*72057594037927936 + c_custkey AS src, 2*72057594037927936 + c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 4*72057594037927936 + s_suppkey, 2*72057594037927936 + s_nationkey FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation
        |  UNION ALL SELECT 6*72057594037927936 + o_orderkey, 3*72057594037927936 + o_custkey FROM orders
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 6*72057594037927936 + l_orderkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 5*72057594037927936 + l_partkey FROM lineitem
        |  UNION ALL SELECT 7*72057594037927936 + l_orderkey*10 + l_linenumber, 4*72057594037927936 + l_suppkey FROM lineitem)),
        |reach(id, depth) AS (
        |  SELECT DISTINCT 7*72057594037927936 + l_orderkey*10 + l_linenumber, CAST(0 AS BIGINT) FROM lineitem
        |  UNION
        |  SELECT e.dst, r.depth + 1 FROM reach r JOIN e ON e.src = r.id WHERE r.depth < 64
        |)
        |SELECT id, min(depth) AS depth FROM reach GROUP BY id""".stripMargin,

    "x26_closeness" ->
      """WITH RECURSIVE e AS (
        |  SELECT 4*72057594037927936 + s_suppkey AS src, 2*72057594037927936 + s_nationkey AS dst FROM supplier
        |  UNION ALL SELECT 2*72057594037927936 + n_nationkey, 1*72057594037927936 + n_regionkey FROM nation),
        |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM und),
        |walk(v, u, hop) AS (
        |  SELECT v, v, 0 FROM verts
        |  UNION
        |  SELECT w.v, und.dst, w.hop + 1 FROM walk w JOIN und ON w.u = und.src
        |  WHERE w.hop < 5),
        |md AS (SELECT v, u, min(hop) AS d FROM walk GROUP BY v, u),
        |agg AS (SELECT v, count(*) AS reach, sum(d) AS dist_sum FROM md WHERE d > 0 GROUP BY v),
        |n1 AS (SELECT count(*) - 1 AS nm1 FROM verts)
        |SELECT verts.v AS id,
        |  CAST(coalesce(agg.reach, 0) AS BIGINT) AS reach,
        |  CAST(coalesce(agg.dist_sum, 0) AS BIGINT) AS dist_sum,
        |  CAST(CASE WHEN coalesce(agg.dist_sum, 0) > 0 AND n1.nm1 > 0
        |    THEN agg.reach * agg.reach * 1000000 // (agg.dist_sum * n1.nm1)
        |    ELSE 0 END AS BIGINT) AS closeness_micro
        |FROM verts LEFT JOIN agg ON agg.v = verts.v CROSS JOIN n1""".stripMargin,
  )
}
