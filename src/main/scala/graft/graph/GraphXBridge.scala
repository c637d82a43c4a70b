package graft.graph

import graft.Cuts
import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX bridge for whole-graph analytics (BASELINE.json's designated
  * path for graph-analytic queries the DataFrame API expresses poorly).
  *
  * DataFrame joins win for the reference's traversal/upsert surface;
  * GraphX (Pregel) wins for vertex-program algorithms — connected
  * components, PageRank — where per-vertex state and message passing beat
  * repeated join+distinct rounds.
  *
  * Scale: edges are partitioned with `EdgePartition2D` (grid partitioning
  * bounds each vertex's replication to 2*sqrt(numParts) partitions —
  * the standard GraphX answer to power-law degree skew), except for
  * graphs the caller coalesced tiny, where the extra shuffle is pure
  * overhead (see [[toGraphX]]).
  */
object GraphXBridge {

  /** Below this partition count, grid partitioning is skipped: its
    * replication bound (2·√p) barely beats p itself for small p, while the
    * partitionBy is a full extra shuffle + task wave — measured ~2 s of
    * pure overhead per tiny-graph job at gate scale. */
  private val Min2DParts = 17

  /** Lower a [[PropertyGraph]] to a GraphX graph (vertex attr = label).
    * `numParts` sizes the edge partitioning: Pregel runs a join round per
    * superstep, so a small graph on many partitions is pure task-launch
    * overhead — size to data, not to cluster default. Callers that coalesce
    * small (`numParts < 17`) have declared the graph tiny, and the
    * EdgePartition2D pass is skipped (see [[Min2DParts]]); unsized or wide
    * graphs keep the grid partitioning that bounds power-law replication. */
  def toGraphX(g: PropertyGraph, numParts: Int = 0): Graph[String, Int] = {
    val vs = g.vertices.select(col("id"), col("label")).rdd
      .map(r => (r.getLong(0): VertexId, r.getString(1)))
    val es = g.edges.select(col("src"), col("dst"), col("weight")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getInt(2)))
    val graph = if (numParts > 0)
      Graph(vs.coalesce(numParts), es.coalesce(numParts))
    else Graph(vs, es)
    if (numParts > 0 && numParts < Min2DParts) graph
    else graph.partitionBy(PartitionStrategy.EdgePartition2D)
  }

  /** Connected components (undirected reachability; component id = min
    * vertex id, GraphX convention). Returns (id, component). */
  def connectedComponents(spark: SparkSession, g: PropertyGraph,
                          numParts: Int = 0): DataFrame = {
    import spark.implicits._
    toGraphX(g, numParts).connectedComponents().vertices
      .map { case (vid, cc) => (vid, cc) }
      .toDF("id", "component")
  }

  /** Static PageRank (fixed iteration count), rank rounded to 6dp.
    * Returns (id, rank). */
  def pageRank(spark: SparkSession, g: PropertyGraph, iters: Int = 5,
               numParts: Int = 0): DataFrame = {
    import spark.implicits._
    toGraphX(g, numParts).staticPageRank(iters).vertices
      .map { case (vid, r) => (vid, math.rint(r * 1e6) / 1e6) }
      .toDF("id", "rank")
  }

  /** Per-vertex triangle count over an edge list (direction ignored;
    * GraphX canonicalizes to src < dst and drops self/duplicate edges).
    * Returns (id, n_triangles) for every vertex incident to ≥ 1 edge. */
  def triangleCount(spark: SparkSession, edges: DataFrame,
                    numParts: Int = 0): DataFrame = {
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val base = Graph.fromEdges(
      if (numParts > 0) es.coalesce(numParts) else es, defaultValue = 0)
    base.partitionBy(PartitionStrategy.EdgePartition2D).triangleCount().vertices
      .map { case (vid, n) => (vid, n.toLong) }
      .toDF("id", "n_triangles")
  }

  /** Deterministic fixed-point PageRank on an edge DataFrame: ranks are
    * BIGINT micro-units (1.0 == 1_000_000) and every step is integer
    * arithmetic — `contrib = rank div outdeg`, `next = 150000 +
    * (17 * Σcontrib) div 20` (reset 0.15, damping 0.85 = 17/20) — so the
    * result is bit-identical in ANY engine regardless of summation order,
    * unlike float PageRank where Σ double is order-dependent in the last
    * ulp. The cross-engine-verifiable twin of [[pageRank]]; sinks lose
    * mass exactly like GraphX's non-normalized static formulation.
    * Returns (id, rank_micro). Wholly DataFrame ops: the per-iteration
    * shuffle (groupBy dst) is PageRank's inherent cost; edge/degree
    * frames are reused across iterations from a single cached lineage. */
  def pageRankFixed(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pageRankFixed needs iters >= 1, got $iters")
    // cut e (and only e): every iteration joins e, deg, and verts — with
    // a corpus-derived edge expression (t_textrank's bigram counts) an
    // uncut e re-tokenizes the corpus ~3·iters times (measured 2.3 →
    // 1.7 s at sf0.1; the supplier-graph gates never noticed because
    // their edge subtree is two dimension scans). deg/verts stay lazy:
    // each is one cheap step over the checkpoint, and cutting them too
    // just adds eager-job latency (measured +0.1 s on x4's tiny graph).
    val e = Cuts.cut(edges.select(col("src"), col("dst")).distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var ranks = verts.withColumn("rank_micro", lit(1000000L))
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .join(deg, "src")
        .select(col("dst").as("id"), expr("rank_micro div outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("m"))
      ranks = verts.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("17 * coalesce(m, 0L) div 20")).as("rank_micro"))
    }
    ranks
  }

  /** Personalized PageRank in the same integer fixed-point arithmetic as
    * [[pageRankFixed]]: the teleport/reset mass lands ONLY on the `seeds`
    * vertex set (initial rank 10⁶ on seeds, 0 elsewhere; per step
    * `next = (seed ? 150000 : 0) + (17·Σcontrib) div 20`) — rank measures
    * proximity to the seeds rather than global importance, the
    * "what does THIS team/region touch" query a containment graph exists
    * to answer. Bit-identical in any engine (integer div, no float sums);
    * sinks lose mass exactly like the global twin.
    *
    * `seeds` needs an `id` column; seed membership joins as a broadcast
    * flag (seed sets are small by construction — a user, a team, one
    * region). Returns (id, rank_micro). */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3): DataFrame = {
    require(iters >= 1, s"pageRankPersonalized needs iters >= 1, got $iters")
    val e = edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val seedSet = broadcast(seeds.select(col("id")).distinct()
      .withColumn("__seed", lit(1L)))
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(seedSet, Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(0L)).as("is_seed"))
    var ranks = verts.select(col("id"), (col("is_seed") * 1000000L).as("rank_micro"))
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .join(deg, "src")
        .select(col("dst").as("id"), expr("rank_micro div outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("m"))
      ranks = verts.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (col("is_seed") * 150000L + expr("17 * coalesce(m, 0L) div 20")).as("rank_micro"))
    }
    ranks
  }

  /** Deterministic fixed-iteration HITS (Kleinberg): authority(v) sums the
    * hub scores of v's in-neighbors, hub(v) sums the authority scores of
    * v's out-neighbors — the directed-graph complement to PageRank for
    * graphs where pointing and being-pointed-at mean different things
    * (users → groups → projects: users are pure hubs, projects pure
    * authorities).
    *
    * The classical L2 normalization is replaced by integer MAX
    * normalization after each half-step — score · 10⁶ div max(score) —
    * so every value stays a BIGINT in [0, 10⁶] and the whole computation
    * is order-independent integer arithmetic, bit-identical in any
    * engine (the ranking is unchanged: normalization only rescales).
    * Overflow bound: a half-step sum is ≤ 10⁶ · max-degree, so degrees
    * up to ~9·10⁶ are safe before the rescale multiply; shard hotter
    * vertices upstream. Returns (id, auth_micro, hub_micro).
    *
    * Plan: per iteration two edge⋈score equi-joins + two map-side-
    * combinable sum aggregates over O(V) state, plus a 1-row broadcast
    * max — HITS' inherent per-round shuffle and nothing else; eager cuts
    * keep the loop's lineage flat. */
  def hitsFixed(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"hitsFixed needs iters >= 1, got $iters")
    val e = Cuts.cut(edges.select(col("src"), col("dst")).distinct())
    // cut: the vertex set left-joins into every half-step — uncut it
    // would re-run the distinct-union 2·iters times
    val verts = Cuts.cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // The raw half-step (join + sum — the expensive subtree) is cut
    // BEFORE normalizing: maxNorm reads it twice (main input + the
    // 1-row max aggregate), and uncut that doubles every half-step's
    // shuffle work. The normalized frame itself stays lazy — it is a
    // cheap projection over the checkpoint.
    def maxNorm(raw0: DataFrame, out: String): DataFrame = {
      val raw = Cuts.cut(raw0)
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("__mx"))))
        .select(col("id"), expr(s"raw * 1000000L div greatest(__mx, 1L)").as(out))
    }
    var hub = verts.withColumn("hub_micro", lit(1000000L))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = maxNorm(verts.join(
          e.join(hub, e("src") === hub("id"))
            .groupBy(e("dst").as("id")).agg(sum(col("hub_micro")).as("s")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("raw")), "auth_micro")
      hub = maxNorm(verts.join(
          e.join(auth, e("dst") === auth("id"))
            .groupBy(e("src").as("id")).agg(sum(col("auth_micro")).as("s")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("raw")), "hub_micro")
    }
    auth.join(hub, Seq("id"))
  }
}
