package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalFrames
import org.apache.spark.sql.types.StructType

/** Labeled property graph over two DataFrames — the Spark-native analogue of
  * the reference's JanusGraph store (reference: /root/reference/main.go,
  * vertex/edge templates at main.go:205-211, 319-322).
  *
  * Schema contract:
  *   vertices: id LONG, label STRING, key STRING, props MAP<STRING,STRING>
  *   edges:    src LONG, dst LONG, label STRING, weight INT
  *
  * Design for scale (100 TB, 1000 executors):
  *   - `vertices` is expected to be stored partitioned by `label`
  *     (partition pruning turns every hasLabel() into a directory prune);
  *   - `edges` is expected to be stored bucketed/repartitioned by `src` so
  *     repeated hop-joins (out/outE) are co-partitioned and do not reshuffle
  *     the big side on every hop;
  *   - vertex ids are deterministic functions of (label, business key) —
  *     see [[GraphBuilder.vid]] — so merges need no id-generation coordination
  *     across executors (contrast with the reference's server-assigned ids,
  *     main.go:207 `.id().next()`).
  *
  * Every method returns lazy DataFrames. Two exceptions keep a small
  * graph on the driver:
  *   - [[resident]] is the graph an interactive session (GremlinLite)
  *     queries: when the planner would broadcast both frames
  *     ([[Traversal.broadcastSized]], decided per call), both are
  *     collected once into `LocalRelation`s, held by this object and
  *     freed with it. That makes no CacheManager entry and no persisted
  *     RDD. Filters and projections over it fold on the driver (Spark's
  *     `ConvertToLocalRelation`).
  *   - The hops (`out`, `in`, `outE`, `inE`, `inV`, `outV`) of a graph
  *     whose frames have folded so and pass the same size test (a
  *     resident copy, or a small graph built from local rows) run on the
  *     driver over per-label indexes
  *     ([[Resident.Index]]) when their input has folded too, and return
  *     a folded frame with the join lowering's rows and schema; every
  *     other input takes the join lowering. The same index caches a CSR
  *     adjacency per (edge label, direction), built from its edge rows on
  *     first use, that GremlinLite's `repeat().until()/emit()` walks search
  *     ([[untilIndexed]]). The index and its adjacencies are built lazily
  *     and held by this object, so they live and die with it, like the
  *     resident copy.
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  // ---------------------------------------------------------------- A1 / A2 / A3

  /** A1 — full vertex scan: `g.V()` (reference main.go:206 et al.). */
  def V: DataFrame = vertices

  /** A1 — full edge scan: `g.E()`. */
  def E: DataFrame = edges

  /** A2 — label filter: `g.V().hasLabel(l)` (main.go:206,240,...). With a
    * label-partitioned store this is partition pruning, not a scan. */
  def hasLabel(l: String): DataFrame = vertices.filter(col("label") === l)

  /** A3 — property predicate: `.has(k, v)` (main.go:206 etc.). `key` is the
    * promoted hot property (email / name / projectId in the reference);
    * anything else lives in the `props` map. */
  def has(l: String, prop: String, value: String): DataFrame =
    hasLabel(l).filter(propCol(prop) === lit(value))

  /** Column for a property: promoted `key`, or a map lookup. */
  def propCol(prop: String): Column =
    if (prop == "key") col("key") else col("props").getItem(prop)

  /** Label-aware property column: `prop` may be the PROMOTED key for some
    * labels — stored in the `key` column and (on loader-built graphs,
    * GroovyLoader.scala) absent from `props` — and a plain map entry for
    * others. Resolve per label via the registry; [[propCol]] is the
    * registry-free flat form. */
  def propColFor(prop: String, keyProps: Map[String, String]): Column = {
    val promoted = keyProps.collect { case (l, p) if p == prop => l }.toSeq
    if (prop == "key" || promoted.isEmpty) propCol(prop)
    else when(col("label").isin(promoted: _*), col("key")).otherwise(propCol(prop))
  }

  // ---------------------------------------------------------------- A4 / A5 / A20

  /** A4 — existence probe, set form: of `candidates` (label,key rows), which
    * already exist in the graph. The reference runs this one row at a time as
    * `hasNext()` guards (main.go:206,240,...); set semantics make it one
    * semi-join. */
  def existing(candidates: DataFrame): DataFrame =
    candidates.join(vertices.select("label", "key"), Seq("label", "key"), "left_semi")

  /** A4 (negated) — candidates NOT yet in the graph (the upsert guard). */
  def missing(candidates: DataFrame): DataFrame =
    candidates.join(vertices.select("label", "key"), Seq("label", "key"), "left_anti")

  /** A5 — first-match fetch: `.next()` (main.go:317-318, 336-337, ...).
    * Gremlin's next() returns an arbitrary first element; a distributed
    * engine has no stable "first", so we define it as minimum id —
    * deterministic and testable. */
  def firstMatch(l: String, prop: String, value: String): DataFrame =
    has(l, prop, value).orderBy(col("id")).limit(1)

  /** A20 — point lookup by (label, key): `g.V().hasLabel(l).has(k,v).next()`
    * (≥40 sites in main.go). The reference's composite index is a no-op
    * (init.groovy:2-16 indexes an unset `noop` key) so it full-scans; here
    * Catalyst pushes both predicates to the Parquet scan. */
  def lookup(l: String, key: String): DataFrame =
    hasLabel(l).filter(col("key") === key)

  // ---------------------------------------------------------------- A6 / A9 upsert

  /** A6 — vertex upsert: insert-if-absent, set-at-a-time. Replaces the
    * reference's per-statement guarded `addV` templates (main.go:205-209) —
    * including fixing its always-false guards (main.go:587-588, 678-679
    * check the wrong property key). Idempotent: upserting the same batch
    * twice is a no-op. Anti-join is a shuffle on (label,key); at scale the
    * store side should be bucketed on the same keys so only the (small) new
    * batch shuffles. */
  def upsertVertices(newV: DataFrame): PropertyGraph = {
    val batch = newV.dropDuplicates("label", "key")
    copy(vertices = vertices.unionByName(
      batch.join(vertices.select("label", "key"), Seq("label", "key"), "left_anti")))
  }

  /** A9 — edge upsert: add (src,dst,label) triple with weight if absent
    * (main.go:319-322 and 10 sibling sites). */
  def upsertEdges(newE: DataFrame): PropertyGraph = {
    val batch = newE.dropDuplicates("src", "dst", "label")
    copy(edges = edges.unionByName(
      batch.join(edges.select("src", "dst", "label"), Seq("src", "dst", "label"), "left_anti")))
  }

  // ---------------------------------------------------------------- A7 / A8 / A10

  /** Edges restricted to `edgeLabel`; None = all labels (Gremlin's
    * label-less `out()`/`outE()` semantics). */
  private def edgesFor(edgeLabel: Option[String]): DataFrame =
    edgeLabel.fold(edges)(l => edges.filter(col("label") === l))

  /** A7 — out-edge expansion: `g.V(u).outE(l)` (main.go:320,339,...).
    * `from` must carry an `id` column. */
  def outE(from: DataFrame, edgeLabel: String = "in"): DataFrame =
    outE(from, Some(edgeLabel))

  def outE(from: DataFrame, edgeLabel: Option[String]): DataFrame =
    index.flatMap(_.edgeHop(from, edgeLabel, out = true)).getOrElse(edgesFor(edgeLabel)
      .join(from.select(col("id")), edges("src") === from("id"), "left_semi"))

  /** In-edges of `to` vertices: `g.V(v).inE(l)`. */
  def inE(to: DataFrame, edgeLabel: String = "in"): DataFrame =
    inE(to, Some(edgeLabel))

  def inE(to: DataFrame, edgeLabel: Option[String]): DataFrame =
    index.flatMap(_.edgeHop(to, edgeLabel, out = false)).getOrElse(edgesFor(edgeLabel)
      .join(to.select(col("id")), edges("dst") === to("id"), "left_semi"))

  /** A10 — adjacency (1-hop out): `.out()` (README.md:344). Returns neighbor
    * vertex rows, with the originating vertex id as `from_id`.
    * Two joins: edges⋈from (semi side small → broadcast), then ⋈vertices on
    * dst. At scale: edges pre-partitioned on src makes the first join
    * shuffle-free; the second shuffles only the frontier. */
  def out(from: DataFrame, edgeLabel: String = "in"): DataFrame =
    out(from, Some(edgeLabel))

  def out(from: DataFrame, edgeLabel: Option[String]): DataFrame =
    index.flatMap(_.vertexHop(from, edgeLabel, out = true)).getOrElse {
      val f = from.select(col("id").as("from_id"))
      val e = edgesFor(edgeLabel).as("e")
      f.join(e, col("from_id") === col("e.src"))
        .join(vertices.as("v"), col("e.dst") === col("v.id"))
        .select(col("from_id"), col("v.id").as("id"), col("v.label").as("label"),
          col("v.key").as("key"), col("v.props").as("props"))
    }

  /** 1-hop in: `.in()`. */
  def in(to: DataFrame, edgeLabel: String = "in"): DataFrame =
    in(to, Some(edgeLabel))

  def in(to: DataFrame, edgeLabel: Option[String]): DataFrame =
    index.flatMap(_.vertexHop(to, edgeLabel, out = false)).getOrElse {
      val t = to.select(col("id").as("to_id"))
      val e = edgesFor(edgeLabel).as("e")
      t.join(e, col("to_id") === col("e.dst"))
        .join(vertices.as("v"), col("e.src") === col("v.id"))
        .select(col("to_id"), col("v.id").as("id"), col("v.label").as("label"),
          col("v.key").as("key"), col("v.props").as("props"))
    }

  /** The vertices at the heads of edge frame `e` (`inV()`), one row per
    * (edge, vertex). */
  def inV(e: DataFrame): DataFrame = endpoint(e, "dst")

  /** The vertices at the tails of edge frame `e` (`outV()`). */
  def outV(e: DataFrame): DataFrame = endpoint(e, "src")

  private def endpoint(e: DataFrame, end: String): DataFrame =
    index.flatMap(_.endpoint(e, end)).getOrElse(e.join(vertices.as("v"), col(end) === col("v.id"))
      .select(col("v.id").as("id"), col("v.label").as("label"),
        col("v.key").as("key"), col("v.props").as("props")))

  // ---------------------------------------------------------------- A11 / A12

  /** A11 — property projection: `.valueMap()` (README.md:344-349). */
  def valueMap(df: DataFrame): DataFrame =
    df.select(col("id"), col("label"), col("key"), col("props"))

  /** A12 — id projection: `.id()`. */
  def ids(df: DataFrame): DataFrame = df.select(col("id"))

  // ---------------------------------------------------------------- A15 drop

  /** A15 — drop vertices matching `pred` and (unlike the raw reference, which
    * wipes everything with `g.V().drop()`, README.md:321) cascade-delete
    * incident edges so no dangling edge survives. */
  def dropVertices(pred: Column): PropertyGraph = {
    // NULL-safe: a predicate like props['k'] === v is NULL for vertices
    // missing the key; such rows must land in exactly one of kept/dropped
    // (a NULL would exclude them from both, leaving dangling edges).
    val p = coalesce(pred, lit(false))
    val dropped = vertices.filter(p).select(col("id"))
    PropertyGraph(
      vertices.filter(!p),
      edges
        .join(dropped.withColumnRenamed("id", "__d1"), col("src") === col("__d1"), "left_anti")
        .join(dropped.withColumnRenamed("id", "__d2"), col("dst") === col("__d2"), "left_anti"))
  }

  /** A15 — drop edges matching `pred` (`g.E()...drop()`,
    * README.md:321-328). Vertices are untouched — Gremlin's edge drop
    * never cascades (an isolated vertex is legal). NULL-safe like
    * [[dropVertices]]: a NULL predicate row is kept, not lost. */
  def dropEdges(pred: Column): PropertyGraph =
    PropertyGraph(vertices, edges.filter(!coalesce(pred, lit(false))))

  // ---------------------------------------------------------------- A16 subgraph

  /** A16 — edge-induced subgraph: keep edges satisfying `epred`, keep
    * vertices incident to a kept edge (`subgraph('sg').cap('sg')`,
    * README.md:372). */
  def subgraph(epred: Column): PropertyGraph = {
    val e = edges.filter(epred)
    val touched = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    PropertyGraph(vertices.join(touched, Seq("id"), "left_semi"), e)
  }

  // ---------------------------------------------------------------- resident copy

  /** This graph as an interactive session queries it: its resident copy
    * when both frames pass [[Traversal.broadcastSized]], the bound under
    * which the planner would collect them for a broadcast anyway; else
    * this graph. Decided per call, so the threshold at -1 turns the copy
    * off. A call that takes the copy counts in [[Resident.runs]]. */
  private[graft] def resident: PropertyGraph =
    if (!Traversal.broadcastSized(vertices, edges)) this
    else { Resident.runs.incrementAndGet(); residentCopy }

  /** Both frames over `LocalRelation`s: collected once, one job each,
    * unless they already are. */
  private lazy val residentCopy: PropertyGraph =
    PropertyGraph(LocalFrames.collected(vertices), LocalFrames.collected(edges))

  /** The driver indexes of the hops, when both frames pass the size test
    * (per call) and have folded. */
  private def index: Option[Resident.Index] =
    if (Traversal.broadcastSized(vertices, edges)) foldedIndex else None

  private lazy val foldedIndex: Option[Resident.Index] = Resident.index(this)

  /** GremlinLite's `repeat(out|in(edgeLabel)).until(stops)/emit()` from
    * the ids of `seeds`, searched over the CSR adjacency the index caches
    * ([[Resident.Index.until]]): the reached vertices' (id, label, key,
    * props) rows. None, when there is no index or a frame has not folded,
    * and the caller takes [[Traversal.untilSmall]] or the join lowering. */
  private[graft] def untilIndexed(seeds: DataFrame, edgeLabel: Option[String], out: Boolean,
                                  stops: Option[DataFrame], emit: Boolean): Option[DataFrame] =
    index.flatMap(_.until(seeds, edgeLabel, out, stops, emit))

  // ---------------------------------------------------------------- A13 / A14

  /** True when the stored edges are already cached (e.g. via
    * [[GraphStore]]) — traversals over them, or over narrow derivations
    * of them (filters, broadcast anti-joins), then skip their own edge prep. */
  private[graft] def edgesCached: Boolean =
    edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  /** A13 — bounded k-hop traversal (see [[Traversal.khop]]).
    * `dedupStart = false` skips a shuffle when `start` rows are known to
    * carry unique ids (true for any filter of this graph's vertices). */
  def reach(start: DataFrame, k: Int, edgeLabel: String = "in",
            dedupStart: Boolean = true): DataFrame =
    Traversal.khop(edges.filter(col("label") === edgeLabel), start, k,
      prepEdges = !edgesCached, dedupStart = dedupStart)

  /** A14 — cycle-safe transitive reachability (see [[Traversal.reachFix]]). */
  def reachFix(start: DataFrame, edgeLabel: String = "in", maxIter: Int = 64,
               dedupStart: Boolean = true): DataFrame =
    Traversal.reachFix(edges.filter(col("label") === edgeLabel), start, maxIter,
      prepEdges = !edgesCached, dedupStart = dedupStart)

  /** A14, whole-graph form — transitive closure of the edge relation by
    * recursive doubling (see [[Traversal.closureDoubling]]): identical
    * output to `reachFix(V, dedupStart = false)` (every edge src IS a
    * vertex) in O(log diameter) rounds. Use for full-graph closures;
    * [[reachFix]] remains the sparse-origin path. */
  def closure(edgeLabel: String = "in", maxIter: Int = 20): DataFrame =
    Traversal.closureDoubling(edges.filter(col("label") === edgeLabel), maxIter)

  /** Multi-source BFS min-hop depth (see [[Traversal.bfsDepth]]). */
  def bfsDepth(start: DataFrame, edgeLabel: String = "in", maxIter: Int = 64): DataFrame =
    Traversal.bfsDepth(edges.filter(col("label") === edgeLabel), start, maxIter,
      prepEdges = !edgesCached)
}

object PropertyGraph {

  /** The schema contract's vertex frame (see the class doc). */
  val VertexSchema: StructType =
    StructType.fromDDL("id LONG, label STRING, key STRING, props MAP<STRING, STRING>")

  /** The schema contract's edge frame. */
  val EdgeSchema: StructType = StructType.fromDDL("src LONG, dst LONG, label STRING, weight INT")
}
