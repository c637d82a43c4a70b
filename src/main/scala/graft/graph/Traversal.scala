package graft.graph

import graft.Cuts.{cut, released}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField}
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** Distributed traversal engine — the Spark-native replacement for the
  * reference's two traversal mechanisms:
  *   - repeated Gremlin `.out()` hops (README.md:20-33, 344), and
  *   - the Go-side recursive nested-group expansion `getGroupMembers`
  *     (main.go:328-356), which recurses with NO visited-set and loops
  *     forever on membership cycles (main.go:347).
  *
  * Both lower to iterated joins on the edges DataFrame. The accumulated
  * result doubles as the visited set: every new frontier is anti-joined
  * against it, which makes the traversal cycle-safe — the property the
  * reference lacks. The visited set is NOT pre-seeded with the trivial
  * 0-hop (origin, origin) pairs: a pair (a, a) rediscovered at hop ≥ 1
  * means a directed cycle through `a` and is a legitimate member of the
  * closure (ANSI `WITH RECURSIVE ... UNION` emits it), so it flows into
  * the result like any other pair. Termination is unaffected — the pair
  * space is finite and each pair is emitted at most once.
  *
  * Every iterative algorithm here runs on ONE superstep driver,
  * [[iterate]] (the Pregelix shape: each superstep is the same dataflow,
  * a state relation joined with the edges; only the step differs). The
  * driver owns the four per-loop decisions:
  *   - the cut: each round's new relation is [[graft.Cuts.cut]] exactly once,
  *     LAZILY — it materializes inside the round's convergence probe, so
  *     a round costs one job, and every logical plan stays O(rounds)
  *     leaves deep instead of re-analysing the whole lineage each round;
  *   - the probe: a full action over the round's state (a count or an
  *     aggregate), run after every round, or after every second round
  *     for level-set loops (`widen`: the second level's probe runs
  *     through the first's shuffle, so one job answers both);
  *   - the round limit: `maxRounds` rounds without convergence hand the
  *     state to the algorithm's `atLimit`, which throws its own loud error
  *     (a truncated fixpoint is a wrong answer) or, for fixed-round
  *     sweeps, returns the state;
  *   - release: every public algorithm runs inside [[graft.Cuts.released]],
  *     and every frame it materializes (loop inputs such as the prepped
  *     edge layout, and each round) is a [[graft.Cuts.cut]]; so when it
  *     returns or throws, each cut its result does not read (superseded
  *     rounds, loop inputs under a final eager cut) is unpersisted at
  *     once instead of waiting for the ContextCleaner — repeated calls
  *     leave no residue in executor storage.
  *
  * Small-relation path: [[reachFix]], [[closureDoubling]] and [[bfsDepth]]
  * skip the join rounds when the planner would broadcast the edge
  * relation — integral ids, and the (src, dst) frame's
  * `optimizedPlan.stats.sizeInBytes` at most
  * `spark.sql.autoBroadcastJoinThreshold` (-1 turns it off). The edges
  * are then collected once into an [[Adjacency]] (primitive CSR arrays,
  * held for the call only), and the whole fixpoint runs in ONE eager cut
  * whose tasks search that adjacency from their closure: one search per
  * origin for reachFix and closure, one multi-source search in a single
  * task for bfsDepth. The largest discovery hop comes back from the same
  * job, and the call throws the join rounds' error exactly when their
  * round limit would. Same rows and schema as the rounds; above the
  * bound, or with non-integral or null ids, the rounds run unchanged.
  * GremlinLite's `repeat().until()/emit()` takes the same test through
  * [[untilSmall]], over its hop relation, seed ids and stop ids, and
  * searches on the driver instead of in a task; over a resident graph it
  * runs the same search ([[until]]) over the adjacency that graph's index
  * caches ([[Resident.Index]]), with nothing to gather.
  *
  * Scale notes (100 TB): each hop is one join frontier⋈edges; the edge
  * set is expected hash-partitioned AND sorted by `src` ([[GraphStore]]
  * layout), so hop-joins find the big side exchange-free and only the
  * frontier moves (`prepEdges = true` builds that layout for ad-hoc
  * inputs, in a cut; Spark 4.1's checkpoint reports no partitioning, so
  * the planner re-exchanges a prepped layout at each hop where the
  * persisted store's layout is reused). The anti-join runs BEFORE the frontier dedup so the
  * `distinct` reuses its (origin, node) exchange. Accumulating results
  * (reachFix, bfsDepth, khop) are unions of the per-round cut relations,
  * so the result is written once, as the disjoint union of its rounds.
  */
object Traversal {

  /** The superstep driver (see the object doc). Round r = 1, 2, … calls
    * `step(state, r)`, which returns the round's new relation and the
    * function that wraps that relation — once cut — into the next state.
    * After each round (each pair of rounds when `widen`) the driver runs
    * `converged`, which must be a full action over the new relation:
    * that action is what materializes the lazy cut. With `widen`, a round
    * whose probe finds nothing new must leave the state a fixpoint
    * (level-set loops: the next level of an empty level is empty), and a
    * pair starts while r ≤ `maxRounds`: when r = `maxRounds` its second
    * round is the emptiness witness that decides between converging and
    * `atLimit` (a sweep bounded at `maxRounds` makes its later levels
    * empty). */
  private def iterate[S](maxRounds: Int, converged: S => Boolean = (_: S) => false,
                         atLimit: S => S = (s: S) => s, widen: Boolean = false)(init: S)(
                         step: (S, Int) => (DataFrame, DataFrame => S)): S = {
    def round(s: S, r: Int): S = {
      val (frame, next) = step(s, r)
      next(cut(frame, eager = false))
    }
    var s = init
    var r = 1
    var done = false
    while (!done) {
      if (r > maxRounds) return atLimit(s)
      s = round(s, r)
      if (widen) { r += 1; s = round(s, r) }
      r += 1
      done = converged(s)
    }
    s
  }

  /** Loop state whose probe is its relation's row count, compared with
    * the previous round's (peeling loops converge when nothing peels). */
  private final class Counted(val df: DataFrame, val prev: Long) {
    lazy val n: Long = df.count()
  }

  /** Salt buckets for the frontier⋈edges hop join — session conf
    * `graft.hop.salt`: `0` (default) = off, `N` = fixed width, `auto` =
    * measure the skew and decide ([[autoSaltBuckets]]). A power-law graph
    * puts a celebrity vertex's ENTIRE edge list in one partition of the
    * plain src-hash layout, so every hop that expands through it runs one
    * straggler task however many executors exist. With N > 0 the prepped
    * layout keys on (src, hash(dst) mod N): the hot vertex's edges spread
    * over up to N partitions, and the (small) frontier replicates N ways
    * so the join stays a local key match. Costs: N× frontier shuffle
    * volume, and the salted layout no longer matches [[GraphStore]]'s
    * plain-src cache (prep rebuilds it) — which is why `auto` measures
    * rather than defaulting on (static salt cost 2.5× on the UNskewed
    * a13 walk). AQE's skew-join split does NOT cover this case: the edge
    * side is a cached, already-partitioned frame, not a fresh sort-merge
    * exchange AQE can re-plan. */
  private def saltBuckets(df: DataFrame): Int = {
    val v = df.sparkSession.conf.get("graft.hop.salt", "0")
    if (v == "auto") autoSaltBuckets(df) else v.toInt
  }

  /** `graft.hop.salt=auto`: ONE map-side-combinable degree aggregate
    * decides whether the hop join needs salting, and how wide. A src key
    * straggles when its edge list dominates a shuffle partition: with E
    * edges over P partitions a uniform task holds E/P rows, so salt only
    * when maxDeg > 2·E/P, width ⌈maxDeg/(E/P)⌉ capped at P — the hot list
    * splits into partition-sized slices, and a uniform graph measures 0
    * (salting stays OFF where it can only cost). The probe is one
    * partial-agg job over the edge set prep() is about to shuffle anyway
    * — strictly cheaper than the repartition it tunes. */
  private[graft] def autoSaltBuckets(edges: DataFrame): Int = {
    val parts = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val row = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(sum(col("deg")), max(col("deg"))).head()
    if (row.isNullAt(0)) 0
    else {
      val total = row.getLong(0)
      val maxDeg = row.getLong(1)
      val perPart = math.max(1L, total / parts)
      if (maxDeg <= 2 * perPart) 0
      else math.min(parts.toLong, (maxDeg + perPart - 1) / perPart).toInt
    }
  }

  private[graft] def prep(edges: DataFrame, prepEdges: Boolean): DataFrame = {
    val n = saltBuckets(edges)
    val base =
      if (n > 0) {
        // the chosen width rides in column metadata so the per-hop joins
        // (stepPairs/stepIds) replicate the frontier by exactly the same
        // N the layout used — `auto` must not re-measure per hop
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("buckets", n.toLong).build()
        edges.select(col("src"), col("dst"),
          pmod(xxhash64(col("dst")), lit(n.toLong)).cast("int").as("__salt", meta))
      } else edges.select(col("src"), col("dst"))
    if (prepEdges) {
      // an explicit width: the cut runs this plan under AQE, which would
      // otherwise coalesce a small edge set's partitions and with them
      // the salt spread
      val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val parted =
        if (n > 0) base.repartition(parts, col("src"), col("__salt"))
        else base.repartition(parts, col("src"))
      cut(parted.sortWithinPartitions(col("src")), eager = false)
    } else base
  }

  /** The salt width a prepped edge frame was built with (0 = unsalted). */
  private def saltOf(e: DataFrame): Int =
    if (!e.columns.contains("__salt")) 0
    else e.schema("__salt").metadata.getLong("buckets").toInt

  /** One expansion hop for (origin, node) pair frontiers: frontier⋈edges
    * on node = src, emitting (origin, dst-as-node). When the prepped edge
    * set is salted (see [[saltBuckets]]) the frontier explodes across the
    * salt buckets and the join adds the salt equi-key, so the hot vertex's
    * expansion parallelizes; output rows are identical either way. */
  private[graft] def stepPairs(frontier: DataFrame, e: DataFrame): DataFrame =
    // by-NAME col("dst") selects, not e("dst"): the frontier's lineage
    // contains e (hop n feeds hop n+1), so dataset-qualified references
    // trip DetectAmbiguousSelfJoin; "dst"/"origin" are each unique by name
    // in the joined output.
    if (!e.columns.contains("__salt"))
      frontier.join(e, frontier("node") === e("src"))
        .select(col("origin"), col("dst").as("node"))
    else {
      val n = saltOf(e)
      val f = frontier.select(col("origin"), col("node"),
        explode(typedLit((0 until n).toArray)).as("__fsalt"))
      f.join(e, f("node") === e("src") && f("__fsalt") === e("__salt"))
        .select(col("origin"), col("dst").as("node"))
    }

  /** [[stepPairs]] for single-column (`id`) frontiers: the raw neighbor
    * multiset (caller dedups/anti-joins). */
  private[graft] def stepIds(frontier: DataFrame, e: DataFrame): DataFrame =
    if (!e.columns.contains("__salt"))
      frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"))
    else {
      val n = saltOf(e)
      val f = frontier.select(col("id"),
        explode(typedLit((0 until n).toArray)).as("__fsalt"))
      f.join(e, f("id") === e("src") && f("__fsalt") === e("__salt"))
        .select(col("dst").as("id"))
    }

  /** The small-relation path's test (see the object doc): `edges`
    * collected as an [[Adjacency]] when its (src, dst) columns and the `id`
    * column of every frame in `starts` are integral and the planner would
    * broadcast the (src, dst) relation; None, and the join rounds run,
    * otherwise. */
  private def small(edges: DataFrame, starts: DataFrame*): Option[Adjacency] = {
    val e = edges.select(col("src"), col("dst"))
    // a start frame without an `id` fails in the rounds' own analysis
    val integral = integralCols(e) &&
      starts.forall(s => s.columns.contains("id") && integralType(s.schema("id")))
    val adj = if (integral && broadcastSized(e)) Adjacency.of(Adjacency.collectAll(e).head) else None
    if (adj.isDefined) smallPathRuns.incrementAndGet()
    adj
  }

  private def integralType(f: StructField): Boolean = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Every column of `f` integral: what an [[Adjacency]] holds. */
  private def integralCols(f: DataFrame): Boolean = f.schema.fields.forall(integralType)

  /** The planner's own broadcast test on each of `frames`: the optimized
    * plan's `sizeInBytes` at most `spark.sql.autoBroadcastJoinThreshold`
    * (-1 turns it off, without optimizing any plan). The one size test of
    * every driver-side escape: the small-relation paths here and the
    * resident graph and driver steps of [[Resident]]. */
  private[graft] def broadcastSized(frames: DataFrame*): Boolean = {
    val t = frames.head.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold").trim
    !t.startsWith("-") && {
      val threshold = BigInt(JavaUtils.byteStringAsBytes(t))
      frames.forall(_.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
    }
  }

  /** GremlinLite's `repeat().until()/emit()` on the small-relation path:
    * when `step` (src, dst), `seeds` (id) and `stops` (id, given for an
    * `until`) are each integral and pass [[broadcastSized]], ONE job
    * (none, when all three have folded to local rows) gathers them into
    * an [[Adjacency]] and the ids, and [[until]] searches on the driver.
    * Returns the ids the lowering keeps, or None (a frame is over the
    * bound, or an edge endpoint is null) and the join-round lowering
    * runs. A resident graph's index runs the same search over its cached
    * adjacency instead ([[Resident.Index.until]]). */
  private[graft] def untilSmall(step: DataFrame, seeds: DataFrame, stops: Option[DataFrame],
                                emit: Boolean): Option[Array[Long]] = {
    val frames = step.select(col("src"), col("dst")) +: (seeds +: stops.toSeq).map(_.select(col("id")))
    if (!frames.forall(integralCols) || !broadcastSized(frames: _*)) return None
    val rows = Adjacency.collectAll(frames: _*)
    def ids(k: Int) = rows.lift(k).iterator.flatten.filterNot(_.isNullAt(0)).map(_.getLong(0))
    Adjacency.of(rows(0)).map { adj =>
      smallPathRuns.incrementAndGet()
      until(adj, ids(1), ids(2), onlyStops = stops.isDefined && !emit)
    }
  }

  /** The one `repeat().until()/emit()` search ([[Adjacency.stopping]]):
    * the ids the lowering keeps (the stop vertices among them only, when
    * `onlyStops`: an `until` and no `emit`). Throws bfsDepth's round-limit
    * error exactly where the lowering's bfsDepth(ePrime, contStart), at
    * its default of 64 levels, would. */
  private[graph] def until(adj: Adjacency, seeds: Iterator[Long], stops: Iterator[Long],
                           onlyStops: Boolean): Array[Long] = {
    val maxIter = 64
    val (found, depth) = adj.stopping(seeds, stops, onlyStops)
    if (bfsDepthOver(maxIter)(depth)) throw bfsDepthLimit(maxIter)
    found
  }

  /** Calls that took the small-relation path, so a caller (TraversalSpec)
    * can assert which path ran instead of trusting the input's size. */
  private[graft] val smallPathRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  private val longPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** The small path's one job: `search` builds the result from tasks that
    * report their largest hop to the accumulator it is given. The result
    * is cut eagerly, and the call throws `limit` when `over` holds for the
    * largest hop reported (0 if no task ran). */
  private def searched(spark: SparkSession, over: Int => Boolean, limit: => RuntimeException)(
      search: CollectionAccumulator[Int] => DataFrame): DataFrame = released {
    val hops = spark.sparkContext.collectionAccumulator[Int]
    val out = cut(search(hops))
    if (over(hops.value.asScala.foldLeft(0)(math.max))) throw limit
    out
  }

  private def pairs(start: DataFrame, dedupStart: Boolean): DataFrame = {
    val p = start.select(col("id").as("origin"), col("id").as("node"))
    if (dedupStart) p.distinct() else p
  }

  /** Bounded k-hop: vertices reachable from `start` in 1..k hops.
    * `start` needs an `id` column; `edges` needs `src`/`dst`.
    * Returns (origin, node, hop) — `hop` is the first hop at which `node`
    * was discovered from `origin` (shortest-path semantics). A row
    * (a, a, h) means a directed cycle of length h through `a`.
    *
    * A fixed-round loop (no probe): the k lazily cut hops execute inside
    * ONE eager checkpoint job at the end, and the returned frame reads
    * from that checkpoint, so the prepped edge set and the per-hop cuts
    * are released before returning — repeated calls leave no residue in
    * executor storage. Set `dedupStart = false` when start ids are known
    * unique (e.g. a filter of a vertex store) to skip a shuffle. */
  def khop(edges: DataFrame, start: DataFrame, k: Int,
           prepEdges: Boolean = true, dedupStart: Boolean = true): DataFrame = released {
    require(k >= 1, s"khop needs k >= 1, got $k")
    val e = prep(edges, prepEdges)
    // state: (this hop's frontier, the hop-stamped frontiers so far)
    val (_, found) = iterate[(DataFrame, List[DataFrame])](k)(
        (pairs(start, dedupStart), Nil)) { case ((frontier, found), hop) =>
      val stepped = stepPairs(frontier, e)
      val next =
        if (found.isEmpty) stepped
        else stepped.join(found.map(_.select(col("origin"), col("node")))
          .reduce(_ unionByName _), Seq("origin", "node"), "left_anti")
      (next.distinct(), f => (f, f.withColumn("hop", lit(hop)) :: found))
    }
    cut(found.reverse.reduce(_ unionByName _))
  }

  /** Multi-source BFS depth: for every vertex reachable from the seed SET,
    * the minimum hop distance (seeds themselves at 0). Unlike [[khop]]
    * (per-origin pairs) the state here is one row per REACHED VERTEX —
    * frontier-only movement with a visited-set anti-join per level, so a
    * level costs one join however many seeds there are. Cycle-safe by the
    * visited set; levels beyond the first reach of a vertex never revisit
    * it (that first reach IS the minimum — BFS invariant). Probes every
    * second level (`widen`), so it converges in ~diameter/2 jobs; throws
    * if `maxIter` levels are exceeded first (a truncated depth map is a
    * wrong answer, not a partial one). */
  def bfsDepth(edges: DataFrame, start: DataFrame, maxIter: Int = 64,
               prepEdges: Boolean = true): DataFrame =
    small(edges, start) match {
      case Some(adj) => bfsDepthSmall(adj, edges, start, maxIter)
      case None => bfsDepthRounds(edges, start, maxIter, prepEdges)
    }

  private def bfsDepthLimit(maxIter: Int) = new IllegalArgumentException(
    s"bfsDepth did not converge in $maxIter levels — raise maxIter")

  /** The rounds probe every second level, so they stop after level D + 1
    * rounded up to even (D = the largest depth) and throw when the pair
    * holding it would start past `maxIter`. */
  private def bfsDepthOver(maxIter: Int)(d: Int): Boolean =
    math.max(1, if (d % 2 == 1) d else d + 1) > maxIter

  /** [[bfsDepth]] over a collected adjacency: one multi-source search in
    * one task, which throws where the rounds would ([[bfsDepthOver]]). */
  private def bfsDepthSmall(adj: Adjacency, edges: DataFrame, start: DataFrame,
                            maxIter: Int): DataFrame = {
    // the rounds' id is the seed and neighbor ids' union type
    val idType = start.select(col("id"))
      .unionByName(edges.select(col("dst").as("id"))).schema("id").dataType
    searched(start.sparkSession, bfsDepthOver(maxIter), bfsDepthLimit(maxIter)) { hops =>
      start.select(col("id").cast("long").as("id")).distinct().coalesce(1)
        .as(Encoders.LONG)
        .mapPartitions(it => adj.depths(it, hops.add))(
          Encoders.tuple(Encoders.LONG, Encoders.scalaLong))
        .toDF("id", "depth").select(col("id").cast(idType).as("id"), col("depth"))
    }
  }

  private def bfsDepthRounds(edges: DataFrame, start: DataFrame, maxIter: Int,
                             prepEdges: Boolean): DataFrame = released {
    val e = prep(edges, prepEdges)
    val seed = cut(start.select(col("id")).distinct().withColumn("depth", lit(0L)),
      eager = false)
    // state: (this level, every level so far — the visited set)
    val (_, levels) = iterate[(DataFrame, List[DataFrame])](maxIter,
        converged = _._1.count() == 0,
        atLimit = _ => throw bfsDepthLimit(maxIter),
        widen = true)((seed, List(seed))) { case ((frontier, levels), depth) =>
      val seen = levels.map(_.select(col("id"))).reduce(_ unionByName _)
      (stepIds(frontier.select(col("id")), e).distinct()
        .join(seen.hint("shuffle_hash"), Seq("id"), "left_anti")
        .withColumn("depth", lit(depth.toLong)), l => (l, l :: levels))
    }
    levels.reverse.reduce(_ unionByName _)
  }

  /** Observable count of [[topoLayers]] depth-escape restarts: incremented
    * each time the frontier loop abandons level sets for
    * [[topoLayersDoubling]]. Lets a caller (the x32 gate, TraversalSpec)
    * ASSERT the log-depth path actually ran, instead of trusting that the
    * input was deep enough. */
  private[graft] val topoDoublingSwitches =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Longest-path layering of a DAG: layer(v) = the longest directed path
    * length from any source (in-degree-0 vertex) to v — the topological
    * level assignment a scheduler/lineage system computes to know what can
    * run in parallel (everything on one layer) and how deep the critical
    * path is (the max layer). Vertices touching no edge are absent (no
    * layer is defined by edges they don't have).
    *
    * Exact-k level sets, not Bellman-Ford relaxation: S₀ = the sources,
    * S_k = neighbors(S_{k−1}) deduplicated — vertices with an incoming
    * path of EXACTLY k from a source — and layer(v) = max k with
    * v ∈ S_k (on a DAG every longest path starts at a source). A round
    * is one frontier⋈edges hop + one distinct; no per-round merge,
    * improvement join, or checkpoint of the full layer table (the
    * relaxation form this replaced paid all three per round — measured
    * 12.4 s → the level-set form at sf0.1). One max-aggregate over the
    * stacked levels (Σ|S_k| ≤ V·critical-path rows) finishes. Rounds =
    * critical path length. Cycles throw either way: one fed by a source
    * keeps S_k nonempty until maxIter fires, and a source-less one is
    * unreachable from S₀, which the final every-vertex-layered guard
    * catches (longest path is only defined on DAGs).
    *
    * Depth escape hatch: the level-set form serializes into one
    * scheduler round-trip per TWO levels, which is right for this
    * domain's shallow containment DAGs but wrong for a deep dependency
    * chain (depth 10⁵ ⇒ 5·10⁴ serial jobs). Past `switchDepth` levels
    * without converging, the loop abandons frontiers and restarts as
    * [[topoLayersDoubling]] — max-plus relation squaring, ⌈log₂ depth⌉+1
    * rounds — so layering cost grows with log(depth), never depth. The
    * switch is depth-triggered rather than default-on because doubling
    * materializes the reachability CLOSURE (O(pairs) rows, like
    * [[hopPower]]/[[closureDoubling]]) where level sets only ever hold
    * Σ|S_k| ≤ V·depth rows — on a shallow wide DAG the frontier form is
    * strictly cheaper. */
  def topoLayers(edges: DataFrame, maxIter: Int = 64,
                 prepEdges: Boolean = true, switchDepth: Int = 32): DataFrame = released {
    val e = prep(edges, prepEdges)
    val srcIds = e.select(col("src").as("id")).distinct()
    // cut: the anti-join below probes it AND the final guard counts
    // it — |srcIds ∪ dstIds| = |S₀| + |dstIds| exactly (S₀ = srcIds \
    // dstIds is disjoint from dstIds), so the census needs NO extra
    // union-distinct shuffle over the full vertex set
    val dstIds = cut(e.select(col("dst").as("id")).distinct(), eager = false)
    val s0 = cut(srcIds.join(dstIds, Seq("id"), "left_anti"), eager = false)
    // deep DAG: past switchDepth levels, stop paying a job per two levels
    // and restart as log-depth doubling (its own cycle guard applies)
    val deep = switchDepth < maxIter
    var switched = false
    // state: (level S_k, every level stamped with its layer)
    val (_, levels) = iterate[(DataFrame, List[DataFrame])](
        math.min(maxIter, switchDepth), converged = _._1.count() == 0,
        atLimit = s => if (deep) { switched = true; s } else
          throw new IllegalArgumentException(
            s"topoLayers did not converge in $maxIter rounds — a cycle in the " +
              "input? longest-path layering is defined on DAGs only"),
        widen = true)((s0, List(s0.withColumn("layer", lit(0L))))) {
      case ((cur, levels), k) =>
        (stepIds(cur, e).distinct(), l => (l, l.withColumn("layer", lit(k.toLong)) :: levels))
    }
    if (switched) {
      topoDoublingSwitches.incrementAndGet()
      topoLayersDoubling(e, prepEdges = false)
    } else {
      val frozen = cut(levels.reduce(_ unionByName _)
        .groupBy(col("id")).agg(max(col("layer")).as("layer")))
      // Contract guard: every edge-touching vertex must be layered. A
      // source-less cycle is unreachable from S₀, so the loop above
      // converges with those vertices silently MISSING — a wrong answer
      // maxIter alone cannot catch (it only fires when a cycle is fed by a
      // source). All three counts read materialized frames; no new shuffle
      // runs for the guard.
      val nVerts = s0.count() + dstIds.count()
      val nLayered = frozen.count()
      require(nLayered == nVerts,
        s"topoLayers: ${nVerts - nLayered} of $nVerts edge-touching vertices " +
          "are unreachable from any in-degree-0 source — the graph contains " +
          "a source-less cycle; longest-path layering is defined on DAGs only")
      frozen
    }
  }

  /** Log-depth [[topoLayers]]: longest-path layering by MAX-PLUS RELATION
    * SQUARING — the [[hopPower]] pattern lifted from the boolean semiring
    * (walk existence) to max-plus (walk length). R_s(u,v) = the longest
    * directed path length from u to v among paths of length ≤ 2^s; one
    * squaring round is `R ∘ R` (compose on the mid vertex, lengths ADD)
    * max-merged with R, so s rounds cover depth 2^s and a depth-10⁵
    * dependency DAG layers in 18 composition rounds instead of 5·10⁴
    * frontier jobs. Convergence = the (pairs, Σd) fingerprint stops
    * moving — both are monotone under squaring, so equality IS the
    * fixpoint, and the probe rides the same aggregate job that
    * materializes the round's cache. Then layer(v) = max R*(source, v)
    * with sources (in-degree-0 vertices) at 0 — on a DAG every longest
    * path starts at a source.
    *
    * Cycles cannot hide: the closure of any cycle contains a self-pair
    * (v,v), and each round's fingerprint job counts self-pairs in the
    * same pass — one appears, the round throws. That subsumes the
    * frontier form's two separate cycle guards (maxIter for sourced
    * cycles, the layered-count check for source-less ones).
    *
    * Scale trade, same as [[closureDoubling]]: the relation holds
    * O(reachable pairs) rows — bounded by V², not E — where the frontier
    * form holds only level sets. Use this form when depth is the enemy
    * ([[topoLayers]] auto-switches past its `switchDepth`); use the
    * frontier form when the DAG is shallow and wide.
    *
    * `onRound` is a test/telemetry hook called once per squaring round
    * (TraversalSpec proves a 63-level chain converges in ≤ 7). */
  def topoLayersDoubling(edges: DataFrame, maxRounds: Int = 40,
                         prepEdges: Boolean = true,
                         onRound: Int => Unit = _ => ()): DataFrame = released {
    val e = prep(edges, prepEdges)
    val base = e.select(col("src"), col("dst")) // salt-free view for compose joins
    // (pairs, Σd widened past BIGINT, self-pairs) in one aggregate: the
    // convergence fingerprint AND the cycle witness, and the job that
    // materializes the round's lazy cut
    final class Relation(val r: DataFrame, val before: (Long, java.math.BigDecimal)) {
      lazy val stats: (Long, java.math.BigDecimal) = {
        val row = r.agg(count(lit(1)), sum(col("d").cast("decimal(38,0)")),
          count(when(col("src") === col("dst"), 1))).head()
        if (row.getLong(2) > 0)
          throw new IllegalArgumentException(
            s"topoLayersDoubling: ${row.getLong(2)} vertex(es) reach themselves — " +
              "the graph contains a cycle; longest-path layering is defined " +
              "on DAGs only")
        (row.getLong(0), row.getDecimal(1))
      }
    }
    val seed = new Relation(
      cut(base.distinct().withColumn("d", lit(1L)), eager = false), null)
    val r = iterate[Relation](maxRounds,
        converged = s => s.stats._1 == 0 ||
          (s.stats._1 == s.before._1 && s.stats._2.compareTo(s.before._2) == 0),
        atLimit = _ => throw new IllegalArgumentException(
          s"topoLayersDoubling did not converge in $maxRounds rounds — " +
            s"a DAG deeper than 2^${maxRounds - 1}?"))(seed) { (s, round) =>
      onRound(round)
      // AT-CAP compose, not the full square (optimization round 16): the
      // left side is only the pairs sitting AT the round's dyadic cap,
      // d == 2^(round−1), not all of r. Exact by the canonical split:
      // any path of length m ∈ (2^k, 2^(k+1)] passes a vertex w exactly
      // 2^k hops in, its prefix is an exact length-2^k path — and for
      // any pair with an exact 2^k path the cap forces r_k(u,w) = 2^k
      // (the cap can't record more, the exact path guarantees no less).
      // That is all the argument needs; pairs WITHOUT an exact-2^k path
      // may sit below the cap (e.g. an edge u→v beside a longer u→v
      // path) and are correctly not recomposed — so every pair the full
      // square would improve is reachable from the at-cap slice, and
      // every composed candidate is a genuine path length
      // (path concatenation in the acyclic regime; on cyclic input the
      // self-pair check still fires — the first dyadic window
      // (2^k, 2^(k+1)] with 2^k ≥ girth contains a multiple of the
      // girth, at most one round later than the full square). Join
      // triples drop from Σ|r_k|·avg-fanout (quadratic in depth on a
      // deep chain — the x32 corpus) to Σ|at-cap_k|·avg-fanout (linear).
      val capD = 1L << (round - 1)
      val before = s.stats
      (s.r.filter(col("d") === capD)
        .select(col("src"), col("dst").as("__m"))
        .join(s.r.select(col("src").as("__m"), col("dst"), col("d").as("d2"))
          .hint("shuffle_hash"), "__m")
        .select(col("src"), col("dst"), (col("d2") + capD).as("d"))
        .unionByName(s.r)
        .groupBy(col("src"), col("dst")).agg(max(col("d")).as("d")),
        f => new Relation(f, before))
    }.r
    val srcIds = base.select(col("src").as("id")).distinct()
    // cut: probed by the anti-join, fed to the layer join, and
    // counted by the guard — |srcIds ∪ dstIds| = |sources| + |dstIds|
    // exactly (disjoint by construction), no union-distinct shuffle
    val dstIds = cut(base.select(col("dst").as("id")).distinct(), eager = false)
    val sources = cut(srcIds.join(dstIds, Seq("id"), "left_anti"), eager = false)
    val out = sources.withColumn("layer", lit(0L))
      .unionByName(
        r.join(sources.select(col("id").as("src")), "src")
          .select(col("dst").as("id"), col("d").as("layer")))
      .groupBy(col("id")).agg(max(col("layer")).as("layer"))
    // lazy: the guard's own count below is the materializing action
    val frozen = cut(out, eager = false)
    // belt-and-braces twin of the frontier form's guard (a cycle throws
    // above, so this can only fire on a logic regression)
    val nVerts = sources.count() + dstIds.count()
    val nLayered = frozen.count()
    require(nLayered == nVerts,
      s"topoLayersDoubling: ${nVerts - nLayered} of $nVerts edge-touching " +
        "vertices are unreachable from any in-degree-0 source")
    frozen
  }

  /** Cycle-safe transitive closure: all (origin, node) pairs with a directed
    * path of length ≥ 1 from origin to node — equivalent to DuckDB/ANSI
    * `WITH RECURSIVE ... UNION` (set semantics ⇒ termination on cycles).
    * Throws if `maxIter` is hit before convergence: a silently truncated
    * closure is a wrong answer, not a partial one. */
  def reachFix(edges: DataFrame, start: DataFrame, maxIter: Int = 64,
               prepEdges: Boolean = true, dedupStart: Boolean = true): DataFrame =
    small(edges, start) match {
      case Some(adj) => reachFixSmall(adj, edges, start, maxIter)
      case None => reachFixRounds(edges, start, maxIter, prepEdges, dedupStart)
    }

  private def reachFixLimit(maxIter: Int) = new IllegalStateException(
    s"reachFix did not converge within $maxIter iterations — " +
      "the transitive closure would be silently truncated; raise maxIter")

  /** [[reachFix]] over a collected adjacency: one search per distinct
    * origin. Round r of the rounds finds the pairs at shortest distance r,
    * so they stop after round D + 1 (D = the largest discovery hop) and
    * throw when that round would pass `maxIter`. The start ids are
    * deduplicated whatever `dedupStart` says: the rounds' per-round
    * `distinct` makes their result a set either way. */
  private def reachFixSmall(adj: Adjacency, edges: DataFrame, start: DataFrame,
                            maxIter: Int): DataFrame =
    searched(start.sparkSession, _ >= maxIter, reachFixLimit(maxIter)) { hops =>
      start.select(col("id").cast("long").as("id"))
        .where(col("id").isNotNull).distinct().as(Encoders.scalaLong)
        .mapPartitions(it =>
          adj.pairs(it.map(adj.indexOf).filter(_ >= 0), _ => true, hops.add))(longPairs)
        .toDF("origin", "node").select(
          col("origin").cast(start.schema("id").dataType).as("origin"),
          col("node").cast(edges.schema("dst").dataType).as("node"))
    }

  private def reachFixRounds(edges: DataFrame, start: DataFrame, maxIter: Int,
                             prepEdges: Boolean, dedupStart: Boolean): DataFrame = released {
    val e = prep(edges, prepEdges)
    // state: (this round's new pairs, every round's new pairs); the
    // result is their disjoint union, each round materialized by its
    // own count probe
    val (_, found) = iterate[(DataFrame, List[DataFrame])](maxIter,
        converged = _._1.count() == 0,
        atLimit = _ => throw reachFixLimit(maxIter))(
        (pairs(start, dedupStart), Nil)) { case ((frontier, found), _) =>
      val stepped = stepPairs(frontier, e)
      // shuffle_hash hint: the visited set only needs hash membership, not
      // order — SMJ would re-sort both multi-million-row sides every round.
      val next =
        if (found.isEmpty) stepped
        else stepped.join(found.reduce(_ unionByName _).hint("shuffle_hash"),
          Seq("origin", "node"), "left_anti")
      (next.distinct(), f => (f, f :: found))
    }
    found.reverse.reduce(_ unionByName _)
  }

  /** Transitive closure by recursive doubling ("squaring"): maintains the
    * pair set P = all (origin, node) with a directed path of length
    * 1..2^(k-1) after k rounds, and each round unions P∘P into P —
    * ceil(log2(diameter)) + 1 rounds instead of [[reachFix]]'s diameter
    * rounds. Output and semantics match `reachFix(edges, allVertices)`:
    * set semantics, cycle pairs (a, a) included, throws rather than
    * silently truncating.
    *
    * Tradeoff vs [[reachFix]] — and when to use which at 100 TB:
    * each doubling round self-joins the FULL closure-so-far (O(closure)
    * rows move per round) where a reachFix round moves only the frontier
    * against the co-partitioned edge set. For a whole-graph closure
    * (the a14 workload: start = V, the result IS the full closure) the
    * accumulated pair set is the same size either way, so trading
    * O(diameter) rounds of per-round job latency for O(log diameter)
    * bigger rounds wins — deep chains (ownership hierarchies, nested
    * groups) make it decisive. For SPARSE-origin traversals keep
    * reachFix: doubling materializes pairs between non-origin vertices
    * that a frontier walk never touches.
    *
    * Semi-naive rounds: the naive square P∘P re-derives (and the cut
    * re-writes) every already-known pair every round. Instead
    * each round composes only the LAST round's delta against the full
    * set. That is sufficient: a pair whose shortest path is
    * m ∈ (2^k, 2^(k+1)] split at the vertex w exactly 2^k hops from the
    * origin has shortest(o→w) = 2^k (any shorter o→w plus the ≤ m−2^k
    * remainder would beat m) — so o→w sits in Δ_k = shortest ∈
    * (2^(k−1), 2^k], and w→v (length ≤ 2^k) in P_k. Hence
    * new_{k+1} ⊆ Δ_k ∘ P_k, and only deltas are checkpointed — the
    * closure is written ONCE across the whole run (as the disjoint union
    * of cached deltas, the reachFix result shape), not once per round.
    *
    * Convergence witness: empty delta — exact and type-agnostic; its
    * count is the job that materializes the delta's cut. */
  def closureDoubling(edges: DataFrame, maxIter: Int = 20): DataFrame =
    small(edges) match {
      case Some(adj) => closureSmall(adj, edges, maxIter)
      case None => closureRounds(edges, maxIter)
    }

  private def closureLimit(maxIter: Int) = new IllegalStateException(
    s"closureDoubling did not converge within $maxIter rounds " +
      s"(path length 2^$maxIter) — the closure would be silently " +
      "truncated; raise maxIter")

  /** [[closureDoubling]] over a collected adjacency: one search per edge
    * source. The rounds double only the core (the peel below), and after
    * round r they hold its pairs of shortest distance ≤ 2^r, so they throw
    * when the core's longest shortest path L exceeds 2^maxIter (or when
    * `maxIter` < 1: round 1 always runs). A core vertex is one with an
    * incoming edge, and a search from it only ever walks core edges, so L
    * is the largest hop over the searches from such origins. */
  private def closureSmall(adj: Adjacency, edges: DataFrame, maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    searched(spark, l => maxIter < 1 || (maxIter < 62 && l > (1L << maxIter)),
        closureLimit(maxIter)) { hops =>
      spark.range(0, adj.size, 1, spark.sparkContext.defaultParallelism)
        .mapPartitions(it =>
          adj.pairs(it.map(_.intValue).filter(adj.hasOut), adj.hasIncoming, hops.add))(longPairs)
        .toDF("origin", "node").select(
          col("origin").cast(edges.schema("src").dataType).as("origin"),
          col("node").cast(edges.schema("dst").dataType).as("node"))
    }
  }

  private def closureRounds(edges: DataFrame, maxIter: Int): DataFrame = released {
    // SOURCE PEEL (round 14): an in-degree-0 vertex cannot sit on a cycle
    // and no path passes THROUGH it (an edge into it would give it
    // in-degree), so
    //   closure(G) = closure(core) ⊎ (srcE ∪ srcE∘closure(core))
    // with srcE = the edges LEAVING in-degree-0 vertices and core = the
    // rest (every out-edge of a reached vertex is a core edge, so the
    // decomposition is exact). On fact-over-dimension graphs — the a14
    // shape: 600k lineitem sources over a 190k-vertex upper graph at
    // sf0.1, or fact tables over dimension chains at 100 TB — this keeps
    // every iterative round on the SMALL core; source rows pay one
    // compose join and one distinct, never a per-round recompose. The
    // two origin sets are disjoint (a source origin is never a core
    // vertex), so the outer union needs no cross-set dedup. Cycles, if
    // any, live entirely in the core and keep their set-semantics
    // treatment there.
    val e0 = edges.select(col("src"), col("dst"))
    val dstIds = cut(e0.select(col("dst")).distinct(), eager = false)
    val srcE = cut(e0.join(dstIds.select(col("dst").as("src")), Seq("src"), "left_anti"),
      eager = false)
    val coreE = e0.join(dstIds.select(col("dst").as("src")), Seq("src"), "left_semi")
    val cCore = doublingBody(coreE, maxIter)
    // one eager job covers the whole peeled side — direct edges plus the
    // compose — and a graph with no sources just checkpoints an empty
    // frame here (cheaper than probing emptiness with its own count job)
    val srcPairs = cut(
      srcE.select(col("src").as("origin"), col("dst").as("node"))
        .unionByName(
          srcE.join(cCore.hint("shuffle_hash"),
            srcE("dst") === cCore("origin"))
            .select(srcE("src").as("origin"), cCore("node").as("node")))
        .distinct())
    cCore.unionByName(srcPairs)
  }

  /** The recursive-doubling loop proper, on a (src, dst) edge frame —
    * see [[closureDoubling]] for the semi-naive derivation. */
  private[graft] def doublingBody(edges: DataFrame, maxIter: Int): DataFrame = {
    // Seed with TWO levels (E ∪ E∘E) in one job: a doubling round costs a
    // full compose-distinct-anti cycle whatever its size, so folding the
    // first compose into the seed drops one round from every run. Using
    // the whole seed as Δ_0 (a superset of the required shortest ∈ (1, 2]
    // slice) only re-derives known pairs, which the anti-join removes.
    // NOT a union of the 1-hop and 2-hop branches: a Union whose second
    // branch joins the first branch's lineage trips Union's constraint
    // rewrite (key-not-found during analysis — the minLabel neighbor-min
    // comment documents the same trap). A left join + explode emits the
    // edge's own endpoint and its continuations from ONE plan instead;
    // the seed's distinct dedups the per-continuation repeats.
    val lhs = edges.select(col("src").as("o1"), col("dst").as("n1"))
    val rhs = edges.select(col("src").as("o2"), col("dst").as("n2"))
    val seed = cut(lhs.join(rhs.hint("shuffle_hash"), col("n1") === col("o2"), "left")
      .select(col("o1").as("origin"), explode(array(col("n1"), col("n2"))).as("node"))
      .where(col("node").isNotNull)
      .distinct(), eager = false)
    // state: (the last round's delta, every delta so far — the closure)
    val (_, deltas) = iterate[(DataFrame, List[DataFrame])](maxIter,
        converged = _._1.count() == 0,
        atLimit = _ => throw closureLimit(maxIter))((seed, List(seed))) { case ((delta, deltas), _) =>
      // the closure so far, rebuilt per use: the round's tree references
      // it on both the compose side and the anti probe
      def full(): DataFrame = deltas.reduce(_.unionByName(_))
      // anti-join then distinct: both hash on (origin, node), so the
      // distinct reuses the anti's exchange — one shuffle of the composed
      // pairs
      val comp = delta.as("a")
        .join(full().as("b").hint("shuffle_hash"), col("a.node") === col("b.origin"))
        .select(col("a.origin").as("origin"), col("b.node").as("node"))
      (comp.join(full().hint("shuffle_hash"), Seq("origin", "node"), "left_anti")
        .distinct(), f => (f, f :: deltas))
    }
    deltas.reduce(_.unionByName(_))
  }

  /** Default driver union-find cutoff, sized to the JVM actually running:
    * the collected pairs cost ~45 bytes/row (measured — tuple objects +
    * id array + parent indices), and we budget ~1% of driver heap for
    * them, capped at 1M rows. A 1g default driver gets ~230k; the ≥8g
    * bench/verify drivers get the full 1M. Pass `smallCutoff` explicitly
    * to override in either direction. */
  def defaultSmallCutoff: Long =
    math.min(1000000L, Runtime.getRuntime.maxMemory() / 100 / 45)

  /** Connected-component labels by min-id label propagation with pointer
    * jumping: every vertex of the (symmetrized) pair graph gets the MINIMUM
    * vertex id of its component. This is the scale-safe form of the
    * "canonical doc per dup cluster" reduction: the all-pairs transitive
    * closure materializes O(c²) rows for a c-member cluster (a web corpus
    * has boilerplate clusters of 10⁵-10⁶ near-identical docs, chained
    * across LSH buckets, so no per-bucket cap bounds c), while label
    * propagation keeps exactly ONE row per vertex at every step.
    *
    * Per round, two bounded steps:
    *   1. neighbor-min — each vertex takes the min of its own and its
    *      neighbors' labels (one hop of propagation);
    *   2. pointer jump — `label(v) := min(label(v), label(label(v)))`
    *      (every label is itself a vertex id of the same component, so the
    *      self-join is total). Jumping halves the residual chain depth, so
    *      path-shaped components converge in O(log diameter) rounds, not
    *      O(diameter).
    * Convergence is witnessed by a changed-row probe: the new labeling is
    * joined back to the previous round's and the round is a fixed point iff
    * no row changed label. The probe is type-agnostic (ids may be numeric
    * or string — `least`/`min` order either) and exact — no cast, no
    * hash-collision caveat. State per round is
    * O(vertices), cut every round (the jump self-join would otherwise
    * double the logical plan per round); shuffles are two hash
    * exchanges on `id` plus the jump join on `label`. Throws on `maxIter`
    * — a truncated labeling silently splits clusters.
    *
    * Input edges are directed (src, dst) pairs (e.g. LSH candidates with
    * id_a < id_b); symmetrization happens here. Output: (id, label).
    *
    * Graphs at or under `smallCutoff` undirected rows short-circuit to a
    * size-guarded single-task union-find on the driver (see inline note);
    * pass `smallCutoff = 0` to force the distributed rounds.
    */
  def minLabel(edges: DataFrame, maxIter: Int = 64,
               smallCutoff: Long = defaultSmallCutoff): DataFrame = released {
    val und = cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src")), eager = false)
    // Size-guarded driver escape hatch (the GraphX tiny-graph-skip
    // precedent): a pair graph under `smallCutoff` undirected rows is
    // cheaper to solve in ONE task of union-find than in log(diameter)
    // distributed rounds — the gate corpora pay ~16 rounds of
    // join+checkpoint job latency (~0.5 s each) for 10³ edges otherwise.
    // Same output contract (min id per component: ids are sorted, so
    // index order == id order and union-by-min-index == union-by-min-id);
    // the distributed path below is the 100 TB path and takes over past
    // the cutoff. The shortcut requires integral ids (it unions on Long);
    // string-keyed graphs fall through to the type-generic distributed
    // rounds. The default cutoff is derived from the driver JVM's max heap
    // (Runtime.maxMemory — see defaultSmallCutoff) so a 1g embedder never
    // collects ~45 MB of tuples by default; pass an explicit cutoff to
    // override.
    val integralIds = und.schema.fields.forall(f => f.dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    val nUnd = und.count()
    if (nUnd <= smallCutoff && integralIds) {
      val spark = edges.sparkSession
      import spark.implicits._
      val idType = und.schema("src").dataType
      val pairs = und.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val sorted = pairs.flatMap(p => Array(p._1, p._2))
      java.util.Arrays.sort(sorted)
      var n = 0
      for (i <- sorted.indices)
        if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      val ids = java.util.Arrays.copyOf(sorted, n)
      val parent = Array.tabulate(n)(identity)
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { p =>
        val ra = find(java.util.Arrays.binarySearch(ids, p._1))
        val rb = find(java.util.Arrays.binarySearch(ids, p._2))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val out = Array.tabulate(n)(i => (ids(i), ids(find(i)))).toSeq
      // Cast back to the input id type so both paths return one schema.
      out.toDF("id", "label")
        .select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label"))
    } else {
      val labels0 = cut(und.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")), eager = false)
      // state: (this round's labels, the previous round's)
      iterate[(DataFrame, DataFrame)](maxIter,
          // Type-agnostic convergence witness: the round is a fixed point
          // iff no vertex changed label. Works for any orderable id type
          // (numeric OR string) — no cast — and is exact, unlike a
          // hashed-sum witness.
          converged = { case (next, prev) =>
            next.as("a").join(prev.as("b").hint("shuffle_hash"), col("a.id") === col("b.id"))
              .where(col("a.label") =!= col("b.label")).count() == 0 },
          atLimit = _ => throw new IllegalStateException(
            s"minLabel did not converge within $maxIter rounds — " +
              "a truncated labeling would silently split components; raise maxIter"))(
          (labels0, labels0)) { case ((labels, _), _) =>
        // Neighbor-min via join+join, NOT a self-referential union: a union
        // whose second branch is also joined inside the first trips Union's
        // constraint rewrite (key-not-found during analysis). Coverage is
        // intact — und is symmetrized, so every vertex appears as a dst.
        val nmin = und.join(labels.hint("shuffle_hash"), und("src") === labels("id"))
          .groupBy(und("dst").as("id")).agg(min(col("label")).as("nl"))
        val l1 = labels.as("l")
          .join(nmin.as("n").hint("shuffle_hash"), col("l.id") === col("n.id"))
          .select(col("l.id").as("id"), least(col("l.label"), col("n.nl")).as("label"))
        (l1.as("a")
          .join(l1.as("b").hint("shuffle_hash"), col("a.label") === col("b.id"))
          .select(col("a.id").as("id"), least(col("a.label"), col("b.label")).as("label")),
          next => (next, labels))
      }._1
    }
  }

  /** Weighted single-source(-set) shortest paths — distributed
    * Bellman–Ford over integer edge weights (the `weight` property the
    * reference sets on every edge, main.go:321, which the unweighted
    * traversals ignore). Per round: one join (edges ⋈ current distances)
    * + one min-aggregation = the relax step over EVERY edge, then a merge
    * with the previous distances; converges when no distance improves
    * (a changed-row count, like [[minLabel]]'s witness).
    * Distances are exact BIGINTs — deterministic in any engine, no float
    * min-plus caveats. Negative weights are rejected (a negative cycle
    * has no shortest path; nonnegative BF needs no cycle detection).
    *
    * State is O(vertices) like [[bfsDepth]]; each round's exchange
    * carries (id, dist) longs. Rounds ≤ the longest shortest path's hop
    * count ≤ V-1; throws past `maxIter` instead of returning truncated
    * distances. Lineage is [[graft.Cuts.cut]] per round (reliable-checkpoint opt-in
    * applies). `edges` needs (src, dst, w); `sources` needs `id`.
    * Returns (id, dist) for every vertex reachable from the source set. */
  def sssp(edges: DataFrame, sources: DataFrame, maxIter: Int = 64): DataFrame = released {
    val e = cut(edges.select(col("src"), col("dst"), col("w").cast("long").as("w")),
      eager = false)
    require(e.filter(col("w") < 0).isEmpty,
      "sssp requires nonnegative weights (negative cycles have no shortest path)")
    val dist0 = cut(sources.select(col("id")).distinct().withColumn("dist", lit(0L)),
      eager = false)
    // state: (this round's distances, the previous round's)
    iterate[(DataFrame, DataFrame)](maxIter,
        converged = { case (next, prev) =>
          next.as("n").join(prev.as("o").hint("shuffle_hash"), Seq("id"), "left")
            .where(col("o.dist").isNull || col("n.dist") < col("o.dist")).count() == 0 },
        atLimit = _ => throw new IllegalStateException(
          s"sssp did not converge within $maxIter rounds — negative weights, " +
            "or a longest shortest path beyond the bound; raise maxIter"))((dist0, dist0)) { case ((dist, _), _) =>
      val relaxed = e.join(dist.hint("shuffle_hash"), e("src") === dist("id"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("d"))
        .groupBy("id").agg(min(col("d")).as("d"))
      (dist.as("a")
        .join(relaxed.as("b"), Seq("id"), "full_outer")
        .select(col("id"), least(
          coalesce(col("a.dist"), lit(Long.MaxValue)),
          coalesce(col("b.d"), lit(Long.MaxValue))).as("dist")),
        next => (next, dist))
    }._1
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which every
    * vertex keeps undirected degree ≥ k, by iterative peel — delete
    * under-degree vertices, recompute degrees, repeat to fixpoint. The
    * graph-sanitation pass a web-scale dedup/link pipeline runs to strip
    * the low-connectivity periphery (leaf chains, orphan pairs) before
    * expensive whole-graph analytics; peeling is the textbook algorithm
    * and is inherently iterative — no single SQL expression computes it.
    *
    * DELTA form: the edge set is symmetrized+distinct'd once, partitioned
    * by src, and never rewritten; the loop state is one (id, deg) row per
    * LIVE vertex. Per round, the newly under-degree vertices join the
    * static edge table to produce per-neighbor decrement counts (cost ∝
    * edges incident to the REMOVED delta — tiny after round 1, not the
    * whole graph), which merge into the surviving state by a left join,
    * then the round's cut of the O(V) state. The convergence witness is
    * the count of under-degree vertices left in the state. A first-cut
    * implementation that re-filtered the full edge set with two
    * anti-joins per round timed 9.0 s at sf0.1; this delta form does the
    * same 5 rounds over decrement-sized joins. Rounds are bounded by the
    * peel depth (measured 2-5 on the testdata graph at every SF), with
    * `maxIter` as the loud failure bound. Input needs (src, dst).
    *
    * Returns (id, deg): every vertex of the k-core with its degree
    * INSIDE the core (initial degree minus decrements from peeled
    * neighbors) — exact BIGINTs, engine-independent. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 64,
            assumeDistinct: Boolean = false): DataFrame = released {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    // `assumeDistinct = true` skips the symmetrized-distinct exchange (the
    // single most expensive stage — the edge table is 2|E| rows). Safe
    // ONLY when the caller guarantees (a) input pairs are distinct and
    // (b) no reverse pair exists (antisymmetric, e.g. a DAG like the FK
    // containment graph): then forward ∪ swapped cannot collide and the
    // degrees are already exact. A violated guarantee double-counts
    // degrees — callers without the proof keep the default.
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    val und = cut((if (assumeDistinct) sym else sym.distinct())
      .repartition(col("src")), eager = false)
    def under(live: DataFrame) = live.filter(col("deg") < k).select(col("id"))
    iterate[DataFrame](maxIter, converged = under(_).count() == 0,
        atLimit = _ => throw new IllegalStateException(
          s"kCore did not reach a fixpoint within $maxIter peel rounds — " +
            "a truncated peel overstates the core; raise maxIter"))(
        cut(und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")), eager = false)) {
      (live, _) =>
        // Edges FROM a peeled vertex, grouped by the surviving endpoint:
        // und is symmetric, so every undirected edge {u, v} with u peeled
        // decrements v exactly once. Edges between two peeled vertices
        // target a vertex absent from the surviving state — dropped by
        // the inner filter below, as they must be.
        val newly = under(live)
        val dec = und.join(newly.hint("shuffle_hash"), und("src") === newly("id"))
          .groupBy(und("dst").as("id")).agg(count(lit(1)).as("__d"))
        (live.filter(col("deg") >= k)
          .join(dec, Seq("id"), "left")
          .select(col("id"), (col("deg") - coalesce(col("__d"), lit(0L))).as("deg")),
          identity)
    }
  }

  /** Exactly-n-step reachability pairs by binary relation exponentiation:
    * R^n under set-semantics composition — ⌈log₂ n⌉ squarings plus at most
    * that many bit-composes (≤ 2·log₂ n joins total) instead of n
    * sequential hop joins. The SET lowering of `repeat(out()).times(n)
    * .dedup()` (Gremlin's bag semantics collapse under the dedup, and
    * boolean matrix power ≡ walk-existence), and the same log-round
    * scheduler math as [[closureDoubling]]: a 64-hop walk costs ~12
    * composes, not 64 frontier jobs.
    *
    * Each compose is distinct-deduped (semi-naive: pair sets, never walk
    * multiplicities — a dense level can't blow up into walk-count rows)
    * and cut so the self-composed plan stays two joins deep instead of
    * doubling per level. Same dense-graph caveat as
    * [[closureDoubling]]: R^k row count is bounded by V², not by E.
    *
    * Input needs (src, dst) columns; output is the distinct (src, dst)
    * pairs connected by a directed walk of length exactly n. */
  def hopPower(pairs: DataFrame, n: Int): DataFrame = released {
    require(n >= 1, s"hopPower needs n >= 1, got $n")
    // LAZY cut per compose, ONE eager cut at the end: each power is
    // referenced up to three times (both sides of its own square + the
    // accumulator compose), so it must materialize once — but an eager
    // cut per compose costs a dedicated job each (~1 s of fixed
    // scheduling per round locally; measured 5.6 → 2.x s on the R⁸
    // gate). A lazy cut materializes inside its first consumer's job
    // instead, and the final cut executes the whole ≤2·log₂(n)-join
    // chain as one job over the materialized intermediates.
    def compose(a: DataFrame, b: DataFrame): DataFrame =
      cut(a.select(col("src"), col("dst").as("__mid"))
        .join(b.select(col("src").as("__mid"), col("dst")).hint("shuffle_hash"), "__mid")
        .select(col("src"), col("dst")).distinct(), eager = false)
    // square-and-multiply over n's bits, low bit first
    val bits = Iterator.iterate(n)(_ >> 1).takeWhile(_ > 0).toList
    val (acc, _) = bits.foldLeft((Option.empty[DataFrame],
        cut(pairs.select(col("src"), col("dst")).distinct(), eager = false))) {
      case ((acc, pow), k) =>
        val acc2 = if ((k & 1) == 1) Some(acc.fold(pow)(compose(_, pow))) else acc
        (acc2, if (k > 1) compose(pow, pow) else pow)
    }
    cut(acc.get)
  }

  /** All vertices of the edge set, one `id` column, either endpoint role. */
  private def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()

  /** Strongly connected components: every vertex labeled with the minimum
    * id among the vertices it can BOTH reach and be reached from (itself
    * included) — the canonical SCC labeling, directed-cycle detection for
    * graph sanitation (a14's closure treats cycles as legitimate pairs;
    * this names them). Works for any id type with a total order (string
    * event types included).
    *
    * Form (round 16 — the x31 retime fix): TRIM first, then solve only
    * the cyclic CORE. A vertex with no in-edges or no out-edges in the
    * remaining subgraph cannot lie on any directed cycle, so up to 3
    * bounded peel rounds strip the acyclic fringe (sources and sinks
    * cascade — the FW-BW "trim" step); everything peeled is its own
    * singleton component, by the identity seeding the old all-graph form
    * also had. Cycles survive trimming untouched, and every co-reach
    * path lies entirely inside a cycle union, so labels computed on the
    * core equal the whole-graph labels exactly.
    *
    * The core then takes one of two paths:
    * at or under the heap-derived [[defaultSmallCutoff]] edges it
    * collects to the driver and runs iterative Tarjan — one job instead
    * of the seed + log-diameter compose rounds + intersect + min-agg
    * train, which on latency-bound local graphs was the whole cost of
    * x31 (~6 s quiet, dominated by ~12 tiny jobs). Above the cutoff the
    * distributed form runs unchanged on the TRIMMED core: one
    * [[closureDoubling]] closure, co-reachability as `closure ∩
    * closureᵀ` (the intersect hashes on the full pair — the cheapest
    * key), min aggregate. `sccCutoff` is the test hook (TraversalSpec
    * forces 0 to drive the distributed branch on small graphs).
    *
    * Scale: trimming turns the closure's R-bounded-by-V² caveat into
    * R-bounded-by-core² — and in curation graphs (dedup chains, policy
    * hierarchies) the cyclic core is a vanishing fraction of V. For a
    * core whose closure still would not fit, forward-backward coloring
    * at O(diameter) rounds per pivot remains the escape hatch. */
  def scc(edges: DataFrame): DataFrame = released {
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = edges.sparkSession
    val e0 = cut(edges.select(col("src"), col("dst")).distinct(), eager = false)
    val allVerts = vertices(e0)
    // at most 3 trim rounds; stop early once a round peels nothing
    val trimmed = iterate[Counted](3, converged = t => t.n == t.prev || t.n == 0)(
        new Counted(e0, -1L)) { (t, _) =>
      (t.df
        .join(t.df.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi")
        .join(t.df.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")), f => new Counted(f, t.n))
    }
    val core = trimmed.df
    val n = trimmed.n
    val idType = e0.schema("src").dataType
    val labelSchema = StructType(Seq(
      StructField("id", idType), StructField("component", idType)))
    val coreLabels: DataFrame =
      if (n == 0) {
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), labelSchema)
      } else if (n <= sccCutoff.getOrElse(defaultSmallCutoff)) {
        val rows = driverTarjan(
          core.collect().map(r => (r.get(0), r.get(1))).toSeq)
          .map { case (id, comp) => org.apache.spark.sql.Row(id, comp) }
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, labelSchema)
      } else {
        val closure = closureDoubling(core)
        val co = closure.intersect(
          closure.select(col("node").as("origin"), col("origin").as("node")))
        vertices(core).select(col("id"), col("id").as("m"))
          .unionByName(co.select(col("origin").as("id"), col("node").as("m")))
          .groupBy("id").agg(min(col("m")).as("component"))
      }
    allVerts.join(coreLabels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Test hook for [[scc]]'s small-core collect:
    * Some(0) forces the distributed closure branch on gate-sized cores. */
  @volatile private[graft] var sccCutoff: Option[Long] = None

  /** Iterative Tarjan on collected core edges (driver-side, cutoff-
    * guarded by the caller). Components are labeled with their minimum
    * member id — identical to the distributed min-co-reach labeling.
    * Keys are compared via their natural order (Long, String — anything
    * Comparable), matching Spark's `min` on the same column type. */
  private def driverTarjan(pairs: Seq[(Any, Any)]): Seq[(Any, Any)] = {
    val keys = pairs.iterator.flatMap(p => Iterator(p._1, p._2))
      .toArray.distinct
    val idx = keys.zipWithIndex.toMap
    val nv = keys.length
    val adj = Array.fill(nv)(List.empty[Int])
    pairs.foreach { case (a, b) => val i = idx(a); adj(i) = idx(b) :: adj(i) }
    val index = Array.fill(nv)(-1)
    val lowlink = new Array[Int](nv)
    val onStack = new Array[Boolean](nv)
    val comp = Array.fill(nv)(-1)
    val stack = new java.util.ArrayDeque[Int]()
    val work = new java.util.ArrayDeque[(Int, Iterator[Int])]()
    var counter = 0
    var nComp = 0
    def open(v: Int): Unit = {
      index(v) = counter; lowlink(v) = counter; counter += 1
      stack.push(v); onStack(v) = true
      work.push((v, adj(v).iterator))
    }
    (0 until nv).foreach { v0 =>
      if (index(v0) < 0) {
        open(v0)
        while (!work.isEmpty) {
          val (v, it) = work.peek()
          if (it.hasNext) {
            val w = it.next()
            if (index(w) < 0) open(w)
            else if (onStack(w)) lowlink(v) = math.min(lowlink(v), index(w))
          } else {
            work.pop()
            if (!work.isEmpty) {
              val p = work.peek()._1
              lowlink(p) = math.min(lowlink(p), lowlink(v))
            }
            if (lowlink(v) == index(v)) {
              var done = false
              while (!done) {
                val w = stack.pop(); onStack(w) = false; comp(w) = nComp
                done = w == v
              }
              nComp += 1
            }
          }
        }
      }
    }
    val ord: Ordering[Any] = (a: Any, b: Any) =>
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    val minByComp = new Array[Any](nComp)
    (0 until nv).foreach { v =>
      val c = comp(v)
      if (minByComp(c) == null || ord.lt(keys(v), minByComp(c)))
        minByComp(c) = keys(v)
    }
    (0 until nv).map(v => (keys(v), minByComp(comp(v))))
  }

  /** k-truss: the maximal subgraph in which every edge closes at least
    * k−2 triangles — the edge-cohesion refinement of [[kCore]] (degree
    * says "connected a lot", truss support says "connected through
    * mutual neighbors"). The dedup use: transitive LSH clustering can
    * chain-merge distinct groups through one bridge document; the truss
    * keeps the clique-like cores and peels the bridges.
    *
    * Iterative peel on an undirected canonical edge set (a < b): per
    * round, each edge's support = |N(a) ∩ N(b)| via two joins of the
    * edge list against its own symmetrized form (only (a, b, w) id
    * triples move — O(Σ common-neighbor pairs) join output, the same
    * wedge bound as triangle counting), drop edges below k−2, repeat to
    * fixpoint. Rounds are bounded by the peel depth (shallow in
    * practice, like [[kCore]]); each round cuts the shrinking edge set.
    * Output: (a, b, support) for surviving edges, support
    * measured in the final subgraph. */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = released {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val empty = edges.select(col("src").as("a"), col("dst").as("b"))
      .limit(0).withColumn("support", lit(0L))
    // each round's state is the surviving edges with their supports;
    // unchanged size ⇒ nothing peeled ⇒ the supports are final
    val last = iterate[Counted](maxIter, converged = t => t.n == t.prev || t.n == 0,
        atLimit = _ => throw new IllegalStateException(
          s"kTruss did not converge within $maxIter rounds — a silently " +
            "truncated peel is a wrong answer; raise maxIter"))(
        new Counted(cut(edges.select(
            least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b")).distinct(), eager = false), -1L)) { (t, _) =>
      val e = t.df.select(col("a"), col("b"))
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      (e.join(und.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(und.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .filter(col("w") =!= col("a") && col("w") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2), f => new Counted(f, t.n))
    }
    if (last.n == 0) empty else last.df
  }

  /** Maximal independent set by Luby's algorithm with DETERMINISTIC
    * priorities: round r gives every undecided vertex the priority
    * (md5(id·"#mis#r"), id) — a fixed total order any engine reproduces —
    * and a vertex enters the MIS when it beats every undecided neighbor;
    * its neighbors drop out. Repeats until no vertex is undecided.
    * Classic expected O(log n) rounds; each round is one edges⋈state join
    * + a per-vertex min aggregate over O(V) state — no pair set, no
    * closure, the canonical symmetry-breaking primitive (independent
    * work-sets for conflict-free parallel mutation, graph coloring seed).
    *
    * Input (src, dst) is symmetrized and self-loops dropped (a self-loop
    * would exclude its own vertex under independence read literally).
    * Output: (id, in_mis) for every vertex of the edge set. The result is
    * a function of the edge SET only — partitioning/merge order cannot
    * change it, so the DuckDB oracle unrolls the same rounds. */
  def maximalIndependentSet(edges: DataFrame, maxIter: Int = 40): DataFrame = released {
    import graft.functions.Hashing.md5Long
    val und = cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct(), eager = false)
    // state: one (id, in_mis) row per vertex, in_mis NULL while undecided
    val undecided = (st: DataFrame) => st.filter(col("in_mis").isNull)
    iterate[DataFrame](maxIter, converged = undecided(_).count() == 0,
        atLimit = _ => throw new IllegalStateException(
          s"Luby MIS did not converge within $maxIter rounds — astronomically " +
            "unlikely under hashed priorities; raise maxIter"))(
        cut(vertices(edges).filter(col("id").isNotNull)
          .withColumn("in_mis", lit(null).cast("boolean")), eager = false)) { (st, round) =>
      val pr = undecided(st).select(col("id"),
        md5Long(concat(col("id").cast("string"), lit(s"#mis#$round"))).as("p"))
      // smallest undecided-neighbor priority per vertex (strict total
      // order via the (p, id) pair; md5 ties break on id)
      val nbrMin = und.join(pr.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(struct(col("p"), col("dst"))).as("nmin"))
      val winners = pr.join(nbrMin, Seq("id"), "left")
        .filter(col("nmin").isNull ||
          struct(col("p"), col("id")) < col("nmin"))
        .select(col("id"))
      // only still-undecided neighbors drop out (und is the STATIC edge
      // set — a neighbor decided in an earlier round must not re-settle)
      val losers = und.join(winners.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(pr.select(col("id")), Seq("id"), "left_semi")
      val settled = winners.withColumn("__s", lit(true))
        .unionByName(losers.withColumn("__s", lit(false)))
      (st.join(settled, Seq("id"), "left")
        .select(col("id"), coalesce(col("in_mis"), col("__s")).as("in_mis")), identity)
    }
  }

  /** The all-vertex min-hop sweep behind every exact distance read-out
    * (ANF, harmonic centrality, [[eccentricity]], closeness): an O(pairs)
    * all-vertex [[khop]] reduced to its sufficient statistic,
    * per-(origin, hop) reached-vertex counts — at most V·maxHop tiny rows.
    * Returns (vertices, per-origin hop histogram) — vertex schema
    * preserved so string-keyed graphs work. */
  private def hopSweep(edges: DataFrame, maxHop: Int): (DataFrame, DataFrame) = {
    val verts = vertices(edges)
    val hist = khop(edges, verts, maxHop, dedupStart = false)
      .filter(col("origin") =!= col("node"))
      .groupBy(col("origin"), col("hop").cast("long").as("hop"))
      .agg(count(lit(1)).as("n"))
    (verts, hist)
  }

  /** Densest-subgraph parallel peeling (Bahmani–Kumar–Vassilvitskii,
    * ε = 0 form): each round removes EVERY vertex whose degree is at most
    * the current average (deg_v ≤ 2·|E|/|V|, spelled as the exact integer
    * compare deg_v·n ≤ m2 over the symmetrized ordered-edge count m2 and
    * non-isolated vertex count n) — the O(log V)-round MapReduce answer
    * to Charikar's inherently sequential one-vertex-at-a-time peel.
    * Returns the round trace (round, n_vertices, m2, density_micro =
    * ⌊10⁶·m2 / 2n⌋) for rounds with surviving vertices; the densest
    * round's subgraph is the 2-approximation, and emitting the whole
    * trace keeps the gate hashable and the peel auditable.
    *
    * Plan: per round one map-side-combinable degree aggregate and two
    * anti-joins against the (small) peel set, plus one aggregate job for
    * the round's (m2, n) — the probe that materializes its cut. V_r is
    * the NON-ISOLATED form (endpoints of surviving edges) — isolated
    * vertices only dilute density and their removal is what round r+1
    * does anyway; the oracle replays the identical convention. */
  def densestSubgraphTrace(edges: DataFrame, rounds: Int): DataFrame = released {
    require(rounds >= 1, s"densestSubgraphTrace needs rounds >= 1, got $rounds")
    val spark = edges.sparkSession
    // one state per trace row: the surviving ordered edges, their
    // (m2, n), and the states before it
    final class Peel(val und: DataFrame, val before: List[Peel]) {
      lazy val (m2, n) = {
        val row = und.agg(count(lit(1)), countDistinct(col("src"))).head()
        (row.getLong(0), row.getLong(1))
      }
    }
    val last = iterate[Peel](rounds - 1, converged = _.n == 0)(
        new Peel(cut(edges.select(col("src"), col("dst"))
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
          .filter(col("src") =!= col("dst")).distinct(), eager = false), Nil)) { (p, _) =>
      val peel = p.und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") * p.n <= p.m2).select(col("v"))
      (p.und
        .join(peel.select(col("v").as("src")), Seq("src"), "left_anti")
        .join(peel.select(col("v").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")), f => new Peel(f, p :: p.before))
    }
    import spark.implicits._
    (last :: last.before).reverse.takeWhile(_.n > 0).zipWithIndex
      .map { case (p, i) => (i + 1L, p.n, p.m2, p.m2 * 1000000L / (2L * p.n)) }
      .toDF("round", "n_vertices", "m2", "density_micro")
  }

  /** Exact neighborhood function N(h): for h = 0..maxHop, how many
    * (origin, node) pairs lie within distance h — the distance
    * distribution behind effective-diameter and "how connected is this
    * graph" read-outs (Palmer et al.'s ANF). Output: (hop, n_pairs,
    * cum_pairs) with `cum_pairs(h)` = N(h); hop 0 contributes the |V|
    * self-pairs.
    *
    * Exact form: one [[khop]] sweep seeded with EVERY vertex (min-hop
    * semantics give each pair its true distance), self-pairs rediscovered
    * around cycles dropped (their distance is 0), then a tiny per-hop
    * aggregate with a running sum. Materializes the distance-bounded
    * closure — exact but O(pairs); [[hyperBall]] is the sketch form that
    * scales past it. `maxHop` must be ≥ the graph diameter for the full
    * curve (beyond it the counts are simply complete). */
  def neighborhoodFunction(edges: DataFrame, maxHop: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (verts, hist) = hopSweep(edges, maxHop)
    val perHop = hist.groupBy(col("hop")).agg(sum(col("n")).as("n_pairs"))
    val hop0 = verts.agg(count(lit(1)).as("n_pairs"))
      .select(lit(0L).as("hop"), col("n_pairs"))
    // The running sum runs over ≤ maxHop+1 rows — the single-partition
    // window is the point, not an accident.
    hop0.unionByName(perHop)
      .withColumn("cum_pairs", sum(col("n_pairs")).over(
        Window.orderBy(col("hop")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Exact harmonic centrality: H(v) = Σ over distances h of
    * floor(n_h(v)·10⁶ / h), where n_h(v) = |{u : d(v, u) = h}| —
    * grouping the classic Σ 1/d(v, u) by distance keeps the whole
    * computation integer arithmetic (order-free, engine-exact) AND
    * makes [[hyperBallCentrality]] bit-identical while its sketches
    * stay in the HLL exact regime. O(pairs) via the all-vertex min-hop
    * sweep — the exact-oracle twin; the HyperBall form is the 100 TB
    * path (this is THE read-out HyperBall was invented for,
    * Boldi & Vigna 2013). Vertices reaching nothing score 0. */
  def harmonicCentrality(edges: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 1, s"harmonicCentrality needs maxHop >= 1, got $maxHop")
    val (verts, hist) = hopSweep(edges, maxHop)
    val sums = hist
      .groupBy(col("origin").as("id"))
      .agg(sum(expr("n * 1000000L div hop")).as("harmonic_micro"))
    verts.join(sums, Seq("id"), "left")
      .select(col("id"), coalesce(col("harmonic_micro"), lit(0L)).as("harmonic_micro"))
  }

  /** Vertex eccentricity within `maxHop`: ecc(v) = max over reachable u
    * of d(v, u) — the per-vertex refinement of the effective-diameter
    * read-out (a vertex at the graph's periphery has high eccentricity,
    * the center realizes the radius). Derived for free from the shared
    * [[hopSweep]] histogram; vertices reaching nothing score 0. Bounded
    * by `maxHop` by construction — at 100 TB the same read-out falls
    * out of [[hyperBall]]'s per-vertex ball deltas with O(V) state. */
  def eccentricity(edges: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 1, s"eccentricity needs maxHop >= 1, got $maxHop")
    val (verts, hist) = hopSweep(edges, maxHop)
    val mx = hist.groupBy(col("origin").as("id")).agg(max(col("hop")).as("ecc"))
    verts.join(mx, Seq("id"), "left")
      .select(col("id"), coalesce(col("ecc"), lit(0L)).as("ecc"))
  }

  /** Exact closeness centrality (Wasserman–Faust disconnected form),
    * kept fully rational: per vertex v with r(v) = #reached (excluding
    * self, within `maxHop`) and S(v) = Σ d(v, u),
    * closeness_micro = ⌊r(v)² · 10⁶ / (S(v) · (|V| − 1))⌋ — the
    * reachable-fraction-weighted reciprocal mean distance, so vertices
    * in small islands don't outrank the giant component's center the
    * way raw 1/S̄ would. Integer numerator/denominator then ONE floored
    * division: order-free and engine-exact. Derived from the same
    * [[hopSweep]] the x11/x14/x21/x25 family reads; isolated
    * vertices score 0. The 100 TB path reads the identical statistic
    * (reach + distance sum) from [[hyperBallCentrality]]'s per-hop ball
    * deltas with O(V) state. */
  def closenessCentrality(edges: DataFrame, maxHop: Int): DataFrame = {
    require(maxHop >= 1, s"closenessCentrality needs maxHop >= 1, got $maxHop")
    val (verts, hist) = hopSweep(edges, maxHop)
    val nMinus1 = verts.count() - 1
    val sums = hist.groupBy(col("origin").as("id"))
      .agg(sum(col("n")).as("reach"), sum(col("n") * col("hop")).as("dist_sum"))
    verts.join(sums, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("reach"), lit(0L)).as("reach"),
        coalesce(col("dist_sum"), lit(0L)).as("dist_sum"))
      .withColumn("closeness_micro",
        when(col("dist_sum") > 0 && lit(nMinus1) > 0,
          expr(s"reach * reach * 1000000L div (dist_sum * ${nMinus1}L)"))
          .otherwise(lit(0L)))
  }

  /** Newman modularity of a vertex partition, exact in integers. For the
    * symmetrized simple graph (ordered edge count m2 = 2m, per-community
    * internal ordered-edge count intra_c and degree mass deg_c):
    * Q = Σ_c [ intra_c/m2 − (deg_c/m2)² ] =
    * (Σ_c intra_c·m2 − deg_c²) / m2² — one integer numerator, one
    * integer denominator, one floored micro division, so the score is
    * order-free and engine-exact (a float Q would drag summation order
    * across engines). `labels` is (id, label) — e.g.
    * [[labelPropagation]]'s output; vertices absent from `labels` are
    * their own singleton community (matching labelPropagation's
    * self-label fallback). Returns ONE row:
    * (n_communities, m2, q_num, q_den, q_micro).
    *
    * Plan: symmetrize+distinct once, two label joins (broadcast when the
    * label table is small, shuffle-hash otherwise — Catalyst's call),
    * then two tiny aggregates; nothing here is O(pairs). Skew note: a
    * giant community concentrates its intra count via map-side combine
    * on (label), not via a hot join key — safe at 100×. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    // lab joins into BOTH edge endpoints but stays lazy: the expensive
    // label expressions are iterative plans that already end in a cut
    // (labelPropagation checkpoints its result), so the double read is
    // two cheap checkpoint scans — an extra cut here only adds a job.
    val lab = vertices(edges).join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    val e2 = und
      .join(lab.select(col("id").as("src"), col("label").as("src_label")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("label").as("dst_label")), Seq("dst"))
    // per-community sufficient statistics: intra (ordered) and degree mass
    val perC = e2.groupBy(col("src_label").as("label"))
      .agg(count(lit(1)).as("deg_c"),
        sum(when(col("src_label") === col("dst_label"), 1L).otherwise(0L)).as("intra_c"))
    perC.agg(
        count(lit(1)).as("n_communities"),
        sum(col("deg_c")).as("m2"),
        sum(col("intra_c")).as("intra_total"),
        sum(col("deg_c") * col("deg_c")).as("deg_sq"))
      .select(col("n_communities"), col("m2"),
        (col("intra_total") * col("m2") - col("deg_sq")).as("q_num"),
        (col("m2") * col("m2")).as("q_den"))
      // Q may be legitimately negative (anti-community partitions);
      // spell truncation-toward-zero explicitly so Spark's `div` and the
      // oracle's `//` cannot disagree on negative numerators.
      .withColumn("q_micro",
        when(col("q_num") >= 0, expr("q_num * 1000000L div q_den"))
          .otherwise(-expr("(-q_num) * 1000000L div q_den")))
  }

  /** Harmonic centrality from per-vertex HyperBall sketches — the
    * original Boldi & Vigna application: H(v) ≈ Σ_h (|B_v(h)| −
    * |B_v(h−1)|)·10⁶ div h, ball sizes estimated by per-vertex HLL
    * sketches (register-max merges ⇒ deterministic and partitioning-
    * invariant), per-hop deltas floored to micro units in fixed hop
    * order. O(V) fixed-size state per round, no pair ever materializes
    * — the read-out [[harmonicCentrality]] cannot afford at 100 TB.
    * While sketches are in the HLL exact regime the result equals the
    * exact form bit-for-bit (the x21b gate's in-row verdict). */
  def hyperBallCentrality(edges: DataFrame, maxHop: Int, lgK: Int = 12): DataFrame = released {
    require(maxHop >= 1, s"hyperBallCentrality needs maxHop >= 1, got $maxHop")
    val est = balls(edges, maxHop, lgK)
      .map(_.select(col("id"), hll_sketch_estimate(col("ball")).as("est")))
    est.zip(est.tail).zipWithIndex
      .foldLeft(est.head.select(col("id"), lit(0L).as("h_micro"))) {
        case (acc, ((prev, cur), i)) =>
          // greatest(0, Δ): register-max unions are monotone, but guard the
          // estimator against ever flooring a −ε to −1
          acc.join(cur.withColumnRenamed("est", "__cur"), Seq("id"))
            .join(prev.withColumnRenamed("est", "__prev"), Seq("id"))
            .select(col("id"), (col("h_micro") +
              floor(greatest(col("__cur") - col("__prev"), lit(0.0)) * 1000000L / (i + 1))
                .cast("long")).as("h_micro"))
      }
      .select(col("id"), col("h_micro").as("harmonic_est_micro"))
  }

  /** Per-vertex HLL balls B(0), …, B(maxHop): a fixed-round loop (no
    * probe), so every ball materializes lazily inside the caller's one
    * action — the sketch state [[hyperBall]] and [[hyperBallCentrality]]
    * read. */
  private def balls(edges: DataFrame, maxHop: Int, lgK: Int): List[DataFrame] = {
    val b0 = cut(vertices(edges).groupBy("id")
      .agg(hll_sketch_agg(col("id").cast("string"), lit(lgK)).as("ball")), eager = false)
    iterate[List[DataFrame]](maxHop)(List(b0)) { (bs, _) =>
      (edges.join(bs.head.withColumnRenamed("id", "__nid"), col("dst") === col("__nid"))
        .select(col("src").as("id"), col("ball"))
        .unionByName(bs.head.select(col("id"), col("ball")))
        .groupBy("id").agg(hll_union_agg(col("ball")).as("ball")), b => b :: bs)
    }.reverse
  }

  /** HyperBall (Boldi & Vigna): the approximate neighborhood function by
    * per-vertex HLL sketches — state is one fixed-size sketch per vertex
    * (2^lgK registers), a round is one join + register-max merge, so the
    * full distance distribution of a 100 TB graph costs diameter rounds of
    * O(V) state and never materializes a pair. Deterministic: HLL register
    * content depends only on the value set, and the union is a register
    * max — partitioning and merge order cannot change the estimate.
    * Output: (hop, est_pairs) — floor-truncated estimates, comparable to
    * [[neighborhoodFunction]]'s exact `cum_pairs`. */
  def hyperBall(edges: DataFrame, maxHop: Int, lgK: Int = 12): DataFrame = released {
    require(maxHop >= 0, s"hyperBall needs maxHop >= 0, got $maxHop")
    balls(edges, maxHop, lgK).zipWithIndex.map { case (b, h) =>
      b.agg(floor(sum(hll_sketch_estimate(col("ball")))).cast("long").as("est_pairs"))
        .select(lit(h.toLong).as("hop"), col("est_pairs"))
    }.reduce(_ unionByName _)
  }

  /** Stress centrality (Shimbel 1953) — the integer member of the
    * betweenness family: stress(v) = Σ over ordered pairs (s, t) of
    * σ_st(v), the number of shortest s→t paths passing through v as an
    * INTERIOR vertex. Unlike Brandes' betweenness, whose σ_st(v)/σ_st
    * fractions no two engines floor identically, stress is a pure path
    * COUNT — exact in long arithmetic, so an oracle can replay it
    * bit-for-bit. Expects a symmetrized edge set for undirected
    * semantics (the [[harmonicCentrality]] contract); duplicate edges
    * are dropped defensively — σ is a count of distinct paths, and a
    * doubled edge would double every count through it.
    *
    * Form: the forward half of Brandes as a BFS sweep carrying counts —
    * state (s, v, d, σ) where a new vertex's σ sums its distance-(d−1)
    * predecessors' σ — then ONE composition join through interior
    * vertices: σ_s(v)·σ_v(t) summed where d(s,v) + d(v,t) = d(s,t)
    * (the distance test is what makes the concatenation a shortest
    * path). Degree-1 vertices are pruned before the composition — a
    * leaf is never interior to a simple shortest path — cutting the
    * join fan-out from O(V·pairs) to O(hubs·pairs); pruned vertices
    * come back as stress 0 in the final left join.
    *
    * Scale: the sweep materializes O(pairs) rows — the exact-oracle
    * twin tier ([[neighborhoodFunction]], [[harmonicCentrality]]). At
    * 100 TB, run the identical sweep from a deterministic hash-SAMPLE
    * of sources (Brandes–Pich estimation): per-source work is
    * unchanged, the composition join already keys on the small hub
    * side, and σ_v(t) for the t-side reuses the sampled sweep
    * transposed (undirected symmetry). */
  def stressCentrality(edges: DataFrame, maxHop: Int): DataFrame = released {
    require(maxHop >= 1, s"stressCentrality needs maxHop >= 1, got $maxHop")
    val e = cut(edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")), eager = false)
    val verts = vertices(edges)
    val state = sigmaSweep(verts, e, maxHop)
    val pairsSV = state.filter(col("d") > 0)
    val hubs = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") > 1).select(col("src").as("v"))
    val left = pairsSV.join(hubs, Seq("v"))
      .select(col("s"), col("v"), col("d").as("d1"), col("sigma").as("sig1"))
    val right = pairsSV.select(col("s").as("v"), col("v").as("t"),
      col("d").as("d2"), col("sigma").as("sig2"))
    val dist = pairsSV.select(col("s"), col("v").as("t"), col("d").as("dt"))
    val sums = left.join(right, Seq("v"))
      .join(dist, Seq("s", "t"))
      .filter(col("d1") + col("d2") === col("dt"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("sig1") * col("sig2")).as("stress"))
    cut(verts.join(sums, Seq("id"), "left")
      .select(col("id"), coalesce(col("stress"), lit(0L)).as("stress")))
  }

  /** One BFS-with-counts level: the unvisited (s, dst) expansion of `f`,
    * σ summed over the distance-(d−1) predecessors (all of which sit in
    * `f` — the BFS invariant), anti-joined against `seen`. */
  private def sigmaLevel(f: DataFrame, e: DataFrame, seen: DataFrame,
                         d: Long): DataFrame =
    f.join(e, f("v") === e("src"))
      .groupBy(f("s"), e("dst"))
      .agg(sum(col("sigma")).as("sigma"))
      .select(col("s"), col("dst").as("v"), lit(d).as("d"), col("sigma"))
      .join(seen.select(col("s"), col("v")), Seq("s", "v"), "left_anti")

  /** The σ sweep shared by the exact and sampled stress forms: a level
    * per round, probed every second level (`widen`), bounded by `maxHop`
    * (a level past it is empty, so an odd `maxHop` ends on an empty
    * witness). Each level anti-joins against every level so far, and
    * level_{d+1} ⊆ neighbors(level_d), so an empty level ends the sweep. */
  private def sigmaSweep(seeds: DataFrame, e: DataFrame, maxHop: Int): DataFrame = {
    val seed = cut(seeds.select(col("id").as("s"), col("id").as("v"),
      lit(0L).as("d"), lit(1L).as("sigma")), eager = false)
    // state: (this level, every level so far)
    val (_, levels) = iterate[(DataFrame, List[DataFrame])](maxHop,
        converged = _._1.count() == 0, widen = true)((seed, List(seed))) {
      case ((frontier, levels), hop) =>
        val level = sigmaLevel(frontier, e, levels.reduce(_ unionByName _), hop)
        (if (hop > maxHop) level.limit(0) else level, l => (l, l :: levels))
    }
    levels.reverse.reduce(_ unionByName _)
  }

  /** Sampled-source stress centrality — [[stressCentrality]]'s 100 TB
    * path (Brandes & Pich 2007: estimate centrality from a pivot
    * subset), made deterministic: sources are the vertices with
    * `xxhash64(id) mod sampleMod == 0` (a property of the id, not of
    * partitioning), the BFS-with-counts sweep runs from sampledSources
    * ∪ hubs only — σ_v(t) for interior v needs hub sources regardless,
    * and hubs are the small side by construction — and the composition
    * is the same σ_s(v)·σ_v(t) distance-tested join restricted to
    * sampled s. Returns (id, raw, n_sampled, n_sources): `raw` is the
    * sampled path-count mass; est = raw · n_sources / n_sampled. The
    * division is left to the CALLER so every emitted number stays an
    * exact integer (the x22b gate cross-multiplies against the exact
    * value instead of comparing floored quotients).
    *
    * Scale: state is O(|S|·V) not O(pairs) — the knob a 1000-executor
    * deployment turns (sampleMod ~ V / thousands) while per-source
    * work and the hub-keyed composition stay identical to the exact
    * form. */
  def stressCentralitySampled(edges: DataFrame, maxHop: Int,
                              sampleMod: Int): DataFrame = released {
    require(maxHop >= 1, s"stressCentralitySampled needs maxHop >= 1, got $maxHop")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val e = cut(edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")), eager = false)
    val verts = vertices(edges)
    val hubs = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") > 1).select(col("src").as("id"))
    val sampled = verts
      .filter(pmod(xxhash64(col("id").cast("string")), lit(sampleMod.toLong)) === 0)
    val seeds = sampled.unionByName(hubs).distinct()
    val state = sigmaSweep(seeds, e, maxHop)
    val pairsSV = state.filter(col("d") > 0)
    val sampledSet = sampled.select(col("id").as("s"))
    val left = pairsSV.join(sampledSet, Seq("s"))
      .join(hubs.select(col("id").as("v")), Seq("v"))
      .select(col("s"), col("v"), col("d").as("d1"), col("sigma").as("sig1"))
    val right = pairsSV.join(hubs.select(col("id").as("s")), Seq("s"))
      .select(col("s").as("v"), col("v").as("t"),
        col("d").as("d2"), col("sigma").as("sig2"))
    val dist = pairsSV.join(sampledSet, Seq("s"))
      .select(col("s"), col("v").as("t"), col("d").as("dt"))
    val sums = left.join(right, Seq("v"))
      .join(dist, Seq("s", "t"))
      .filter(col("d1") + col("d2") === col("dt"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("sig1") * col("sig2")).as("raw"))
    val nAll = verts.count()
    val nSampled = sampled.count()
    val out = verts.join(sums, Seq("id"), "left")
      .select(col("id"), coalesce(col("raw"), lit(0L)).as("raw"),
        lit(nSampled).as("n_sampled"), lit(nAll).as("n_sources"))
    cut(out)
  }

  /** Deterministic negative edge sampling — the contrastive-pair generator
    * for graph/embedding training (word2vec, GNN link prediction): for
    * each distinct `src`, `k` pseudo-random destinations drawn from the
    * edge list's dst multiset (UNIGRAM weighting: a destination's draw
    * probability is its in-degree share, the word2vec noise
    * distribution), with draws landing on a real out-neighbor or on
    * `src` itself REJECTED (standard rejection sampling — output rows
    * per src range 0..k, never silently resampled, so the result is a
    * pure function of the edge set). Output (src, draw, neg).
    *
    * Determinism without a seed parameter: draw d of src s picks global
    * position md5(s·"#neg#"·d) mod |E| in a canonical total order of the
    * DISTINCT edge set — any engine with md5 reproduces every pair.
    *
    * The canonical order is built WITHOUT a global sort (a single-task
    * window at 100 TB): edges hash into `shards` groups, are ranked
    * per-shard (parallel windows), and per-shard counts prefix-sum into
    * offsets on a `shards`-row broadcast table — global position =
    * shard offset + within-shard rank, the same sharded-prefix-sum trick
    * as sequence packing. Candidate join is an equi-join on position;
    * the rejection anti-join hashes on (src, dst). No stage touches more
    * than O(E + k·V) rows. */
  def negativeSample(edges: DataFrame, k: Int, shards: Int = 32): DataFrame = released {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing.md5Long
    require(k >= 1, s"negativeSample needs k >= 1, got $k")
    require(shards >= 1, s"negativeSample needs shards >= 1, got $shards")
    // Eager cut, not a lazy persist: the distinct edge set feeds FIVE
    // consumers (shard-rank, offsets, |E|, the src list, the rejection
    // anti-join) — a lazy cache would re-run the distinct exchange in
    // whichever consumer materializes first.
    val e = cut(edges.select(col("src"), col("dst")).distinct())
    val hashed = e.select(col("src"), col("dst"),
      md5Long(concat(col("src").cast("string"), lit("|"), col("dst").cast("string")))
        .as("__h"))
      .withColumn("__shard", pmod(col("__h"), lit(shards.toLong)))
    val ranked = hashed.withColumn("__wr",
      row_number().over(Window.partitionBy(col("__shard"))
        .orderBy(col("__h"), col("src"), col("dst"))) - 1)
    // shards-row offset table: cumulative count of lower shards. The
    // window here runs over `shards` rows, not edges — broadcast-sized.
    val offsets = hashed.groupBy(col("__shard")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__shard")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    val dict = ranked.join(broadcast(offsets.select(col("__shard"), col("__off"))),
        Seq("__shard"))
      .select((col("__off") + col("__wr")).as("__pos"), col("dst").as("neg"))
    val total = e.agg(count(lit(1)).as("__e"))
    val draws = e.select(col("src")).distinct()
      .crossJoin(broadcast(total))
      .select(col("src"), explode(sequence(lit(0), lit(k - 1))).as("draw"), col("__e"))
      .select(col("src"), col("draw"),
        pmod(md5Long(concat(col("src").cast("string"), lit("#neg#"),
          col("draw").cast("string"))), col("__e")).as("__pos"))
    val out = draws.join(dict, Seq("__pos"))
      .filter(col("neg") =!= col("src"))
      .join(e.select(col("src"), col("dst").as("neg")).hint("shuffle_hash"),
        Seq("src", "neg"), "left_anti")
      .select(col("src"), col("draw"), col("neg"))
    out
  }

  /** Synchronous label propagation (community detection): every vertex
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its neighbors, ties broken by SMALLEST label —
    * a fixed total order, so the fixed-round result is a pure function
    * of the edge set (asynchronous LPA's update-order dependence is
    * exactly what this variant removes; the price is the classic
    * bipartite two-coloring oscillation, which fixed `rounds` makes a
    * defined, replayable output rather than a hang). Input is
    * symmetrized, self-loops dropped. Returns (id, label).
    *
    * Plan: per round one edges⋈labels equi-join, one (id, label) count
    * aggregate (map-side combinable), one per-id top-1 window — O(E)
    * join rows, O(V) state, the same per-round shape as [[kCore]]'s
    * peel; a fixed-round [[iterate]] loop keeps the lineage flat. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = released {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"labelPropagation needs rounds >= 1, got $rounds")
    val und = cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    // cut: the vertex set joins back every round — uncut, each round
    // re-runs the distinct-union
    val verts = cut(vertices(edges))
    iterate[DataFrame](rounds)(verts.select(col("id"), col("id").as("label"))) { (labels, _) =>
      val counts = und.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"), col("label")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("id")).orderBy(col("n").desc, col("label"))
      val chosen = counts.withColumn("__r", row_number().over(w))
        .filter(col("__r") === 1).select(col("id"), col("label").as("__l"))
      // a vertex with no surviving neighbor rows (self-loop-only) keeps
      // labeling itself rather than silently vanishing
      (verts.join(chosen, Seq("id"), "left")
        .select(col("id"), coalesce(col("__l"), col("id")).as("label")), identity)
    }
  }

  /** Sampled neighbor aggregation (the GraphSAGE mini-batch data-prep
    * step): for every vertex with out-edges, the exact SUM and COUNT of
    * an integer feature over AT MOST `s` deterministically sampled
    * out-neighbors — neighbors ranked by (md5(src·"#agg#"·dst), dst) and
    * the top `s` kept, so the sample (and therefore the aggregate) is a
    * pure function of the edge set, like every sampler in this engine.
    * Features arrive as a (id, feature BIGINT) table (integer micro-units
    * upstream if the source is fractional — exact, order-free sums).
    * Returns (id, n_sampled, feat_sum).
    *
    * Plan: one per-src window over the edge list (parallel — rank only
    * within src), one equi-join against the feature table, one
    * map-side-combinable aggregate. The cap `s` bounds the join fan-in
    * per vertex — a celebrity's million edges contribute s rows, which
    * is the point: mini-batch cost is O(s·V) whatever the degree
    * distribution. */
  def neighborAgg(edges: DataFrame, features: DataFrame, s: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing.md5Long
    require(s >= 1, s"neighborAgg needs s >= 1, got $s")
    val e = edges.select(col("src"), col("dst")).distinct()
    val w = Window.partitionBy(col("src")).orderBy(col("__h"), col("dst"))
    val sampled = e.withColumn("__h", md5Long(concat(
        col("src").cast("string"), lit("#agg#"), col("dst").cast("string"))))
      .withColumn("__r", row_number().over(w)).filter(col("__r") <= s)
      .select(col("src"), col("dst"))
    sampled.join(features.select(col("id").as("dst"), col("feature")), Seq("dst"))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("feature")).as("feat_sum"))
  }

  /** Link-prediction features: for every non-adjacent vertex pair with at
    * least one common neighbor, the common-neighbor count and the
    * Resource-Allocation index Σ_w 1/deg(w) — computed as
    * Σ (10⁶ div deg(w)), integer division then integer sum, so the score
    * is EXACT and summation-order-free (Adamic-Adar's 1/ln deg would
    * drag in cross-engine libm ulps; RA ranks near-identically and
    * stays rational). Returns the top `k` candidates per vertex:
    * (u, v, common_neighbors, ra_micro, rank), rank by ra desc, then
    * cn desc, then v — the candidate-edge generator for link-prediction
    * training (pair with [[negativeSample]] for the negatives).
    *
    * Plan: the wedge join (u–w, w–v) is the inherent cost — O(Σ_w
    * deg(w)²) rows, triangle counting's bound; the degree table joins
    * broadcast-or-shuffle by size, adjacency is removed with one
    * left_anti on (u, v), and the per-u top-k window sees only scored
    * pairs. A celebrity hub w inflates deg(w)² — cap or sample hot
    * vertices upstream (Skew.capBuckets) when the degree distribution
    * has a heavy tail. */
  def linkPredict(edges: DataFrame, k: Int): DataFrame = released {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"linkPredict needs k >= 1, got $k")
    val und = cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    val deg = und.groupBy(col("src").as("w")).agg(count(lit(1)).as("wdeg"))
    val wedges = und.select(col("src").as("u"), col("dst").as("w"))
      .join(und.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") =!= col("v"))
    val scored = wedges.join(deg, Seq("w"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000L div wdeg")).as("ra_micro"))
      .join(und.select(col("src").as("u"), col("dst").as("v")), Seq("u", "v"),
        "left_anti")
    val w = Window.partitionBy(col("u"))
      .orderBy(col("ra_micro").desc, col("common_neighbors").desc, col("v"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic random-walk corpus (DeepWalk/node2vec data prep, the
    * positive-pair half of the embedding-training pipeline — [[negativeSample]]
    * is the other): `walks` walks of up to `len` steps from every vertex
    * with an out-edge. Step t of walk w from start s continues from the
    * current vertex v along out-edge number md5(s·"#walk#"·w·"#"·t) mod
    * outdeg(v), edges ranked dst-ascending within each src — a fixed
    * total order, so every path is a pure function of the edge set and
    * replays in any engine with md5. Walks STOP at a sink (no out-edges):
    * shorter rows, never NULL padding. Output (start, walk, step, vertex),
    * step 0 = the start itself.
    *
    * Plan shape: the (src, idx, dst) edge ranking is per-src windows
    * (parallel — no global sort); each step is two equi-joins (degree
    * lookup to compute the md5 draw, then (src, idx) to move) over
    * O(walks·V) walker state; the per-step frames union at the end.
    * State never exceeds walks·V rows regardless of edge count —
    * frontier-sized, not edge-sized. */
  def randomWalks(edges: DataFrame, walks: Int, len: Int): DataFrame = released {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing.md5Long
    require(walks >= 1, s"randomWalks needs walks >= 1, got $walks")
    require(len >= 1, s"randomWalks needs len >= 1, got $len")
    val e = cut(edges.select(col("src"), col("dst")).distinct())
    // Loop-invariant: cut once or every step re-runs the per-src ranking
    // window and the degree aggregate from scratch.
    val ranked = cut(e.withColumn("idx",
      row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1))
    val deg = cut(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val state0 = e.select(col("src")).distinct()
      .select(col("src").as("start"),
        explode(sequence(lit(0), lit(walks - 1))).as("walk"))
      .withColumn("cur", col("start"))
    // state: (walkers at step t, every step's walkers)
    iterate[(DataFrame, List[DataFrame])](len)((state0, List(state0))) {
      case ((state, steps), t) =>
        val drawn = state.join(deg.withColumnRenamed("src", "cur"), Seq("cur"))
          .withColumn("__idx", pmod(md5Long(concat(
            col("start").cast("string"), lit("#walk#"),
            col("walk").cast("string"), lit("#"), lit(t.toString))), col("deg")))
        (drawn
          .join(ranked.select(col("src").as("cur"), col("idx").as("__idx"),
            col("dst").as("__next")), Seq("cur", "__idx"))
          .select(col("start"), col("walk"), col("__next").as("cur")),
          st => (st, st :: steps))
    }._2.reverse.zipWithIndex
      .map { case (st, t) => st.select(col("start"), col("walk"),
        lit(t).as("step"), col("cur").as("vertex")) }
      .reduce(_ unionByName _)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of the
    * endpoint degrees over every directed edge of the symmetrized simple
    * graph — positive means hubs attach to hubs (social-web shape),
    * negative means hubs attach to leaves (the hub-and-spoke shape of
    * entity/membership graphs, and the early warning that a hop join
    * will funnel through few celebrity vertices — the skew [[prep]]'s
    * salted variant exists for).
    *
    * Exactness: over the symmetric edge list the x- and y-marginals
    * coincide, so r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²) needs NO square
    * root — the sufficient statistics (M, Σx, Σxy, Σx²) are exact
    * integer sums and only the final ratio is one IEEE divide, floored
    * to micro-units. Output is ONE row carrying the exact statistics
    * next to the verdict, so any engine can re-derive it.
    *
    * Plan: symmetrize+distinct (one exchange), a degree aggregate, two
    * broadcast-or-shuffle joins of the edge list against the |V|-row
    * degree table, one global aggregate. Nothing is ever bigger than
    * the edge list itself. Degrees are bounded by |V|, so the int64
    * sums hold to ~10⁹ edges per stat; past that the same plan runs in
    * DECIMAL(38,0). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val pairs = und
      .join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "dx"), Seq("src"))
      .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "dy"), Seq("dst"))
    pairs.agg(
        count(lit(1)).as("m_edges"),
        sum(col("dx")).as("sum_x"),
        sum(col("dx") * col("dy")).as("sum_xy"),
        sum(col("dx") * col("dx")).as("sum_xx"))
      .select(col("m_edges"), col("sum_x"), col("sum_xy"), col("sum_xx"),
        // products as doubles: BIGINT m·Σxy can overflow, and DuckDB
        // errors where Spark wraps — doubles are engine-identical IEEE.
        when(col("m_edges").cast("double") * col("sum_xx")
            - col("sum_x").cast("double") * col("sum_x") > 0d,
          floor(lit(1000000d)
            * (col("m_edges").cast("double") * col("sum_xy")
              - col("sum_x").cast("double") * col("sum_x"))
            / (col("m_edges").cast("double") * col("sum_xx")
              - col("sum_x").cast("double") * col("sum_x"))).cast("long"))
          .as("r_micro"))
  }

  /** Local clustering coefficient: per vertex, the fraction of its
    * neighbor pairs that are themselves connected — c(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)) in floor-micro units over the symmetrized
    * simple graph. The per-vertex refinement of the global triangle
    * census ([[GraphXBridge.triangleCount]]): a corpus-similarity graph
    * with high local clustering de-duplicates into tight cliques, one
    * with low clustering chain-merges through bridges (the failure
    * [[kTruss]] peels).
    *
    * Plan: canonical a<b edge set once; triangles by the standard
    * node-iterator wedge join (e₁⋈e₂ on the lower endpoint with b₁<b₂,
    * closed against e₃ — join output bounded by wedge count, the same
    * bound as [[kTruss]]'s support pass); each triangle credits its 3
    * corners via one explode + hash aggregate; degrees join back.
    * Vertices of degree < 2 have no defined coefficient and are
    * excluded (c undefined, not 0). Only (a, b) id pairs ever move. */
  def localClustering(edges: DataFrame): DataFrame = released {
    val e = cut(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val tri = e.select(col("a"), col("b").as("b1"))
      .join(e.select(col("a"), col("b").as("b2")), Seq("a"))
      .filter(col("b1") < col("b2"))
      .join(e.select(col("a").as("b1"), col("b").as("b2")), Seq("b1", "b2"))
    val triPerV = tri
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triPerV, Seq("v"), "left")
      .select(col("v").as("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_micro",
        expr("2000000L * n_tri div (deg * (deg - 1L))"))
    // `e` stays cached for the duration of the job; callers running many
    // metrics over one graph should prefer a pre-cut edge store.
  }

  /** Borůvka minimum spanning forest — the textbook PARALLEL MST (the
    * sequential classics don't distribute: Prim grows one frontier a
    * vertex at a time, Kruskal is a global sort feeding a sequential
    * union-find). Borůvka gives every component one merge per round, so
    * components at least halve per round: ≤ ⌈log₂ V⌉ rounds of joins, the
    * MapReduce-era MST recipe.
    *
    * Determinism: edges are ordered by the TOTAL order (w, u, v) with
    * (u, v) canonical min/max endpoints — the standard lexicographic
    * tie-break that makes the MSF unique even with duplicate weights, so
    * any engine walking the same order (the oracle replays Prim under it)
    * lands on the identical edge set. Per round: each component's minimum
    * outgoing edge via ONE `min(struct(w,u,v))` aggregate (Spark orders
    * structs lexicographically), then the selected component-graph merges
    * through [[minLabel]]'s pointer jumping. State is the shrinking set
    * of cross-component edges labeled with their endpoints' components,
    * plus the forest edges chosen so far; per-round shuffles: the
    * half-edge aggregate, the (tiny — ≤ #components rows) contraction,
    * and the two relabel joins.
    *
    * Size-guarded driver finish (the [[minLabel]] escape-hatch
    * precedent): once the surviving cross-component edge set fits under
    * the heap-derived cutoff, the remainder runs as ONE driver Kruskal
    * over component ids — correct because the contracted graph's MSF is
    * exactly the not-yet-chosen forest edges (matroid exchange), and
    * Kruskal under the same (w, u, v) order picks the identical unique
    * set. Borůvka's log-V rounds each cost several jobs of scheduler
    * latency; on gate-sized graphs the escape collapses ~11 rounds to 2.
    * At 100 TB the cutoff is never reached until the graph has contracted
    * to driver scale — which is precisely when the switch is safe.
    *
    * Output: the forest as canonical (u, v, w) rows. Self-loops and
    * duplicate (u, v) pairs are dropped (min w kept) before any round.
    * Throws past `maxRounds` — a truncated forest is silently wrong. */
  def boruvkaMst(edges: DataFrame, maxRounds: Int = 48,
                 smallCutoff: Long = defaultSmallCutoff): DataFrame = released {
    val spark = edges.sparkSession
    val canon = edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"),
        col("w").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
    val integralIds = Seq("u", "v").forall(c => canon.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    // state: the cross-component edges (u, v, w, cu, cv) with each
    // endpoint's component, and the forest edges chosen so far
    final class Cross(val ce: DataFrame, val forest: List[DataFrame]) {
      lazy val n: Long = ce.count()
    }
    val converged = (c: Cross) => c.n == 0 || (c.n <= smallCutoff && integralIds)
    val ce0 = new Cross(cut(canon.select(col("u"), col("v"), col("w"),
      col("u").as("cu"), col("v").as("cv")), eager = false), Nil)
    val last = if (converged(ce0)) ce0 else iterate[Cross](maxRounds, converged,
        atLimit = _ => throw new IllegalArgumentException(
          s"boruvkaMst did not converge in $maxRounds rounds — raise maxRounds"))(ce0) {
      (c, _) =>
        // Each endpoint component nominates its min (w, u, v) cross edge
        // ((u, v) fixes cu, cv, so they only ride along); an edge picked
        // from both sides dedups in the distinct.
        val e = struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
        val sel = c.ce.select(col("cu").as("c"), e.as("e"))
          .unionByName(c.ce.select(col("cv").as("c"), e.as("e")))
          .groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"),
            col("e.cu").as("cu"), col("e.cv").as("cv"))
          .distinct()
        // Contract: merge the components the selected edges connect
        // (minLabel's own size guard applies — the contraction graph is
        // ≤ #components rows, so it usually rides the driver shortcut),
        // then relabel both endpoints of every cross edge; edges whose
        // endpoints now share a component leave the state.
        val lab = minLabel(sel.select(col("cu").as("src"), col("cv").as("dst")))
        (c.ce
          .join(lab.select(col("id").as("cu"), col("label").as("lu")), Seq("cu"), "left")
          .join(lab.select(col("id").as("cv"), col("label").as("lv")), Seq("cv"), "left")
          .select(col("u"), col("v"), col("w"),
            coalesce(col("lu"), col("cu")).as("cu"), coalesce(col("lv"), col("cv")).as("cv"))
          .filter(col("cu") =!= col("cv")),
          next => new Cross(next, sel.select(col("u"), col("v"), col("w")) :: c.forest))
    }
    val finish = if (last.n == 0) Nil else {
      // Driver Kruskal over component ids — one task instead of
      // log(remaining) more rounds of join+contract job latency.
      import spark.implicits._
      val rows = last.ce.select(col("w").cast("long"), col("u").cast("long"),
          col("v").cast("long"), col("cu").cast("long"), col("cv").cast("long"))
        .as[(Long, Long, Long, Long, Long)].collect()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val sel = rows.sortBy(t => (t._1, t._2, t._3)).iterator.flatMap { case (w, u, v, cu, cv) =>
        val (ru, rv) = (find(cu), find(cv))
        if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
      }.toSeq
      List(sel.toDF("u", "v", "w")
        .select(col("u").cast(canon.schema("u").dataType).as("u"),
          col("v").cast(canon.schema("v").dataType).as("v"), col("w")))
    }
    (finish ++ last.forest).reduceOption(_ unionByName _)
      .getOrElse(canon.limit(0))
  }
}
