package graft.gremlin

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{PropertyGraph, Resident, Traversal}

/** Text-level compatibility with the reference's console workflow: run the
  * read-only Gremlin traversals its README actually types
  * (`g.V().count()`, `g.E().count()`,
  * `g.V().hasLabel('user').has('email','user1@…').out().valueMap()` —
  * README.md:331-349) verbatim against a [[PropertyGraph]].
  *
  * This is a small traversal-step interpreter, not a Gremlin engine: each
  * step lowers to the corresponding PropertyGraph DataFrame call, so the
  * produced plan is identical to the fluent API's (Catalyst sees filters
  * and joins, never the query string). A broadcast-sized graph is queried
  * through its resident copy ([[PropertyGraph.resident]]): while a
  * step's input stays folded to a `LocalRelation`, the hops, `count()`,
  * `hasNext()`, `groupCount()` and the `repeat().until()/emit()` walks
  * (over a CSR adjacency the graph's index caches) run on the driver
  * ([[graft.graph.Resident]]) with the lowering's rows and schema,
  * and a console query runs no Spark job; every other step keeps its
  * lowering. Traverser semantics follow Gremlin:
  * `out()` multiplies per path (no implicit dedup) — use `dedup()`.
  * One declared divergence: with live `as()`/`path()` tags, `dedup()`
  * dedups on the full path signature (current id + labeled ids), not on
  * the current element alone as TinkerPop does — TinkerPop keeps ONE
  * arbitrary path per element, which is nondeterministic; the set
  * semantics here are deterministic but can emit more rows (one per
  * distinct tagged path). Untagged traversals match TinkerPop exactly.
  *
  * Supported steps: `V([id|var])`, `E()`, `hasLabel(l[,l…])`, `has(k,v)`,
  * `hasId(x)`, `out([l])`, `in([l])`, `both([l])`, `outE([l])`,
  * `inE([l])`, `bothE([l])`, `outV()`, `inV()`, `where(inV()|outV().hasId(x))` (the main.go:320 edge-existence
  * guard), `where(has(k,v))`/`where(hasLabel(l))` (filters on the current
  * traverser), `hasNext()` (boolean terminal), `iterate()` (terminal no-op),
  * `valueMap()`, `values(k)`, `id()`, `count()`, `dedup()`, `limit(n)`,
  * `order()[.by(k)]`, `groupCount().by(label|k)` (the console census),
  * `as('x')` + `select('x')` (step back) / `select('a','b')[.by(k)…]`
  * (per-path projection — ids, or property values under by() modulators),
  * `path()` (visited-vertex ids per surviving path as `p0_id..pk_id`;
  * vertex-hop traversals only, and only queries containing path() pay
  * the per-hop history tagging),
  * `repeat(out([l])|in([l])).times(n)` — the canonical spelling of
  * the reference's k-hop walk (README.md:20-33 repeated `.out()`;
  * `times(n ≥ 8)` followed immediately by `dedup()` with no live tags
  * lowers to [[graft.graph.Traversal.hopPower]]'s ≤ 2·log₂ n relation
  * squarings instead of n sequential hop joins),
  * `repeat(out([l])|in([l])).until(hasLabel(l)|has(k,v))` and/or
  * `.emit()` — the predicate-terminated walk (the reference flagship's
  * canonical Gremlin spelling, README.md:20-33), lowered to the
  * cycle-safe set closure [[graft.graph.Traversal.reachFix]]: traversers
  * stop at the first predicate vertex, emit() keeps intermediates; set
  * semantics (the declared divergence) terminate on the membership
  * cycles that loop the reference's getGroupMembers forever — and
  * `subgraph('sg')...cap('sg')[.next()]`, so the reference's Cytoscape
  * export session (`sg = g.V().outE().subgraph('sg').cap('sg').next()`,
  * README.md:369-380) runs verbatim: a leading `name =` assignment is
  * skipped, `cap` yields the console's census (one row of
  * vertex/edge counts), and [[subgraphOf]] returns the captured
  * [[PropertyGraph]] for [[graft.graph.GraphExport]].
  * A label-less hop traverses ALL edge labels, as Gremlin does.
  * Mutation steps are deliberately split from [[run]] (read-only): typed
  * mutation scripts — the reference's guarded addV/addE console statements
  * plus `...drop()` — go through [[mutate]], which lowers them to the
  * set-semantics upsert/drop API (SURVEY.md §2.A6/A9/A15) via
  * [[graft.sources.GroovyLoader]] rather than replaying per statement.
  */
object GremlinLite {

  /** Below this `times(n)`, the sequential hop fold stays cheaper than
    * hopPower's per-compose checkpoint materializations (2·log₂ n joins +
    * log₂ n cache writes vs n straight hop joins). */
  private val RepeatDoublingMin = 8

  /** Apply a typed mutation script — the reference's console statement
    * shapes (`g.addV('l').property(...)`, lookup-bind + `addE`,
    * main.go:205-211/310-322, README.md:331-340) plus
    * `g.V().hasLabel('l')[.has(k,v)].drop()` — to `g`.
    *
    * addV/addE runs accumulate and flush through the set-semantics
    * upserts (guarded-`if` wrappers become no-ops — the upsert IS the
    * guard, set-at-a-time); a drop() flushes pending upserts first so
    * statement order is preserved. Returns the mutated graph; `g` itself
    * is immutable. */
  def mutate(g: PropertyGraph, script: String,
             keyProps: Map[String, String] =
               graft.sources.GroovyLoader.ReferenceKeyProps): PropertyGraph = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    // hasLabel is optional: a bare `g.V().drop()` / `g.E().drop()` is the
    // reference's full wipe (README.md:321-328); `.iterate()` is the
    // gremlin-python submit suffix (README.md:327-328) — a terminal no-op.
    val Drop =
      """g\.V\(\)(?:\.hasLabel\('([^']+)'\))?(?:\.has\(\s*'([^']+)'\s*,\s*'([^']*)'\s*\))?\.drop\(\)(?:\.iterate\(\))?""".r
    val EDrop =
      """g\.E\(\)(?:\.hasLabel\('([^']+)'\))?\.drop\(\)(?:\.iterate\(\))?""".r
    var cur = g
    val buf = new StringBuilder
    def flush(): Unit = if (buf.nonEmpty) {
      val (pv, pe) = graft.sources.GroovyLoader.parsedBatches(
        Seq(buf.toString).toDS(), keyProps)
      cur = cur.upsertVertices(
        Cuts.cut(graft.sources.GroovyLoader.vertexBatch(pv)))
      // Resolve addE endpoints by LOOKUP against the (just-upserted)
      // graph — Gremlin's `u1 = g.V()...next()` semantics — so mutate
      // works on graphs whose ids don't follow the loader's scheme. The
      // bound property may be the promoted key (stored in `key`, not in
      // `props`) — consult the per-label registry for that.
      val kp = typedLit(keyProps)
      // the cut freezes the per-statement ids so the validation
      // aggregates and the upsert all see the same numbering.
      val e = Cuts.cut(pe.toDF().withColumn("__stmt", monotonically_increasing_id()))
      def vside(s: String) = cur.vertices.select(
        col("id").as(s"__${s}id"), col("label").as(s"__${s}l"),
        col("key").as(s"__${s}k"), col("props").as(s"__${s}p"))
      def cond(s: String, labelC: String, propC: String, keyC: String) =
        col(s"__${s}l") === col(labelC) &&
          when(col(propC) === coalesce(kp(col(labelC)), lit("key")) ||
            col(propC) === "key",
            col(s"__${s}k") === col(keyC))
            .otherwise(element_at(col(s"__${s}p"), col(propC)) === col(keyC))
      val full = e
        .join(vside("s"), cond("s", "srcLabel", "srcProp", "srcKey"))
        .join(vside("d"), cond("d", "dstLabel", "dstProp", "dstKey"))
        .select(col("__stmt"), col("__sid").as("src"), col("__did").as("dst"),
          col("label"), col("weight"))
      // Per-STATEMENT validation: every addE must resolve to exactly one
      // (src, dst) pair — an unmatched bind (Gremlin .next() on an empty
      // traversal throws) must not cancel out against an ambiguous bind
      // that matched several vertices. ONE driver action: parsed statements
      // left-joined to their resolution counts, folded to a single row.
      val stats = e.select(col("__stmt"))
        .join(full.groupBy(col("__stmt")).agg(count(lit(1)).as("__c")),
          Seq("__stmt"), "left")
        .agg(count(lit(1)).as("parsed"), count(col("__c")).as("resolved"),
          count_if(col("__c") > 1).as("ambiguous"))
        .first()
      val (parsedCount, resolvedStmts, ambiguous) =
        (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      if (parsedCount > 0) {
        require(resolvedStmts == parsedCount && ambiguous == 0,
          s"addE endpoint lookup failed: $parsedCount statement(s) parsed, " +
            s"$resolvedStmts resolved, $ambiguous ambiguous (a bind must match " +
            s"exactly one vertex; Gremlin .next() on an empty traversal throws — so do we)")
        cur = cur.upsertEdges(full.drop("__stmt"))
      }
      buf.setLength(0)
    }
    script.linesIterator.foreach { line =>
      (Drop.findFirstMatchIn(line), EDrop.findFirstMatchIn(line)) match {
        case (Some(m), _) =>
          flush()
          // The bound property may be the label's promoted key, which
          // lives in the `key` column, not the props map — same registry
          // rule as addE endpoint resolution above.
          val labelPred = Option(m.group(1)).map(l => col("label") === l)
          val propPred = Option(m.group(2)).map { k =>
            val v = lit(m.group(3))
            Option(m.group(1)) match {
              case Some(l) =>
                val isKey = k == "key" || keyProps.get(l).contains(k)
                (if (isKey) col("key") else cur.propCol(k)) === v
              case None =>
                // Label-less has-drop: props[k] is NULL for labels where
                // k is the promoted key (it lives in the `key` column),
                // so a flat props[k]===v would silently keep exactly the
                // vertices it should drop — resolve per label.
                cur.propColFor(k, keyProps) === v
            }
          }
          // bare g.V().drop() (README.md:321): both absent — full wipe.
          val pred = (labelPred ++ propPred).reduceOption(_ && _).getOrElse(lit(true))
          cur = cur.dropVertices(pred)
        case (None, Some(m)) =>
          flush()
          cur = cur.dropEdges(
            if (m.group(1) == null) lit(true) else col("label") === m.group(1))
        case _ => buf.append(line).append('\n')
      }
    }
    flush()
    cur
  }

  /** Parse `query` and evaluate it against `g`. Throws
    * IllegalArgumentException on syntax errors or unsupported steps.
    * `bindings` resolves console variables — the reference's guard line
    * `g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()`
    * (main.go:320) runs verbatim with `bindings = Map("u1" -> …,
    * "g1" -> …)`, exactly as the console session that bound `u1`/`g1`
    * with `u1 = g.V()...next()` lines would. */
  def run(g: PropertyGraph, query: String,
          bindings: Map[String, Long] = Map.empty,
          keyProps: Map[String, String] =
            graft.sources.GroovyLoader.ReferenceKeyProps): DataFrame =
    eval(g, query, bindings, keyProps)._1

  /** The side-effect graph a `subgraph(name)` step captured while
    * evaluating `query` — the `sg.io(...).writeGraph(...)` half of the
    * reference's export session, minus the file format (pair with
    * [[graft.graph.GraphExport]]). */
  def subgraphOf(g: PropertyGraph, query: String, name: String = "sg"): PropertyGraph = {
    val captured = eval(g, query, Map.empty,
      graft.sources.GroovyLoader.ReferenceKeyProps)._2
    captured.getOrElse(name, throw new IllegalArgumentException(
      s"no subgraph('$name') step in: $query (captured: ${captured.keys.mkString(",")})"))
  }

  /** A vertex-id argument: a numeric literal, a bound console variable
    * (`u1`), or a bound variable's id projection (`g1.id()`). */
  private def resolveId(arg: String, bindings: Map[String, Long], query: String): Long = {
    val IdOf = """([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*id\(\)""".r
    val name = arg.trim match {
      case IdOf(n) => n
      case v if v.matches("-?\\d+") => return v.toLong
      case n => n
    }
    bindings.getOrElse(name, throw new IllegalArgumentException(
      s"unbound console variable '$name' in: $query " +
        s"(bound: ${bindings.keys.mkString(",")})"))
  }

  private def eval(graph: PropertyGraph, query: String, bindings: Map[String, Long],
                   keyProps: Map[String, String]): (DataFrame, Map[String, PropertyGraph]) = {
    // A broadcast-sized graph is queried through its resident copy: its
    // filters and projections fold on the driver, and so do the steps
    // with a driver form (hops, count, hasNext, groupCount, the
    // repeat() gather) while their inputs stay folded.
    val g = graph.resident
    // Vertex property reads resolve promoted keys per label (the key
    // column, not props — see PropertyGraph.propColFor) so loader-built
    // graphs, whose props omit the promoted key, match like fluent ones.
    def vProp(k: String) = g.propColFor(k, keyProps)
    val steps = parse(query)
    require(steps.nonEmpty, s"empty traversal: $query")

    // path() support is decided BEFORE evaluation (the step list is fully
    // parsed): only a query that contains path() pays the per-hop history
    // tagging — every other traversal runs the untagged plans.
    val wantsPath = steps.exists(_._1 == "path")
    var pathIdx = 0
    def ptag(d: DataFrame): DataFrame =
      if (!wantsPath) d
      else {
        // Path history needs ids only — one carried column per position,
        // not the full 4-column as() snapshot.
        val t = d.withColumn(s"__as__p${pathIdx}_id", col("id"))
        pathIdx += 1
        t
      }

    val (source, sourceArgs) = steps.head
    var onEdges = false
    var cur: DataFrame = source match {
      case "V" if sourceArgs.isEmpty => ptag(g.V)
      case "V" =>
        ptag(g.V.filter(col("id").isin(sourceArgs.map(resolveId(_, bindings, query)): _*)))
      case "E" =>
        require(!wantsPath, s"path() is supported on vertex-hop traversals only: $query")
        onEdges = true; g.E
      case other => throw new IllegalArgumentException(
        s"traversal must start with V() or E(), got $other()")
    }

    // One promoted-property rule and one vertex-schema projection, shared
    // with the fluent API — the text surface cannot drift from it.
    // A label-less hop traverses ALL edge labels (Gremlin semantics).
    def edgeLabel(args: Seq[String]): Option[String] = args.headOption
    def tagCols(d: DataFrame): Seq[String] = d.columns.filter(_.startsWith("__as_")).toSeq
    def hop(body: String, args: Seq[String])(d: DataFrame): DataFrame = {
      val tags = tagCols(d)
      if (tags.isEmpty)
        g.valueMap(if (body == "out") g.out(d, edgeLabel(args)) else g.in(d, edgeLabel(args)))
      else {
        // Path-preserving hop for live as() labels: step a DEDUP'd
        // frontier once, then join each labeled traverser row back over
        // its id — per-path fan-out, exactly Gremlin traverser semantics
        // (a traverser at v with its own history multiplies over v's
        // edges). One extra join per hop, paid only while labels are live.
        val frontier = d.select(col("id")).distinct()
        val stepped =
          if (body == "out") g.out(frontier, edgeLabel(args))
          else g.in(frontier, edgeLabel(args))
        val link = if (body == "out") "from_id" else "to_id"
        d.select(col("id").as("__hop_prev") +: tags.map(col): _*)
          .join(stepped, col("__hop_prev") === col(link))
          .select(Seq("id", "label", "key", "props").map(col) ++ tags.map(col): _*)
      }
    }
    // Label-aware property column over an as('x') snapshot — the same
    // promoted-key resolution as PropertyGraph.propColFor, on the
    // snapshot's prefixed columns.
    def snapProp(tag: String, prop: String): Column = {
      val keyC = col(s"__as_${tag}_key"); val flat =
        if (prop == "key") keyC else col(s"__as_${tag}_props").getItem(prop)
      val promoted = keyProps.collect { case (l, p) if p == prop => l }.toSeq
      if (prop == "key" || promoted.isEmpty) flat
      else when(col(s"__as_${tag}_label").isin(promoted: _*), keyC).otherwise(flat)
    }
    var captured = Map.empty[String, PropertyGraph]

    val rest = steps.tail.iterator.buffered
    while (rest.hasNext) {
      val (step, args) = rest.next()
      // Loud arity checks: Gremlin's 3-arg has(label,key,value) or a
      // multi-label hasLabel would otherwise silently match nothing.
      def arity(n: Int, m: Int = -1): Unit = {
        val hi = if (m < 0) n else m
        require(args.length >= n && args.length <= hi,
          s"$step() takes ${if (hi == n) s"$n" else s"$n..$hi"} argument(s), " +
            s"got ${args.length} in: $query")
      }
      (step, onEdges) match {
        case ("repeat", _) =>
          arity(1)
          // repeat(out('l')).times(n): args hold the raw body text.
          val (body, bodyArgs) = parse("g" + "." + args.mkString(",")) match {
            case Seq(one) => one
            case other => throw new IllegalArgumentException(
              s"repeat() supports a single out()/in() body, got: ${other.map(_._1)}")
          }
          require(body == "out" || body == "in",
            s"repeat() supports out()/in() bodies, got $body()")
          // Post-repeat modulators: .times(n), or any mix of .until(pred)
          // and .emit() (predicate-terminated walks — the canonical
          // Gremlin spelling of the reference's flagship
          // user→…→project chain, README.md:20-33).
          var untilPred: Option[Column] = None
          var emitAll = false
          var nTimesOpt: Option[Int] = None
          var more = true
          while (more && rest.hasNext) {
            rest.head match {
              case ("times", tArgs) =>
                require(untilPred.isEmpty && !emitAll,
                  s"times(n) does not combine with until()/emit() in: $query")
                require(tArgs.length == 1, s"times() takes 1 argument in: $query")
                nTimesOpt = Some(tArgs.head.toInt); rest.next(); more = false
              case ("until", uArgs) =>
                require(untilPred.isEmpty, s"duplicate until() in: $query")
                require(uArgs.length == 1, s"until() takes a predicate in: $query")
                untilPred = Some(parse("g." + uArgs.head) match {
                  case Seq(("hasLabel", Seq(l))) => col("label") === l
                  case Seq(("has", Seq(k, v)))   => vProp(k) === lit(v)
                  case other => throw new IllegalArgumentException(
                    s"until() supports hasLabel(l) / has(k,v), " +
                      s"got: ${other.map(_._1).mkString(".")} in: $query")
                })
                rest.next()
              case ("emit", eArgs) =>
                require(eArgs.isEmpty, s"emit() takes no arguments in: $query")
                emitAll = true; rest.next()
              case _ => more = false
            }
          }
          require(nTimesOpt.isDefined || untilPred.isDefined || emitAll,
            s"repeat(...) must be followed by .times(n), .until(pred), or .emit()")
          if (nTimesOpt.isEmpty) {
            // until/emit lower to the cycle-safe SET closure
            // (Traversal.reachFix): traversers stop at the first
            // predicate-satisfying vertex (until never expands past it),
            // emit() keeps the intermediates too. This is the engine's
            // declared set-semantics divergence — Gremlin's per-path bag
            // would loop forever on membership cycles, exactly the
            // reference's getGroupMembers bug (main.go:347); here cycles
            // terminate and the result is the deterministic vertex set.
            require(!wantsPath && tagCols(cur).isEmpty,
              s"repeat().until()/emit() runs the set-semantics closure; " +
                s"path()/as() tags are not supported in: $query")
            // the hop relation, built only for paths 2 and 3 below
            lazy val step = {
              val e0 = edgeLabel(bodyArgs) match {
                case Some(l) => g.edges.filter(col("label") === l)
                case None    => g.edges
              }
              if (body == "out") e0.select(col("src"), col("dst"))
              else e0.select(col("dst").as("src"), col("src").as("dst"))
            }
            // What runs, the first that applies:
            //  1. over a resident graph (PropertyGraph.resident) whose seed
            //     and stop frames have folded, one search over the CSR its
            //     index caches per (edge label, direction), and the answer
            //     rows from the index's vertex map (PropertyGraph.untilIndexed;
            //     perfbench's console, g5 at sf0.001 and sf0.01): no fold of
            //     the edge relation, no job;
            //  2. when the hop relation, the seed ids and the stop ids are
            //     each broadcast-sized, Traversal.untilSmall gathers all
            //     three in ONE job (none when they have folded) and runs
            //     the same search, and the result is one filter of the
            //     vertices by the reached ids (a store whose frames are
            //     over the bound but whose projections are under; no
            //     measured workload takes it, see ROADMAP item 12);
            //  3. otherwise (g5 at sf0.1 starts from every lineitem) the
            //     join lowering below: an eager cut of s1, then bfsDepth —
            //     itself on its small-relation path (one collect, one
            //     search task) when ePrime alone is broadcast-sized, else
            //     its join rounds — then a join back to the vertices.
            // A null endpoint among the hop's edges skips 1 and 2.
            val seeds = cur.select(col("id"))
            val stops = untilPred.map(p => g.vertices.filter(p).select(col("id")))
            lazy val startIds = seeds.distinct()
            lazy val endIds = stops match {
              case Some(stopIds) =>
                // Do-while semantics: the first hop always runs (a start
                // vertex satisfying the predicate still steps), then the
                // closure continues only from and through non-stop
                // vertices (until halts a traverser AT the predicate).
                // s1 is cut eagerly because it feeds the BFS seeds AND the
                // final union: uncut, the |V_start| ⋈ edges hop join ran
                // once per consumer (3× ≈ 2 s at sf0.1 on the g5 walk).
                val s1 = Cuts.cut(startIds.join(step, col("id") === col("src"))
                  .select(col("dst").as("id")).distinct())
                val contStart = s1.join(stopIds, Seq("id"), "left_anti")
                val ePrime = step.join(
                  stopIds.withColumnRenamed("id", "__stop"),
                  col("src") === col("__stop"), "left_anti")
                // Only the reachable SET matters here (no per-origin
                // projection survives the closure), so multi-source BFS —
                // O(V) state, one row per reached vertex — replaces the
                // O(origins × nodes) pair closure. bfsDepth returns
                // contStart (depth 0) ∪ reach≥1(contStart); unioned with
                // s1 ⊇ contStart that is exactly the traverser set.
                // In its join rounds (one job per two levels), prepEdges
                // is off over a cached store: ePrime is a broadcast
                // anti-join over the src-partitioned cached edges, whose
                // layout survives it, so prep would only re-shuffle it.
                val onward = Traversal.bfsDepth(ePrime, contStart,
                    prepEdges = !g.edgesCached).select(col("id"))
                val visited = s1.unionByName(onward).distinct()
                if (emitAll) visited
                else visited.join(stopIds, Seq("id"), "left_semi")
              case None => // bare emit(): everything reachable in ≥ 1 hop
                // explicit first hop, then BFS from it: s1 ∪ reach≥1(s1)
                // = reach≥1(start), cycles through the start included.
                // No cut: bfsDepth reads s1 once, as its seeds, on either
                // path
                val s1 = startIds.join(step, col("id") === col("src"))
                  .select(col("dst").as("id")).distinct()
                Traversal.bfsDepth(step, s1,
                  prepEdges = !g.edgesCached).select(col("id"))
            }
            cur = g.untilIndexed(seeds, edgeLabel(bodyArgs), body == "out", stops, emitAll)
              .orElse(Traversal.untilSmall(step, seeds, stops, emitAll).map(ids =>
                g.vertices.filter(col("id").isInCollection(ids))
                  .select(col("id"), col("label"), col("key"), col("props"))))
              .getOrElse(endIds.select(col("id").as("__end"))
                .join(g.vertices.as("v"), col("__end") === col("v.id"))
                .select(col("v.id").as("id"), col("v.label").as("label"),
                  col("v.key").as("key"), col("v.props").as("props")))
          } else {
          val nTimes = nTimesOpt.get
          // Log-round lowering: `repeat(out(l)).times(n).dedup()` with no
          // live path()/as() tags asks for the exactly-n-hop vertex SET —
          // Gremlin's per-walk bag multiplicity collapses under the dedup,
          // so the whole phrase is Traversal.hopPower's relation power:
          // ≤ 2·log₂(n) composes instead of n sequential hop joins (the
          // closureDoubling scheduler math, now reachable from text).
          // Bag semantics (no immediate dedup) or live tags keep the
          // walk-multiplicity-preserving sequential path below.
          if (nTimes >= RepeatDoublingMin && !wantsPath && tagCols(cur).isEmpty &&
              rest.hasNext && rest.head._1 == "dedup" && rest.head._2.isEmpty) {
            rest.next() // the dedup() IS this lowering's set semantics
            val e0 = edgeLabel(bodyArgs) match {
              case Some(l) => g.edges.filter(col("label") === l)
              case None    => g.edges
            }
            val step = if (body == "out") e0.select(col("src"), col("dst"))
                       else e0.select(col("dst").as("src"), col("src").as("dst"))
            val pn = Traversal.hopPower(step, nTimes).as("p")
            val ends = cur.select(col("id").as("__start")).distinct()
              .join(pn, col("__start") === col("p.src"))
              .select(col("p.dst").as("__end")).distinct()
            cur = ends.join(g.vertices.as("v"), col("__end") === col("v.id"))
              .select(col("v.id").as("id"), col("v.label").as("label"),
                col("v.key").as("key"), col("v.props").as("props"))
          } else
            cur = (1 to nTimes).foldLeft(cur)((d, _) => ptag(hop(body, bodyArgs)(d)))
          }
        case ("hasLabel", _) =>
          // Gremlin hasLabel is variadic: hasLabel('a','b') = label ∈ {a,b}.
          require(args.nonEmpty, s"hasLabel() needs at least 1 label in: $query")
          cur =
            if (args.length == 1) cur.filter(col("label") === args.head)
            else cur.filter(col("label").isin(args: _*))
        case ("has", false) => arity(2); cur = cur.filter(vProp(args(0)) === lit(args(1)))
        case ("has", true) => arity(2); cur = cur.filter(col(args(0)) === lit(args(1)))
        case ("out", false) => arity(0, 1); cur = ptag(hop("out", args)(cur))
        case ("in", false) => arity(0, 1); cur = ptag(hop("in", args)(cur))
        case ("both", false) =>
          // Undirected hop: traversers multiply per incident edge in each
          // direction (Gremlin both() emits one traverser per edge — a
          // vertex reached via out AND in appears twice; dedup() collapses).
          arity(0, 1)
          cur = ptag(Resident.union(hop("out", args)(cur), hop("in", args)(cur)))
        case ("outE", false) =>
          arity(0, 1)
          require(!wantsPath, s"path() is supported on vertex-hop traversals only: $query")
          cur = g.outE(cur, edgeLabel(args)); onEdges = true
        case ("inE", false) =>
          arity(0, 1)
          require(!wantsPath, s"path() is supported on vertex-hop traversals only: $query")
          cur = g.inE(cur, edgeLabel(args)); onEdges = true
        case ("bothE", false) =>
          arity(0, 1)
          require(!wantsPath, s"path() is supported on vertex-hop traversals only: $query")
          cur = Resident.union(g.outE(cur, edgeLabel(args)), g.inE(cur, edgeLabel(args)))
          onEdges = true
        case ("inV", true) => arity(0); cur = g.inV(cur); onEdges = false
        case ("outV", true) => arity(0); cur = g.outV(cur); onEdges = false
        case ("valueMap", false) => arity(0); cur = g.valueMap(cur)
        case ("values", false) =>
          arity(1); cur = cur.select(vProp(args.head).as(args.head))
        case ("id", false) => arity(0); cur = g.ids(cur)
        case ("count", _) =>
          arity(0); cur = Resident.count(cur).getOrElse(cur.agg(count(lit(1)).as("count")))
        case ("dedup", _) =>
          // Gremlin dedups traversers by element identity, and Spark cannot
          // set-op MAP columns anyway — dedup on the identity columns.
          // With live as() labels the identity is the PATH signature
          // (current id + labeled ids): set semantics, deterministic —
          // a bare dropDuplicates("id") would keep an arbitrary tag row.
          cur =
            if (cur.columns.contains("id"))
              cur.dropDuplicates("id" +: tagCols(cur).filter(_.endsWith("_id")))
            else if (onEdges) cur.dropDuplicates("src", "dst", "label")
            else cur.distinct()
        case ("limit", _) => arity(1); cur = cur.limit(args.head.toInt)
        case ("subgraph", true) =>
          // Side-effect step: capture the edge-induced subgraph of the
          // current edges; the traversal itself continues on those edges
          // (Gremlin passes traversers through subgraph()).
          arity(1)
          val e = cur
          val touched = e.select(col("src").as("id"))
            .union(e.select(col("dst").as("id"))).distinct()
          captured += args.head ->
            PropertyGraph(g.vertices.join(touched, Seq("id"), "left_semi"), e)
        case ("cap", _) =>
          // cap('sg') emits the side-effect value; the console prints a
          // census (`tinkergraph[vertices:183 edges:290]`, README.md:373)
          // and that census is the DataFrame shape we return.
          arity(1)
          val sg = captured.getOrElse(args.head, throw new IllegalArgumentException(
            s"cap('${args.head}') before subgraph('${args.head}') in: $query"))
          cur = sg.V.agg(count(lit(1)).as("vertices"))
            .crossJoin(sg.E.agg(count(lit(1)).as("edges")))
          onEdges = false
        case ("where", _) =>
          // The reference's edge-existence guard (main.go:320):
          // `.outE('in').where(inV().hasId( g1.id() ))` — keep edges whose
          // far endpoint has the given id. A pure filter on the edge set's
          // own src/dst columns: no join, no shuffle. Plus the near-miss
          // console forms on the CURRENT traverser: where(has(k,v)) /
          // where(hasLabel(l)), which lower to the same filters as the
          // bare steps.
          arity(1)
          parse("g." + args.mkString(",")) match {
            case Seq(("inV", Seq()), ("hasId", Seq(idArg))) if onEdges =>
              cur = cur.filter(col("dst") === resolveId(idArg, bindings, query))
            case Seq(("outV", Seq()), ("hasId", Seq(idArg))) if onEdges =>
              cur = cur.filter(col("src") === resolveId(idArg, bindings, query))
            case Seq(("has", Seq(k, v))) =>
              cur = cur.filter(
                (if (onEdges) col(k) else vProp(k)) === lit(v))
            case Seq(("hasLabel", Seq(l))) =>
              cur = cur.filter(col("label") === l)
            case other => throw new IllegalArgumentException(
              s"where() supports inV()/outV().hasId(x) on edges and " +
                s"has(k,v) / hasLabel(l) on the current traverser, " +
                s"got: ${other.map(_._1).mkString(".")} in: $query")
          }
        case ("order", _) =>
          // order() sorts traversers; an optional .by('k') sorts by that
          // property (vertices) / column (edges). Console-ordering only —
          // a global sort is one exchange, fine for the console's result
          // sizes; at corpus scale prefer top-k (limit after order lowers
          // to TakeOrdered, no full sort materialization).
          arity(0)
          val byKey = if (rest.hasNext && rest.head._1 == "by") {
            val (_, byArgs) = rest.next()
            require(byArgs.length == 1, s"by() takes 1 argument in: $query")
            Some(byArgs.head)
          } else None
          cur = byKey match {
            case Some(k) if !onEdges => cur.orderBy(vProp(k).asc, col("id").asc)
            case Some(k) => cur.orderBy(col(k).asc,
              col("src").asc, col("dst").asc, col("label").asc)
            case None =>
              // A MAP column (props) is not orderable in Spark — sort on
              // everything else (id/label/key carry the identity anyway).
              val cols = cur.schema.fields
                .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
                .map(f => col(f.name).asc)
              cur.orderBy(cols.toIndexedSeq: _*)
          }
        case ("groupCount", _) =>
          // groupCount().by(label|'k'): the console census line
          // (`g.V().groupCount().by(label)`) — counted on the driver over a
          // folded input, else one partial+final agg.
          arity(0)
          require(rest.hasNext && rest.head._1 == "by",
            s"groupCount() must be followed by .by(label|'key') in: $query")
          val (_, byArgs) = rest.next()
          require(byArgs.length == 1, s"by() takes 1 argument in: $query")
          val keyCol = byArgs.head match {
            case "label" => col("label")
            case k if !onEdges => vProp(k)
            case k => col(k)
          }
          cur = Resident.groupCount(cur.select(keyCol.as(byArgs.head))).getOrElse(
            cur.groupBy(keyCol.as(byArgs.head)).agg(count(lit(1)).as("count")))
        case ("as", false) =>
          // as('x') labels the current traverser position: snapshot the
          // vertex identity columns under a prefixed name and carry them
          // through subsequent vertex steps (hops become path-preserving —
          // see hop()). Re-using a label overwrites it, as Gremlin does.
          arity(1)
          val x = args.head
          require(x.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"as() label must be an identifier, got '$x' in: $query")
          cur = cur
            .withColumn(s"__as_${x}_id", col("id"))
            .withColumn(s"__as_${x}_label", col("label"))
            .withColumn(s"__as_${x}_key", col("key"))
            .withColumn(s"__as_${x}_props", col("props"))
        case ("select", false) =>
          // select('u'): step the traverser back to the labeled position
          // (later steps continue from it; other labels stay live).
          // select('u','g')[.by(k)...]: project one row per surviving
          // PATH — ids as `<label>_id` columns, or property values named
          // by the labels when by() modulators follow (one by() applies
          // to every key; n by()s pair up with n keys, Gremlin's cycle
          // rule for the only unambiguous cases).
          require(args.nonEmpty, s"select() needs at least 1 label in: $query")
          args.foreach(x => require(cur.columns.contains(s"__as_${x}_id"),
            s"select('$x') needs a preceding as('$x') on an unbroken vertex " +
              s"path (outE/inE/subgraph drop labels) in: $query"))
          val bys = Seq.newBuilder[String]
          while (rest.hasNext && rest.head._1 == "by") {
            val (_, byArgs) = rest.next()
            require(byArgs.length == 1, s"by() takes 1 argument in: $query")
            bys += byArgs.head
          }
          val mods = bys.result()
          if (mods.isEmpty && args.length == 1) {
            val x = args.head
            val keep = tagCols(cur).map(col)
            cur = cur.select(Seq(
              col(s"__as_${x}_id").as("id"), col(s"__as_${x}_label").as("label"),
              col(s"__as_${x}_key").as("key"), col(s"__as_${x}_props").as("props")) ++ keep: _*)
          } else {
            val proj: Seq[Column] =
              if (mods.isEmpty) args.map(x => col(s"__as_${x}_id").as(s"${x}_id"))
              else if (mods.length == 1) args.map(x => snapProp(x, mods.head).as(x))
              else {
                require(mods.length == args.length,
                  s"select() with ${args.length} label(s) takes 1 or " +
                    s"${args.length} by() modulator(s), got ${mods.length} in: $query")
                args.zip(mods).map { case (x, k) => snapProp(x, k).as(x) }
              }
            cur = cur.select(proj: _*)
          }
        case ("path", false) =>
          // One row per surviving path, ids in visit order as p0_id..pk_id
          // (filters refine positions, they don't add them — Gremlin path
          // elements are the visited vertices). Vertex hops only; edge
          // steps reject path() up front.
          arity(0)
          require((0 until pathIdx).forall(i => cur.columns.contains(s"__as__p${i}_id")),
            s"path() history was dropped by an intermediate projection step in: $query")
          cur = cur.select((0 until pathIdx).map(i =>
            col(s"__as__p${i}_id").as(s"p${i}_id")): _*)
        case ("hasId", false) =>
          arity(1); cur = cur.filter(col("id") === resolveId(args.head, bindings, query))
        case ("hasNext", _) =>
          // Console boolean terminal (`...hasNext() == false`, main.go:311)
          // — one row, one boolean; the emptiness probe stays in-plan.
          arity(0)
          cur = Resident.hasNext(cur).getOrElse(cur.agg((count(lit(1)) > 0).as("hasNext")))
        case ("next", _) => arity(0) // console terminal — a no-op here
        case ("iterate", _) => arity(0) // gremlin-python submit suffix (README.md:327)
        case (other, oe) => throw new IllegalArgumentException(
          s"unsupported step $other() on ${if (oe) "edges" else "vertices"} in: $query")
      }
    }
    // Tag columns are internal traverser state: any still live at the end
    // (labeled but never selected, or path history under a terminal that
    // kept them) stay out of the caller-visible schema.
    (if (tagCols(cur).isEmpty) cur else cur.drop(tagCols(cur): _*), captured)
  }

  /** `g.V().hasLabel('x')...` → [(V, []), (hasLabel, [x]), ...]. Scans with
    * balanced parentheses so nested bodies (`repeat(out('in'))`) arrive as
    * a single raw argument. A leading `name = ` assignment (the console's
    * `sg = g.V()...`) is skipped. */
  private[gremlin] def parse(query: String): Seq[(String, Seq[String])] = {
    val s0 = query.trim
    val s = "^[A-Za-z_][A-Za-z0-9_]*\\s*=\\s*".r.findPrefixOf(s0) match {
      case Some(pfx) => s0.substring(pfx.length)
      case None => s0
    }
    require(s.startsWith("g"), s"traversal must start with 'g': $query")
    var i = 1
    val steps = Seq.newBuilder[(String, Seq[String])]
    while (i < s.length) {
      var sawDot = false
      while (i < s.length && (s(i) == '.' || s(i).isWhitespace)) {
        if (s(i) == '.') sawDot = true
        i += 1
      }
      if (i >= s.length && sawDot)
        throw new IllegalArgumentException(s"dangling '.' at end of: $query")
      if (i < s.length) {
        val nameStart = i
        while (i < s.length && s(i).isLetter) i += 1
        val name = s.substring(nameStart, i)
        if (name.isEmpty || i >= s.length || s(i) != '(')
          throw new IllegalArgumentException(s"cannot parse traversal at: '${s.substring(nameStart)}'")
        var depth = 1
        val argStart = i + 1
        i += 1
        while (i < s.length && depth > 0) {
          if (s(i) == '(') depth += 1
          else if (s(i) == ')') depth -= 1
          i += 1
        }
        if (depth != 0)
          throw new IllegalArgumentException(s"unbalanced parentheses in: $query")
        val raw = s.substring(argStart, i - 1).trim
        // A nested step body stays one raw argument; plain args split.
        val args = if (raw.contains("(")) Seq(raw) else parseArgs(raw)
        steps += ((name, args))
      }
    }
    steps.result()
  }

  /** Comma-separated args; quoted values lose their quotes. (The supported
    * subset has no commas inside string literals.) */
  private def parseArgs(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).map { a =>
      if ((a.startsWith("'") && a.endsWith("'") && a.length >= 2) ||
        (a.startsWith("\"") && a.endsWith("\"") && a.length >= 2)) a.substring(1, a.length - 1)
      else a
    }.toSeq
}
