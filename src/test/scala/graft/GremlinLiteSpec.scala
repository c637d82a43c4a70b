package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph
import graft.gremlin.GremlinLite

/** The reference's own console queries (README.md:331-349), run verbatim
  * as text against a PropertyGraph. */
class GremlinLiteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // user1 -in-> subgroup1 -in-> group_of_groups1; user2 standalone
  private def g = PropertyGraph(
    Seq(
      (1L, "user", "user1@d", Map("email" -> "user1@d", "isExternal" -> "false")),
      (2L, "user", "user2@d", Map("email" -> "user2@d", "isExternal" -> "false")),
      (3L, "group", "subgroup1@d", Map("email" -> "subgroup1@d")),
      (4L, "group", "gog1@d", Map("email" -> "gog1@d")))
      .toDF("id", "label", "key", "props"),
    Seq((1L, 3L, "in", 1), (3L, 4L, "in", 1)).toDF("src", "dst", "label", "weight"))

  /** A `repeat().until()/emit()` query's (rows, schema), or its error, on
    * the walk's three paths, which must agree; returns it.
    *  1. The default threshold: the graph is resident, and its index's
    *     cached adjacency answers (`Resident.searches`) with 0 jobs; when
    *     `indexed` is false (a null endpoint among the walk's edges), the
    *     call falls back and the search does not run. Neither Traversal
    *     small path runs.
    *  2. A threshold the graph's frames are over and the walk's (src, dst),
    *     seed and stop projections under: not resident, so when `gathered`
    *     `Traversal.untilSmall` gathers the local frames and searches (one
    *     small-path run, 0 jobs); otherwise (seeds from a hop, or a null
    *     endpoint) the join lowering runs at least one job.
    *  3. -1: the join lowering, with no driver-side path. */
  private def threePaths(graph: PropertyGraph, q: String, indexed: Boolean = true,
                         gathered: Boolean = true) = {
    import graft.graph.{Resident, Traversal}
    val sc = spark.sparkContext
    val counters = Seq(Resident.runs, Resident.searches, Traversal.smallPathRuns)
    // (outcome, jobs, growth of each counter) of one run
    def leg(threshold: String) = {
      val before = counters.map(_.get)
      val tag = s"three-paths-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(tag, tag)
      val out = try scala.util.Try(TestSpark.rowsAndSchema(GremlinLite.run(graph, q))).toEither
          .left.map(e => (e.getClass, e.getMessage))
        finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(tag).length
      (out, jobs, counters.zip(before).map { case (c, b) => c.get - b })
    }
    def threshold[A](t: String)(body: => A): A =
      GateSupport.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> t)(body)
    val size = (df: org.apache.spark.sql.DataFrame) => df.queryExecution.optimizedPlan.stats.sizeInBytes
    val between = size(graph.edges.select("src", "dst")) max size(graph.vertices.select("id"))
    assert(between < (size(graph.vertices) max size(graph.edges)), "no threshold between the frames")
    val (onIndex, indexJobs, indexRuns) = leg(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val (onGather, gatherJobs, gatherRuns) = threshold(between.toString)(leg(between.toString))
    val (lowered, _, lowerRuns) = threshold("-1")(leg("-1"))
    assert(indexRuns.head >= 1 && indexRuns(2) == 0, s"$q, resident: $indexRuns")
    if (indexed) assert(indexRuns(1) == 1 && indexJobs == 0, s"$q, resident: $indexRuns, $indexJobs jobs")
    else assert(indexRuns(1) == 0, s"$q searched the cached adjacency")
    if (gathered) assert(gatherRuns == Seq(0, 0, 1) && gatherJobs == 0,
      s"$q, gathered: $gatherRuns, $gatherJobs jobs")
    else assert(gatherRuns.take(2) == Seq(0, 0) && gatherJobs >= 1, s"$q, gathered: $gatherRuns, $gatherJobs jobs")
    assert(lowerRuns == Seq(0, 0, 0), s"$q at -1: $lowerRuns")
    assert(onIndex == lowered, s"$q: the indexed path differs from the join lowering")
    assert(onGather == lowered, s"$q: untilSmall differs from the join lowering")
    lowered
  }

  test("g.V().count() and g.E().count() — README.md:331-340") {
    assert(GremlinLite.run(g, "g.V().count()").as[Long].head() == 4L)
    assert(GremlinLite.run(g, "g.E().count()").as[Long].head() == 2L)
  }

  test("the README's user lookup + expand + valueMap runs verbatim") {
    val out = GremlinLite.run(g,
      "g.V().hasLabel('user').has('email','user1@d').out().valueMap()")
      .select("key").as[String].collect().toSeq
    assert(out == Seq("subgroup1@d"))
  }

  test("edge traversal: outE / inV compose; V(id) anchors") {
    assert(GremlinLite.run(g, "g.V(3).outE('in')")
      .select("dst").as[Long].head() == 4L)
    assert(GremlinLite.run(g, "g.V(1).outE('in').inV().id()")
      .as[Long].head() == 3L)
    assert(GremlinLite.run(g, "g.V(4).inE('in').outV().values('email')")
      .as[String].head() == "subgroup1@d")
  }

  test("label-less out()/outE() traverse ALL edge labels, not a default") {
    // Two edge labels: user1 -in-> subgroup1, user1 -owns-> gog1.
    val multi = PropertyGraph(g.vertices,
      Seq((1L, 3L, "in", 1), (1L, 4L, "owns", 1)).toDF("src", "dst", "label", "weight"))
    val all = GremlinLite.run(multi, "g.V(1).out().id()").as[Long].collect().toSet
    assert(all == Set(3L, 4L))
    val only = GremlinLite.run(multi, "g.V(1).out('in').id()").as[Long].collect().toSet
    assert(only == Set(3L))
    assert(GremlinLite.run(multi, "g.V(1).outE()").count() == 2L)
  }

  test("the reference's Cytoscape export session runs verbatim — README.md:372") {
    val census = GremlinLite.run(g, "sg = g.V().outE().subgraph('sg').cap('sg').next()")
      .as[(Long, Long)].head()
    // Edges 1->3, 3->4 touch vertices {1,3,4}; user2 is isolated.
    assert(census == ((3L, 2L)))
  }

  test("subgraphOf hands the captured graph to the export path") {
    val sg = GremlinLite.subgraphOf(g, "g.V().outE('in').subgraph('sg').cap('sg')")
    assert(sg.V.select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    assert(sg.E.count() == 2L)
    assertThrows[IllegalArgumentException] {
      GremlinLite.subgraphOf(g, "g.V().outE('in').subgraph('other').cap('other')", "sg")
    }
    assertThrows[IllegalArgumentException] {
      GremlinLite.run(g, "g.V().outE('in').cap('sg')") // cap before subgraph
    }
  }

  // user1 -> subgroup1 -> gog1 -> project1, plus the membership CYCLE
  // gog1 -> subgroup1 — the graph shape the reference's recursive
  // getGroupMembers (main.go:347) loops forever on.
  private def gCyc = PropertyGraph(
    g.vertices.unionByName(Seq(
      (5L, "project", "proj1", Map("name" -> "proj1")))
      .toDF("id", "label", "key", "props")),
    Seq((1L, 3L, "in", 1), (3L, 4L, "in", 1), (4L, 5L, "in", 1), (4L, 3L, "in", 1))
      .toDF("src", "dst", "label", "weight"))

  test("repeat().until(): the flagship walk stops at the target label, cycle-safe") {
    val out = GremlinLite.run(gCyc,
      "g.V().hasLabel('user').has('email','user1@d').repeat(out('in')).until(hasLabel('project')).id()")
      .as[Long].collect().toSeq
    assert(out == Seq(5L)) // terminates despite the 3<->4 cycle
  }

  test("repeat().until().emit() keeps the intermediates of the walk") {
    val out = GremlinLite.run(gCyc,
      "g.V(1).repeat(out('in')).until(hasLabel('project')).emit().id()")
      .as[Long].collect().toSet
    assert(out == Set(3L, 4L, 5L)) // groups visited + the terminal project
  }

  test("repeat().emit() alone is the full reachable set (>= 1 hop)") {
    val out = GremlinLite.run(gCyc, "g.V(1).repeat(out('in')).emit().id()")
      .as[Long].collect().toSet
    assert(out == Set(3L, 4L, 5L))
  }

  test("until() is do-while: a start already satisfying the predicate still steps") {
    val out = GremlinLite.run(gCyc,
      "g.V(3).repeat(out('in')).until(hasLabel('group')).id()")
      .as[Long].collect().toSeq
    assert(out == Seq(4L)) // start 3 is a group, but the first hop runs
  }

  test("until(has(k,v)) predicate form; until never expands past a stop vertex") {
    // stop at subgroup1 by property: the walk from user1 must NOT reach
    // gog1/project1 (they lie strictly beyond the stop vertex).
    val out = GremlinLite.run(gCyc,
      "g.V(1).repeat(out('in')).until(has('email','subgroup1@d')).id()")
      .as[Long].collect().toSeq
    assert(out == Seq(3L))
  }

  test("times(n) does not combine with until()/emit()") {
    assertThrows[IllegalArgumentException] {
      GremlinLite.run(gCyc, "g.V(1).repeat(out('in')).until(hasLabel('project')).times(2)")
    }
    assertThrows[IllegalArgumentException] {
      GremlinLite.run(gCyc, "g.V(1).repeat(out('in'))") // no modulator at all
    }
  }

  test("property: repeat().until()/emit() agree on the small-relation path and the join rounds") {
    // each query on the indexed resident path, untilSmall and the join
    // rounds (threePaths)
    // seeded random graphs: cycles, a self-loop and a duplicate edge each
    val rnd = new scala.util.Random(99)
    val labels = Seq("user", "group", "project")
    for (_ <- 1 to 4) {
      val n = 6 + rnd.nextInt(10)
      val vs = (0 until n).map(v =>
        (v.toLong, labels(rnd.nextInt(labels.length)), s"k$v", Map.empty[String, String]))
      val drawn = Seq.fill(2 * n)((rnd.nextLong(n), rnd.nextLong(n)))
      val es = (drawn :+ drawn.head :+ ((0L, 0L))).map { case (s, d) => (s, d, "in", 1) }
      val rg = PropertyGraph(vs.toDF("id", "label", "key", "props"),
        es.toDF("src", "dst", "label", "weight"))
      for (q <- Seq(
          "g.V().hasLabel('user').repeat(out('in')).until(hasLabel('project')).id()",
          "g.V().hasLabel('user').repeat(out('in')).until(hasLabel('project')).emit().id()",
          "g.V().hasLabel('project').repeat(in('in')).until(hasLabel('user')).emit().id()",
          "g.V().hasLabel('user').repeat(out('in')).emit().id()",
          "g.V().hasLabel('group').repeat(in('in')).emit().id()",
          "g.V().hasLabel('user').repeat(out()).until(hasLabel('project')).id()")) {
        withClue(s"edges $es: ")(threePaths(rg, q))
      }
    }
    // Edge cases of the lowering. Users 1, 2 (no out-edge) and a null-id
    // user; groups 3, 4, 7 (promoted key `email` in the key column only);
    // projects 5, 6. Project 5 is in s1 of user 1 AND is reached again
    // through 3 → 4 → 7 → 5; 5 → 6 must not be expanded under until.
    val vs = Seq[(java.lang.Long, String, String, Map[String, String])](
      (1L, "user", "u1@d", Map("isExternal" -> "false")),
      (2L, "user", "u2@d", Map.empty), (null, "user", "ghost@d", Map.empty),
      (3L, "group", "g3@d", Map.empty), (4L, "group", "g4@d", Map.empty),
      (7L, "group", "g7@d", Map.empty),
      (5L, "project", "p5", Map.empty), (6L, "project", "p6", Map.empty))
    val es = Seq((1L, 3L, "in"), (1L, 5L, "in"), (3L, 4L, "in"), (4L, 7L, "in"),
      (7L, 5L, "in"), (5L, 6L, "in"), (4L, 3L, "in"), (3L, 6L, "in"), (1L, 4L, "owns"))
    val eg = PropertyGraph(vs.toDF("id", "label", "key", "props"),
      es.map { case (a, b, l) => (a, b, l, 1) }.toDF("src", "dst", "label", "weight"))
    val untilP = ".repeat(out('in')).until(hasLabel('project'))"
    for (q <- Seq(
        s"g.V().hasLabel('nobody')$untilP",                   // empty seed set
        s"g.V().hasLabel('nobody').repeat(out('in')).emit()",
        "g.V(5).repeat(out('in')).until(hasLabel('project'))", // seed is a stop
        s"g.V(2)$untilP.emit()",                              // no out-edge
        "g.V(2).repeat(out('in')).emit()",
        s"g.V(1)$untilP", s"g.V(1)$untilP.emit()",            // 5 in s1, reached again
        "g.V(1).repeat(out()).until(hasLabel('project')).emit()", // label-less
        "g.V(1).repeat(out()).emit()",
        "g.V().hasLabel('project').repeat(in('in')).until(hasLabel('user'))", // in()
        "g.V(6).repeat(in()).emit()",
        "g.V(1).repeat(out('in')).until(has('email','g4@d')).emit()", // promoted key
        "g.V(1).repeat(out('in')).until(has('email','g4@d'))",
        s"g.V().hasLabel('user')$untilP.emit()",              // a null seed id
        "g.V().hasLabel('user').repeat(out('in')).emit().valueMap()"))
      threePaths(eg, q)
    // duplicate seed rows from a hop, which the graph that is not resident
    // joins, so its seeds are over the threshold of path 2 and it takes
    // the join lowering there; the new three-path property below gives
    // untilSmall duplicate seed rows from a filter
    threePaths(eg, s"g.V(1).out().in()$untilP.emit()", gathered = false)
  }

  test("property: every step family agrees on the resident driver path and the DataFrame lowering") {
    val binds = Map("u1" -> 1L, "g1" -> 3L)
    def agree(graph: PropertyGraph, queries: Seq[String]): Unit = queries.foreach { q =>
      val (resident, lowered) = TestSpark.onBothPaths(
        TestSpark.rowsAndSchema(GremlinLite.run(graph, q, binds)), graft.graph.Resident.runs)
      assert(resident == lowered, q)
    }
    // Frames read from parquet, so the resident path collects its copy. Duplicate
    // edge 1 → 3 and vertex 6, self-loop 4 → 4, an edge into a missing
    // vertex (99), null vertex and edge ids, a null edge label and weight;
    // `tier` is unset on most vertices (a null groupCount key).
    val vs = Seq[(java.lang.Long, String, String, Map[String, String])](
      (1L, "user", "u1@d", Map("isExternal" -> "false", "tier" -> "gold")),
      (2L, "user", "u2@d", Map.empty), (null, "user", "ghost@d", Map.empty),
      (3L, "group", "g3@d", Map("tier" -> "gold")), (4L, "group", "g4@d", Map.empty),
      (5L, "project", "p5", Map("tier" -> "silver")), (6L, "bucket", "b6", Map("name" -> "b6")),
      (6L, "bucket", "b6-copy", Map("name" -> "b6")))
    val es = Seq[(java.lang.Long, java.lang.Long, String, java.lang.Integer)](
      (1L, 3L, "in", 1), (1L, 3L, "in", 1), (3L, 4L, "in", 2), (4L, 4L, "in", 1),
      (4L, 5L, "in", 1), (1L, 5L, "owns", 3), (5L, 6L, "in", 1), (3L, 99L, "in", 1),
      (null, 3L, "in", 1), (2L, null, "owns", 1), (3L, 5L, null, 1), (6L, 1L, "grants", null))
    val dir = java.nio.file.Files.createTempDirectory("graft-resident").toString
    vs.toDF("id", "label", "key", "props").write.parquet(s"$dir/v")
    es.toDF("src", "dst", "label", "weight").write.parquet(s"$dir/e")
    val eg = PropertyGraph(spark.read.parquet(s"$dir/v"), spark.read.parquet(s"$dir/e"))
    agree(eg, Seq(
      // count / hasNext, over folded and empty frontiers
      "g.V().count()", "g.E().count()", "g.V().hasLabel('nobody').count()",
      "g.V().hasNext()", "g.V().hasLabel('nobody').hasNext()", "g.E().hasLabel('in').hasNext()",
      // vertex hops, labelled and label-less, chained, from an empty frontier
      "g.V().out()", "g.V().out('in')", "g.V().in()", "g.V().in('owns')", "g.V().both()",
      "g.V().both('in').id()", "g.V().hasLabel('nobody').out()", "g.V(1).out().out().valueMap()",
      "g.V(3).in().in()", "g.V().out().out().count()", "g.V().out().dedup().id()",
      "g.V().repeat(out()).times(2).id()",
      // edge hops and their endpoints
      "g.V().outE()", "g.V().inE('in')", "g.V().bothE()", "g.V().bothE('owns')",
      "g.V().hasLabel('nobody').outE()", "g.V().outE('in').inV()", "g.V().inE().outV().id()",
      "g.E().inV()", "g.E().outV()", "g.E().hasLabel('in').inV().out()",
      "g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()",
      "g.V(u1).outE('owns').where(inV().hasId( g1.id() )).hasNext()",
      // groupCount, null keys included
      "g.V().groupCount().by(label)", "g.V().groupCount().by('tier')",
      "g.V().groupCount().by('email')", "g.E().groupCount().by(label)",
      "g.E().groupCount().by('weight')", "g.E().groupCount().by('dst')",
      "g.V().out().groupCount().by('key')", "g.V().hasLabel('nobody').groupCount().by(label)",
      // as() / select() / path(), and the steps that keep their lowering
      "g.V().as('a').out().as('b').select('a','b')", "g.V().as('a').out('in').in().select('a').id()",
      "g.V().hasLabel('user').as('u').out().as('x').select('u','x').by('key')",
      "g.V().out().in().path()", "g.V(1).out().both().path()", "g.V().out().values('tier')",
      "g.V().out().where(hasLabel('group')).in().hasId(1).count()",
      "g.V().out().order().by('key').id()", "g.V().outE().subgraph('sg').cap('sg')"))
    // Seeded random graphs built from local rows: cycles, self-loops,
    // duplicate edges and two edge labels.
    val rnd = new scala.util.Random(7)
    val labels = Seq("user", "group", "project")
    for (_ <- 1 to 3) {
      val n = 5 + rnd.nextInt(8)
      val rv = (0 until n).map(v => (v.toLong, labels(rnd.nextInt(labels.length)), s"k$v",
        if (rnd.nextBoolean()) Map("tier" -> s"t${rnd.nextInt(2)}") else Map.empty[String, String]))
      val drawn = Seq.fill(2 * n)((rnd.nextLong(n), rnd.nextLong(n), if (rnd.nextBoolean()) "in" else "owns"))
      val re = (drawn :+ drawn.head :+ ((0L, 0L, "in"))).map { case (a, b, l) => (a, b, l, 1) }
      agree(PropertyGraph(rv.toDF("id", "label", "key", "props"), re.toDF("src", "dst", "label", "weight")),
        Seq("g.V().hasLabel('user').out('in')", "g.V().in()", "g.V().both('owns').count()",
          "g.V().hasLabel('group').outE().inV().groupCount().by(label)", "g.V().inE('in').outV()",
          "g.V().groupCount().by('tier')", "g.V().out().out().hasNext()",
          "g.V().hasLabel('project').as('p').in().as('q').select('p','q')",
          "g.V().hasLabel('user').out().out().path()"))
    }
  }

  test("property: repeat().until()/emit() agree on the indexed resident path, untilSmall and the join rounds") {
    // Users 1, 2, 8 (8 touches no edge) and a null-id user; groups 3, 4
    // (twice: a duplicate vertex id) and 7; projects 5, 6. `in` edges hold
    // a duplicate edge, a self-loop, a membership cycle and an edge into
    // a missing vertex (99); `owns` is a second label; each `bad` edge has
    // a null endpoint, so walks over `bad` or over every label fall back.
    val vs = Seq[(java.lang.Long, String, String, Map[String, String])](
      (1L, "user", "u1@d", Map("tier" -> "gold")), (2L, "user", "u2@d", Map.empty),
      (8L, "user", "u8@d", Map.empty), (null, "user", "ghost@d", Map.empty),
      (3L, "group", "g3@d", Map.empty), (4L, "group", "g4@d", Map.empty),
      (4L, "group", "g4-copy@d", Map("tier" -> "gold")), (7L, "group", "g7@d", Map.empty),
      (5L, "project", "p5", Map.empty), (6L, "project", "p6", Map.empty))
    val in = Seq((1L, 3L), (1L, 3L), (3L, 3L), (3L, 4L), (4L, 3L), (4L, 7L), (7L, 5L),
      (5L, 6L), (3L, 99L), (2L, 7L)).map { case (a, b) => (a: java.lang.Long, b: java.lang.Long, "in") }
    val owns = Seq[(java.lang.Long, java.lang.Long, String)]((1L, 4L, "owns"), (2L, 5L, "owns"), (5L, 1L, "owns"))
    val bad = Seq[(java.lang.Long, java.lang.Long, String)]((null, 3L, "bad"), (4L, null, "bad"))
    def graph(es: Seq[(java.lang.Long, java.lang.Long, String)]) = PropertyGraph(
      vs.toDF("id", "label", "key", "props"),
      es.map { case (a, b, l) => (a, b, l, 1) }.toDF("src", "dst", "label", "weight"))
    val clean = graph(in ++ owns)
    val withNulls = graph(in ++ owns ++ bad)
    val walks = Seq(
      // out and in, labeled and label-less; until, emit and both
      "g.V().hasLabel('user').repeat(out('in')).until(hasLabel('project'))",
      "g.V().hasLabel('user').repeat(out('in')).until(hasLabel('project')).emit()",
      "g.V(1).repeat(out('in')).emit()",
      "g.V().hasLabel('project').repeat(in('in')).until(hasLabel('user')).emit().valueMap()",
      "g.V(6).repeat(in('in')).emit()",
      "g.V(5).repeat(in('in')).until(hasLabel('user'))",
      "g.V(2).repeat(out('owns')).emit()",
      "g.V(1).repeat(in('owns')).until(has('tier','gold')).emit()", // the duplicate id 4
      // duplicate seed rows from a filter (id 4 twice), which stay folded
      // off the resident copy, so untilSmall still gets them
      "g.V(4).repeat(out('in')).emit()",
      "g.V(1).repeat(out()).until(hasLabel('project'))",
      "g.V(1).repeat(out()).emit()",
      "g.V(6).repeat(in()).until(hasLabel('user')).emit()",
      // seeds no edge touches, seeds that are no vertex, empty seeds
      "g.V(8).repeat(out('in')).emit()", "g.V(99).repeat(out('in')).emit()",
      "g.V().hasLabel('nobody').repeat(in('in')).until(hasLabel('user'))")
    walks.foreach(threePaths(clean, _))
    // with the `bad` edges: the labeled walks over `in` and `owns` keep the
    // indexed path; label-less ones and walks over `bad` fall back
    walks.foreach { q =>
      val fallsBack = q.contains("out()") || q.contains("in()")
      threePaths(withNulls, q, indexed = !fallsBack, gathered = !fallsBack)
    }
    Seq("g.V(4).repeat(out('bad')).emit()", "g.V(3).repeat(in('bad')).until(hasLabel('group'))")
      .foreach(threePaths(withNulls, _, indexed = false, gathered = false))
  }

  test("repeat().until()/emit() throw the round-limit error at the same depth on both paths") {
    // D = the largest depth of bfsDepth from contStart (s1 minus the stop
    // ids); the rounds return at D = 63 and throw at D = 64. `stopInS1`
    // puts project 0 in s1 and reaches it again at depth D, after the
    // chain's last group, so a search that counted s1 as reached would
    // find D - 1 and return.
    def chain(d: Int, stopInS1: Boolean) = {
      // user -1 → group 1 → … → group d → the project, at depth d from 1
      val proj = if (stopInS1) 0L else d + 1L
      val vs = ((-1L, "user") +: (1L to d.toLong).map(_ -> "group")) :+ (proj -> "project")
      val es = (if (stopInS1) Seq((-1L, 0L)) else Nil) ++
        ((-1L, 1L) +: (1L until d.toLong).map(i => (i, i + 1))) :+ ((d.toLong, proj))
      PropertyGraph(vs.map { case (i, l) => (i, l, s"k$i", Map.empty[String, String]) }
          .toDF("id", "label", "key", "props"),
        es.map { case (a, b) => (a, b, "in", 1) }.toDF("src", "dst", "label", "weight"))
    }
    // each join-round run takes about a minute: one chain per modulator;
    // threePaths asserts the same outcome on the indexed resident path,
    // untilSmall and the join rounds
    for ((stopInS1, q) <- Seq(true -> "g.V(-1).repeat(out('in')).until(hasLabel('project'))",
           false -> "g.V(-1).repeat(out('in')).emit()"); d <- Seq(63, 64)) {
      val out = withClue(s"D = $d: ")(threePaths(chain(d, stopInS1), q))
      if (d == 63) assert(out.exists(_._1.nonEmpty), s"$q at D = 63: $out")
      else assert(out.left.exists(_._2.contains("did not converge in 64 levels")),
        s"$q at D = 64: $out")
    }
  }

  test("console reach and who_can run at most 3 jobs and leave nothing cached") {
    // On a resident store, after its one collect, all five console
    // classes run 0 jobs, and reach and who_can search the index's cached
    // adjacency; on the same store over its bound, at most 3 (lookup,
    // whose vertex join then shuffles, 5).
    // An IAM-shaped store, written and loaded back as the console does:
    // users -in-> nested groups -in-> projects, buckets <-in- groups.
    val users = (1L to 6L).map(i => (i, "user", s"u$i@d", Map.empty[String, String]))
    val groups = (11L to 16L).map(i => (i, "group", s"g$i@d", Map.empty[String, String]))
    val others = Seq((21L, "project", "p21", Map("name" -> "p21")),
      (22L, "project", "p22", Map("name" -> "p22")),
      (31L, "bucket", "b31", Map("name" -> "b31")), (32L, "bucket", "b32", Map("name" -> "b32")))
    val es = Seq((1L, 11L), (2L, 11L), (3L, 12L), (4L, 13L), (5L, 14L), (6L, 16L),
      (11L, 12L), (12L, 13L), (13L, 11L), (13L, 21L), (14L, 22L), (15L, 22L),
      (12L, 31L), (14L, 32L), (16L, 32L), (1L, 21L))
    val dir = java.nio.file.Files.createTempDirectory("graft-console").toString
    graft.sources.GraphStorage.write(PropertyGraph(
      (users ++ groups ++ others).toDF("id", "label", "key", "props"),
      es.map { case (a, b) => (a, b, "in", 1) }.toDF("src", "dst", "label", "weight")), dir)
    def load() = graft.sources.GraphStorage.load(spark, dir)
    val sc = spark.sparkContext
    // (jobs, sorted answer rows) of one query, in its own job group
    type Deck = Seq[(String, (Int, Seq[org.apache.spark.sql.Row]))]
    def jobs(store: PropertyGraph, tag: String, q: String,
             binds: Map[String, Long] = Map.empty): (Int, Seq[org.apache.spark.sql.Row]) = {
      sc.setJobGroup(tag, tag)
      val rows = try GremlinLite.run(store, q, binds).collect() finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      (sc.statusTracker.getJobIdsForGroup(tag).length, rows.toSeq.sortBy(_.toString))
    }
    // the console's five query classes, three of each
    def deck(store: PropertyGraph, run: String): Deck = (1 to 3).flatMap { i =>
      def q(c: String, text: String, binds: Map[String, Long] = Map.empty) =
        s"$c $i" -> jobs(store, s"$run-$c-$i", text, binds)
      Seq(q("reach",
          s"g.V().hasLabel('user').has('email','u$i@d').repeat(out('in')).until(hasLabel('project')).emit()"),
        q("who_can",
          s"g.V().hasLabel('bucket').has('name','b3${1 + i % 2}').repeat(in('in')).until(hasLabel('user'))"),
        q("lookup", s"g.V().hasLabel('user').has('email','u$i@d').out('in').valueMap()"),
        q("guard", "g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()",
          Map("u1" -> i, "g1" -> (10L + i))),
        q("scan", "g.V().groupCount().by(label)"))
    }
    def counts(d: Deck) = d.map { case (q, (n, _)) => q -> n }
    def answers(d: Deck) = d.map { case (q, (_, rows)) => q -> rows }
    def threshold[A](t: String)(body: => A): A =
      GateSupport.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> t)(body)
    val small = graft.graph.Traversal.smallPathRuns
    val resident = graft.graph.Resident.runs
    val searches = graft.graph.Resident.searches
    val store = load()

    // Not resident, with Traversal's small path: a threshold that the
    // vertex frame is over and the repeat() gather's (src, dst), seed and
    // stop projections are under. Reach and who_can take untilSmall, whose
    // one collect is Adjacency.collectAll's tagged union of the three
    // frames. Every class but lookup runs at most 3 jobs, as on a store
    // the console queries through its lowering; lookup's join with the
    // vertex frame cannot broadcast here, so it shuffles, as under -1.
    val size = (df: org.apache.spark.sql.DataFrame) => df.queryExecution.optimizedPlan.stats.sizeInBytes
    val between = size(store.edges.select("src", "dst")) max size(store.vertices.select("id"))
    assert(between < (size(store.vertices) max size(store.edges)), "no threshold between the frames")
    val (small0, resident0, searched0) = (small.get, resident.get, searches.get)
    val gathered = threshold(between.toString)(deck(store, "gathered"))
    assert(resident.get == resident0 && searches.get == searched0, "the store went resident over its bound")
    assert(small.get == small0 + 6, "reach/who_can left the small path")
    counts(gathered).foreach { case (q, n) =>
      assert(n >= 1 && (n <= 3 || q.startsWith("lookup") && n <= 5), s"$q ran $n jobs: ${counts(gathered)}")
    }

    // Neither driver-side path (-1): each query runs its lowering, with
    // shuffle joins for the broadcasts and the join rounds for reach and
    // who_can.
    val (small1, resident1, searched1) = (small.get, resident.get, searches.get)
    val lowered = threshold("-1")(deck(store, "lowered"))
    assert(small.get == small1 && resident.get == resident1 && searches.get == searched1,
      "a driver-side path ran with the threshold at -1")
    counts(lowered).foreach { case (q, n) =>
      assert(n >= 1 && (n <= 5 || q.startsWith("reach") || q.startsWith("who_can")),
        s"$q ran $n jobs: ${counts(lowered)}")
    }

    // The cuts above are freed by the ContextCleaner; the resident path
    // below must leave nothing: no NEW persisted RDD id (other suites'
    // released RDDs may be cleaned meanwhile) and no CacheManager entry.
    val persisted = sc.getPersistentRDDs.keySet
    val entries = org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark)

    // Resident: the first query collects both frames, one job each; after
    // it every query runs 0 jobs, with the same answers as without it.
    // Reach and who_can take the indexed path: each searches the cached
    // adjacency, and neither Traversal small path runs.
    val (first, _) = jobs(store, "first", "g.V().groupCount().by(label)")
    assert(first >= 1 && first <= 2, s"the resident copy took $first jobs")
    val (small2, resident2, searched2) = (small.get, resident.get, searches.get)
    val onDriver = deck(store, "resident")
    counts(onDriver).foreach { case (q, n) => assert(n == 0, s"$q ran $n jobs: ${counts(onDriver)}") }
    assert(resident.get == resident2 + 15, "a query did not take the resident copy")
    assert(searches.get == searched2 + 6 && small.get == small2, "reach/who_can left the indexed path")
    assert(answers(onDriver) == answers(gathered))
    assert(answers(onDriver) == answers(lowered))

    // A second graph object over the same store collects again.
    val second = load()
    assert(jobs(second, "second", "g.V().groupCount().by(label)")._1 >= 1)
    assert(jobs(second, "second-again", "g.V().groupCount().by(label)")._1 == 0)
    assert(sc.getPersistentRDDs.keySet.subsetOf(persisted))
    assert(org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark) <= entries)

    // Over the bound, a graph never collects: its first query once the
    // bound is lifted still pays the collect.
    val over = load()
    val overBound = threshold("512")(deck(over, "over"))
    counts(overBound).foreach { case (q, n) => assert(n >= 1, s"$q over the bound ran $n jobs: ${counts(overBound)}") }
    assert(jobs(over, "over-lifted", "g.V().groupCount().by(label)")._1 >= 1)
  }

  test("mutate(): typed addV/addE upsert and drop() lower to the set-semantics API") {
    val script =
      """if (g.V().hasLabel('user').has('email','new@d').hasNext() == false) {
        | g.addV('user').property(label, 'user').property('email', 'new@d').property('isExternal', true).id().next()
        |}
        |u1 = g.V().hasLabel('user').has('email', 'new@d' ).next()
        |g1 = g.V().hasLabel('group').has('email', 'subgroup1@d').next()
        |if ( g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext() == false) {
        | e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()
        |}""".stripMargin
    // GroovyLoader keys users by email; the fixture's group keys are its
    // `key` column values, so bind resolution still works (binds are by
    // (label, has-value), not by id).
    val mutated = GremlinLite.mutate(g, script)
    assert(mutated.V.count() == 5) // 4 + the new user
    val newUser = mutated.has("user", "key", "new@d")
    assert(newUser.count() == 1)
    // Replay is a no-op (the guarded-if is subsumed by upsert semantics).
    assert(GremlinLite.mutate(mutated, script).V.count() == 5)
    // drop() removes by label+property predicate, cascading edges — and
    // the PROMOTED key property ('email' for users) resolves against the
    // key column, exactly like addE binds do.
    val dropped = GremlinLite.mutate(mutated, "g.V().hasLabel('user').has('email','new@d').drop()")
    assert(dropped.V.count() == 4)
    val dropped2 = GremlinLite.mutate(mutated, "g.V().hasLabel('user').has('key','new@d').drop()")
    assert(dropped2.V.count() == 4)
    // An addE whose bind matches nothing fails loudly, like .next().
    assertThrows[IllegalArgumentException] {
      GremlinLite.mutate(g,
        """u1 = g.V().hasLabel('user').has('email', 'ghost@d' ).next()
          |g1 = g.V().hasLabel('group').has('email', 'subgroup1@d').next()
          |e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()""".stripMargin)
    }
  }

  test("main.go:320 edge-existence guard runs verbatim with console bindings") {
    // The reference's exact guard traversal (main.go:320):
    //   g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()
    // u1/g1 are console variables bound by the preceding `= g.V()...next()`
    // lines; bindings supply them. Edge 1 -in-> 3 exists, 1 -in-> 4 does not.
    val q = "g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()"
    assert(GremlinLite.run(g, q, Map("u1" -> 1L, "g1" -> 3L)).as[Boolean].head())
    assert(!GremlinLite.run(g, q, Map("u1" -> 1L, "g1" -> 4L)).as[Boolean].head())
    // where(outV().hasId(x)) filters the near endpoint symmetrically.
    assert(GremlinLite.run(g, "g.E().where(outV().hasId(3)).hasNext()")
      .as[Boolean].head())
    // Unbound variables fail loudly, like an undefined console variable.
    val err = intercept[IllegalArgumentException] {
      GremlinLite.run(g, q, Map("u1" -> 1L))
    }
    assert(err.getMessage.contains("unbound console variable 'g1'"))
  }

  test("hasId() filters vertices; iterate() is a terminal no-op — README.md:327") {
    assert(GremlinLite.run(g, "g.V().hasLabel('group').hasId(3).id()")
      .as[Long].collect().toSeq == Seq(3L))
    assert(GremlinLite.run(g, "g.V().hasLabel('user').id().iterate()")
      .as[Long].collect().toSet == Set(1L, 2L))
  }

  test("mutate: g.E().drop() / g.V().drop() — the README's full wipe (README.md:321-328)") {
    // g.E().drop(): edges gone, vertices intact (no cascade on edge drop).
    val eDropped = GremlinLite.mutate(g, "g.E().drop()")
    assert(eDropped.E.count() == 0 && eDropped.V.count() == 4)
    // Label-selective edge drop.
    val multi = PropertyGraph(g.vertices,
      Seq((1L, 3L, "in", 1), (1L, 4L, "owns", 1)).toDF("src", "dst", "label", "weight"))
    val owns = GremlinLite.mutate(multi, "g.E().hasLabel('in').drop()")
    assert(owns.E.select("label").as[String].collect().toSeq == Seq("owns"))
    // gremlin-python suffix form and bare g.V().drop() (full wipe).
    val wiped = GremlinLite.mutate(g, "g.V().drop().iterate()")
    assert(wiped.V.count() == 0 && wiped.E.count() == 0)
  }

  test("label-less has().drop() resolves the promoted key per label") {
    // 'email' is the promoted key for BOTH user and group (it lives in the
    // key column, props['email'] is also set in this fixture for users but
    // NOT for a vertex whose props omit it — model that): a vertex whose
    // props map lacks 'email' must still drop by its key column.
    val bare = PropertyGraph(
      Seq((9L, "user", "bare@d", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq.empty[(Long, Long, String, Int)].toDF("src", "dst", "label", "weight"))
    val dropped = GremlinLite.mutate(bare, "g.V().has('email','bare@d').drop()")
    assert(dropped.V.count() == 0)
    // Non-promoted property still matches through the props map.
    val byProp = GremlinLite.mutate(g, "g.V().has('isExternal','false').drop()")
    assert(byProp.V.select("label").as[String].collect().toSet == Set("group"))
  }

  test("where(has(k,v)) / where(hasLabel(l)) filter the current traverser") {
    assert(GremlinLite.run(g, "g.V().where(hasLabel('user')).count()")
      .as[Long].head() == 2L)
    assert(GremlinLite.run(g, "g.V().where(has('email','user1@d')).id()")
      .as[Long].collect().toSeq == Seq(1L))
    // On edges, where(has()) filters edge columns.
    assert(GremlinLite.run(g, "g.E().where(hasLabel('in')).count()")
      .as[Long].head() == 2L)
    // Unsupported where-bodies still fail loudly.
    assertThrows[IllegalArgumentException] {
      GremlinLite.run(g, "g.V().where(order())")
    }
  }

  test("order()[.by(k)] sorts traversers; groupCount().by(label) is the console census") {
    assert(GremlinLite.run(g, "g.V().values('email').order()")
      .as[String].collect().toSeq ==
      Seq("gog1@d", "subgroup1@d", "user1@d", "user2@d"))
    assert(GremlinLite.run(g, "g.V().hasLabel('user').order().by('email').id()")
      .as[Long].collect().toSeq == Seq(1L, 2L))
    val census = GremlinLite.run(g, "g.V().groupCount().by(label)")
      .as[(String, Long)].collect().toMap
    assert(census == Map("user" -> 2L, "group" -> 2L))
    assert(GremlinLite.run(g, "g.E().groupCount().by(label)")
      .as[(String, Long)].collect().toMap == Map("in" -> 2L))
    // groupCount without by() fails loudly (no silent element-identity map).
    assertThrows[IllegalArgumentException] {
      GremlinLite.run(g, "g.V().groupCount()")
    }
  }

  test("read steps resolve promoted keys on loader-built graphs (props omit the key)") {
    // GroovyLoader strips the promoted key out of props — email lives
    // ONLY in the key column here. has/where/values/groupCount must
    // still see it through the registry, like mutate's drop path does.
    val loaderish = PropertyGraph(
      Seq(
        (1L, "user", "u1@d", Map("isExternal" -> "false")),
        (2L, "user", "u2@d", Map("isExternal" -> "true")),
        (3L, "group", "g1@d", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 3L, "in", 1)).toDF("src", "dst", "label", "weight"))
    assert(GremlinLite.run(loaderish, "g.V().hasLabel('user').has('email','u1@d').id()")
      .as[Long].collect().toSeq == Seq(1L))
    assert(GremlinLite.run(loaderish, "g.V().where(has('email','g1@d')).id()")
      .as[Long].collect().toSeq == Seq(3L))
    assert(GremlinLite.run(loaderish, "g.V().hasLabel('user').values('email').order()")
      .as[String].collect().toSeq == Seq("u1@d", "u2@d"))
    assert(GremlinLite.run(loaderish, "g.V().groupCount().by('email')")
      .as[(String, Long)].collect().toMap ==
      Map("u1@d" -> 1L, "u2@d" -> 1L, "g1@d" -> 1L))
  }

  test("both()/bothE() traverse undirected; hasLabel is variadic") {
    // Vertex 3 has one in-edge (1->3) and one out-edge (3->4): both()
    // reaches {1, 4}; traverser multiplicity is per incident edge.
    assert(GremlinLite.run(g, "g.V(3).both().id()")
      .as[Long].collect().toSet == Set(1L, 4L))
    assert(GremlinLite.run(g, "g.V(3).bothE()").count() == 2L)
    // A vertex reachable both ways appears twice until dedup().
    val loop = PropertyGraph(g.vertices,
      Seq((1L, 3L, "in", 1), (3L, 1L, "in", 1)).toDF("src", "dst", "label", "weight"))
    assert(GremlinLite.run(loop, "g.V(1).both().id()").count() == 2L)
    assert(GremlinLite.run(loop, "g.V(1).both().dedup().id()")
      .as[Long].collect().toSeq == Seq(3L))
    assert(GremlinLite.run(g, "g.V().hasLabel('user','group').count()")
      .as[Long].head() == 4L)
  }

  test("as()/select(): step back, per-path projection, by() modulators") {
    // Step back: walk to the end of the chain, then return to the start.
    assert(GremlinLite.run(g, "g.V(1).as('u').out().out().select('u').id()")
      .as[Long].head() == 1L)
    // Per-path id projection: one row per surviving (u, gr) path.
    val pairs = GremlinLite.run(g,
      "g.V().hasLabel('user').as('u').out('in').as('gr').select('u','gr')")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)))
    // by() modulators project property values, promoted keys included.
    val emails = GremlinLite.run(g,
      "g.V().hasLabel('user').as('u').out('in').as('gr').select('u','gr').by('email')")
      .as[(String, String)].collect().toSet
    assert(emails == Set(("user1@d", "subgroup1@d")))
    // Labels survive filters after the hop, and select continues the
    // traversal: group-side filter, then back to the user.
    assert(GremlinLite.run(g,
      "g.V().hasLabel('user').as('u').out('in').has('email','subgroup1@d').select('u').values('email')")
      .as[String].collect().toSeq == Seq("user1@d"))
  }

  test("as()/select(): per-path fan-out multiplies like Gremlin traversers") {
    // user1 has TWO out-edges; each path keeps its own 'u' snapshot.
    val multi = PropertyGraph(g.vertices,
      Seq((1L, 3L, "in", 1), (1L, 4L, "owns", 1)).toDF("src", "dst", "label", "weight"))
    val rows = GremlinLite.run(multi, "g.V(1).as('u').out().as('v').select('u','v')")
      .as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 3L), (1L, 4L)))
    // dedup() with live labels collapses identical PATH signatures only.
    assert(GremlinLite.run(multi, "g.V(1).as('u').out().in().dedup().select('u').id()")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("path(): visited-vertex ids per surviving path; repeat() contributes each hop") {
    assert(GremlinLite.run(g, "g.V(1).out('in').out('in').path()")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 3L, 4L)))
    // Filters refine positions without adding path elements.
    assert(GremlinLite.run(g,
      "g.V().hasLabel('user').out('in').has('email','subgroup1@d').path()")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 3L)))
    // repeat(out()).times(2) == two explicit hops, path included.
    assert(GremlinLite.run(g, "g.V(1).repeat(out('in')).times(2).path()")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 3L, 4L)))
    // Fan-out: one row per path.
    val multi = PropertyGraph(g.vertices,
      Seq((1L, 3L, "in", 1), (1L, 4L, "owns", 1)).toDF("src", "dst", "label", "weight"))
    assert(GremlinLite.run(multi, "g.V(1).out().path()")
      .as[(Long, Long)].collect().toSet == Set((1L, 3L), (1L, 4L)))
    // Queries without path() stay untagged (no hidden history columns).
    assert(GremlinLite.run(g, "g.V(1).out('in').id()").columns.toSeq == Seq("id"))
    // Internal tag columns never leak into the caller-visible schema,
    // even when labeled but never selected.
    assert(GremlinLite.run(g, "g.V(1).as('u').out('in')").columns.toSeq ==
      Seq("id", "label", "key", "props"))
  }

  test("malformed queries throw IllegalArgumentException, never MatchError/NPE") {
    // Every parse/eval failure mode must surface as the documented
    // IllegalArgumentException (or IllegalState for traversal limits) —
    // a console typo should read as a syntax error, not a Scala crash.
    val bad = Seq(
      "", "g", "V().count()", "g.", "g.V", "g.V(", "g.V()).count()",
      "g.V().", "g.V().has('a'", "g.V().unknownStep()", "g.V().out('a','b')",
      "g.E().out()", "g.V().inV()", "g.V().where()", "g.V().where(out())",
      "g.V().repeat(out()).count()", "g.V().repeat(dedup()).times(2)",
      "g.V().groupCount()", "g.V().order().by('a','b')", "g.V().cap('x')",
      "g.V(u9).count()", "g.V().has('k','v','w')", "g.123()", "x.V()",
      "g.V().select('u')", "g.V().as('u','v')", "g.V().as('9bad')",
      "g.V().as('u').select()", "g.E().as('x')",
      "g.V().as('a').as('b').select('a','b').by('k').by('k').by('k')",
      "g.E().path()", "g.V().outE().path()", "g.V().path('x')",
      "g.V().valueMap().path()")
    bad.foreach { q =>
      val thrown = intercept[Exception](GremlinLite.run(g, q).collect())
      assert(thrown.isInstanceOf[IllegalArgumentException],
        s"query '$q' threw ${thrown.getClass.getSimpleName}: ${thrown.getMessage}")
    }
  }

  test("string query plans identically to the fluent API") {
    val viaText = GremlinLite.run(g,
      "g.V().hasLabel('user').has('email','user1@d').out('in').id()")
    val viaApi = g.ids(g.out(g.has("user", "email", "user1@d")))
    assert(viaText.collect().toSeq == viaApi.collect().toSeq)
  }

  test("repeat(out()).times(2): the README walk's canonical spelling") {
    val out = GremlinLite.run(g, "g.V(1).repeat(out('in')).times(2).values('email')")
      .as[String].collect().toSeq
    assert(out == Seq("gog1@d"))
    // equivalent to chaining .out().out()
    val chained = GremlinLite.run(g, "g.V(1).out('in').out('in').values('email')")
      .as[String].collect().toSeq
    assert(out == chained)
    val err = intercept[IllegalArgumentException] {
      GremlinLite.run(g, "g.V(1).repeat(out('in')).limit(1)")
    }
    assert(err.getMessage.contains("times"))
  }

  test("repeat().times(n>=8).dedup() takes the hopPower path and matches sequential hops") {
    // Ring 1→2→3→1 with a branch 1→4: cycles + fan-out, so exactly-n
    // semantics (not closure) are observable. n=9 ≡ 0 (mod 3) on the ring.
    val ring = PropertyGraph(
      (1L to 4L).map(i => (i, "n", i.toString, Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
        .map { case (s, d) => (s, d, "in", 1) }.toDF("src", "dst", "label", "weight"))
    for (n <- Seq(8, 9, 12)) {
      val doubled = GremlinLite.run(ring, s"g.V(1).repeat(out('in')).times($n).dedup().id()")
        .as[Long].collect().toSet
      // sequential twin: the fluent API's hop fold + distinct (bag→set)
      val seq = (1 to n).foldLeft(ring.hasLabel("n").filter(col("id") === 1): org.apache.spark.sql.DataFrame)(
        (d, _) => ring.valueMap(ring.out(d, None))).select("id").distinct()
        .as[Long].collect().toSet
      assert(doubled == seq, s"n=$n: doubling $doubled != sequential $seq")
    }
    // multiplicity-sensitive spellings stay on the sequential path:
    // without dedup() the walk bag (here: a count) must be preserved.
    val bag = GremlinLite.run(ring, "g.V(1).repeat(out('in')).times(9).count()")
      .as[Long].head()
    assert(bag == 1L) // exactly one 9-walk from 1 survives (the pure ring walk)
    // and below the threshold the dedup'd result is identical anyway
    val small = GremlinLite.run(ring, "g.V(1).repeat(out('in')).times(2).dedup().id()")
      .as[Long].collect().toSet
    assert(small == Set(3L))
  }

  test("limit and dedup; unsupported steps fail loudly") {
    assert(GremlinLite.run(g, "g.V().hasLabel('user').dedup().limit(1).id()")
      .as[Long].collect().length == 1)
    val err = intercept[IllegalArgumentException] {
      GremlinLite.run(g, "g.V().drop()")
    }
    assert(err.getMessage.contains("unsupported step drop"))
    intercept[IllegalArgumentException] { GremlinLite.run(g, "x.V()") }
    intercept[IllegalArgumentException] { GremlinLite.run(g, "g.V().bogus") }
  }

  test("wrong arities fail loudly instead of matching nothing") {
    // Gremlin's 3-arg has(label, key, value) form is not supported — it must
    // error, not silently filter props['user'] === 'email' to empty.
    val err = intercept[IllegalArgumentException] {
      GremlinLite.run(g, "g.V().has('user','email','user1@d')")
    }
    assert(err.getMessage.contains("has() takes 2"))
    // hasLabel is variadic (multi-label = isin) — but empty is an error.
    intercept[IllegalArgumentException] { GremlinLite.run(g, "g.V().hasLabel()") }
    intercept[IllegalArgumentException] { GremlinLite.run(g, "g.V().out('in','x')") }
  }
}
