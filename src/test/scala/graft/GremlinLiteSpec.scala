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
          "g.V().hasLabel('group').repeat(in('in')).emit().id()")) {
        val (small, rounds) = TestSpark.onBothPaths(TestSpark.rowsAndSchema(GremlinLite.run(rg, q)))
        assert(small == rounds, s"$q on edges $es")
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
        s"g.V(1).out().in()$untilP.emit()",                   // duplicate seed rows
        s"g.V().hasLabel('user')$untilP.emit()",              // a null seed id
        "g.V().hasLabel('user').repeat(out('in')).emit().valueMap()")) {
      val (small, rounds) = TestSpark.onBothPaths(TestSpark.rowsAndSchema(GremlinLite.run(eg, q)))
      assert(small == rounds, q)
    }
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
    def outcome(cg: PropertyGraph, q: String) =
      scala.util.Try(TestSpark.rowsAndSchema(GremlinLite.run(cg, q))).toEither
        .left.map(e => (e.getClass, e.getMessage))
    // each join-round run takes about a minute: one chain per modulator
    for ((stopInS1, q) <- Seq(true -> "g.V(-1).repeat(out('in')).until(hasLabel('project'))",
           false -> "g.V(-1).repeat(out('in')).emit()"); d <- Seq(63, 64)) {
      val cg = chain(d, stopInS1)
      val (small, rounds) = TestSpark.onBothPaths(outcome(cg, q))
      assert(small == rounds, s"$q at D = $d")
      if (d == 63) assert(small.exists(_._1.nonEmpty), s"$q at D = 63: $small")
      else assert(small.left.exists(_._2.contains("did not converge in 64 levels")),
        s"$q at D = 64: $small")
    }
  }

  test("console reach and who_can run at most 3 jobs and leave nothing cached") {
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
    val store = graft.sources.GraphStorage.load(spark, dir)
    val sc = spark.sparkContext
    def jobs(tag: String, q: String, binds: Map[String, Long] = Map.empty): Int = {
      sc.setJobGroup(tag, tag)
      try GremlinLite.run(store, q, binds).collect() finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      sc.statusTracker.getJobIdsForGroup(tag).length
    }
    // other suites' released RDDs may be cleaned meanwhile: no NEW id may appear
    val persisted = sc.getPersistentRDDs.keySet
    val entries = org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark)
    val small = graft.graph.Traversal.smallPathRuns.get
    val counts = (1 to 3).flatMap { i =>
      Seq(s"reach $i" -> jobs(s"reach-$i",
          s"g.V().hasLabel('user').has('email','u$i@d').repeat(out('in')).until(hasLabel('project')).emit()"),
        s"who_can $i" -> jobs(s"who_can-$i",
          s"g.V().hasLabel('bucket').has('name','b3${1 + i % 2}').repeat(in('in')).until(hasLabel('user'))"),
        s"lookup $i" -> jobs(s"lookup-$i",
          s"g.V().hasLabel('user').has('email','u$i@d').out('in').valueMap()"),
        s"guard $i" -> jobs(s"guard-$i", "g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()",
          Map("u1" -> i, "g1" -> (10L + i))))
    }
    assert(graft.graph.Traversal.smallPathRuns.get == small + 6, "reach/who_can left the small path")
    counts.foreach { case (q, n) => assert(n >= 1 && n <= 3, s"$q ran $n jobs: $counts") }
    assert(sc.getPersistentRDDs.keySet.subsetOf(persisted))
    assert(org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark) <= entries)
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
