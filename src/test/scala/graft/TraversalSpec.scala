package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Traversal

/** Golden + property tests for the traversal engine (SURVEY.md §5.2-5.3):
  * fixpoint ≡ naive in-memory closure on random graphs, cycle safety, and
  * the README.md:20-33 chain shape. Property inputs are generated with a
  * fixed seed (scalatestplus is not in the offline cache, so plain seeded
  * sampling stands in for ScalaCheck's forAll). */
class TraversalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edgesDF(es: Seq[(Long, Long)]) = es.toDF("src", "dst")

  private def naiveClosure(es: Seq[(Long, Long)], starts: Set[Long]): Set[(Long, Long)] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    starts.flatMap { s =>
      var seen = Set.empty[Long]
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
        seen ++= next
        frontier = next
      }
      seen.map(s -> _)
    }
  }

  test("flagship chain: user->group->group->role->project shape reaches the project") {
    // README.md:20-33 transposed: 1->2->3->4->5 linear chain.
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val out = Traversal.reachFix(e, Seq(1L).toDF("id"))
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
  }

  test("cycle safety: A in B, B in A terminates and emits (a,a) per WITH RECURSIVE UNION") {
    val e = edgesDF(Seq((1L, 2L), (2L, 1L)))
    val out = Traversal.reachFix(e, Seq(1L, 2L).toDF("id"))
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L)))
  }

  test("khop stamps first-discovery hop (shortest path)") {
    // 1->2->4, 1->3, 3->4: node 4 reachable at hop 2 two ways.
    val e = edgesDF(Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L)))
    val out = Traversal.khop(e, Seq(1L).toDF("id"), 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 2)))
  }

  test("khop emits cyclic (a,a) at cycle length") {
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val out = Traversal.khop(e, Seq(1L).toDF("id"), 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(out.contains((1L, 1L, 3)))
  }

  test("bfsDepth: multi-source min-hop; short path wins; cycles terminate") {
    TestSpark.onBothPaths {
      // 1 -> 2 -> 3 -> 4 and 1 -> 4 directly: 4's min depth is 1, not 3.
      // 5 <-> 6 cycle hangs off 4 (4 -> 5): cycle-safe, depths 2 and 3.
      val es = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L), (5L, 6L), (6L, 5L)))
      val d = Traversal.bfsDepth(es, Seq(1L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(d == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L, 6L -> 3L))
      // Multi-source: seeds {3, 1} — 4 still depth 1 (via 1), 5 depth 2.
      val d2 = Traversal.bfsDepth(es, Seq(3L, 1L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(d2(4L) == 1L && d2(3L) == 0L && d2(5L) == 2L)
      // Unreachable convergence guard: tiny maxIter on a longer graph throws.
      assertThrows[IllegalArgumentException] {
        Traversal.bfsDepth(es, Seq(1L).toDF("id"), maxIter = 1)
      }
      // Depth exactly an odd maxIter converges: the level past it is the
      // emptiness witness, not a round-limit failure.
      val star = edgesDF(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
      assert(Traversal.bfsDepth(star, Seq(1L).toDF("id"), maxIter = 1)
        .as[(Long, Long)].collect().toMap == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      val chain = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
      assert(Traversal.bfsDepth(chain, Seq(1L).toDF("id"), maxIter = 3)
        .as[(Long, Long)].collect().toMap == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
      assertThrows[IllegalArgumentException] {
        Traversal.bfsDepth(chain, Seq(1L).toDF("id"), maxIter = 2)
      }
    }
  }

  test("topoLayers: longest path wins over shortest; diamond re-relaxes; cycle throws") {
    // Diamond with a long arm: 1 -> 2 -> 3 -> 4 and 1 -> 4 directly.
    // BFS would stamp 4 at depth 1; the LAYER of 4 is 3 (longest path).
    // 4 -> 5 chains one further: 5's layer is 4.
    val es = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L)))
    val lay = Traversal.topoLayers(es).as[(Long, Long)].collect().toMap
    assert(lay == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L), s"got $lay")
    // Two sources at different arm lengths: 10 -> 11 -> 12, 20 -> 12 —
    // 12 takes the LONGER arm (layer 2); source 20 sits at 0.
    val l2 = Traversal.topoLayers(
      edgesDF(Seq((10L, 11L), (11L, 12L), (20L, 12L))))
      .as[(Long, Long)].collect().toMap
    assert(l2 == Map(10L -> 0L, 20L -> 0L, 11L -> 1L, 12L -> 2L), s"got $l2")
    // A cycle has no in-degree-0 source feeding it — relaxation can never
    // reach it, but a cycle REACHABLE from a source relaxes forever:
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayers(
        edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 2L))), maxIter = 8)
    }
    // A SOURCE-LESS cycle converges instantly with its vertices missing a
    // layer — the every-vertex-layered guard must throw, not return an
    // empty/partial layering:
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayers(edgesDF(Seq((1L, 2L), (2L, 1L))))
    }
    // ...including when a healthy sourced component sits NEXT TO the
    // source-less cycle (the partial-wrong-answer mode):
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayers(edgesDF(Seq((1L, 2L), (7L, 8L), (8L, 7L))))
    }
  }

  test("topoLayersDoubling: log-depth layering — 63-level chain in ≤7 rounds") {
    // 64-vertex path 0->1->...->63: critical path 63. The frontier form
    // needs ~32 probe jobs; max-plus squaring must do it in ⌈log₂ 63⌉+1=7
    // composition rounds (6 to cover depth 63, 1 to observe the fixpoint).
    val chain = edgesDF((0L until 63L).map(i => (i, i + 1)))
    var rounds = 0
    val lay = Traversal.topoLayersDoubling(chain, onRound = r => rounds = r)
      .as[(Long, Long)].collect().toMap
    assert(lay == (0L to 63L).map(i => i -> i).toMap)
    assert(rounds <= 7, s"expected ≤7 composition rounds, took $rounds")
    // agreement with the frontier form on a branchy DAG (diamond + tail)
    val dag = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L)))
    val dbl = Traversal.topoLayersDoubling(dag).as[(Long, Long)].collect().toMap
    assert(dbl == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L), s"got $dbl")
    // cycles throw via the self-pair guard — sourced or source-less alike
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayersDoubling(edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 2L))))
    }
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayersDoubling(edgesDF(Seq((1L, 2L), (7L, 8L), (8L, 7L))))
    }
  }

  test("topoLayers auto-switches to doubling past switchDepth, same answer") {
    // depth-40 chain with switchDepth=4: the frontier loop hands off to
    // doubling after 4 levels and the result must be identical
    val chain = edgesDF((0L until 40L).map(i => (i, i + 1)))
    val lay = Traversal.topoLayers(chain, maxIter = 64, switchDepth = 4)
      .as[(Long, Long)].collect().toMap
    assert(lay == (0L to 40L).map(i => i -> i).toMap)
    // a cycle fed by a source still throws on the doubling path
    assertThrows[IllegalArgumentException] {
      Traversal.topoLayers(
        edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 2L))), maxIter = 64, switchDepth = 2)
    }
  }

  test("reachFix throws instead of silently truncating") {
    TestSpark.onBothPaths {
      val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      assertThrows[IllegalStateException] {
        Traversal.reachFix(e, Seq(1L).toDF("id"), maxIter = 2).count()
      }
      // the throw frees every cut the call made, the prepped edge layout
      // included (no ids are new; the ContextCleaner may drop older ones)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added.isEmpty, s"persisted RDDs left by the failed call: $added")
    }
  }

  test("reachFix plans grow linearly in rounds, not exponentially") {
    TestSpark.onBothPaths {
      // Each round's relation is cut, so the returned frame's analyzed plan
      // is a union of one leaf per round. Caching alone (persist) skips
      // re-execution but not re-analysis: the plan then doubles per round
      // (thousands of lines at 6 hops, minutes of analysis at 8).
      val hops = 6
      val chain = edgesDF((0L until hops.toLong).map(i => (i, i + 1)))
      def lines(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.analyzed.treeString.split("\n").length
      val reach = Traversal.reachFix(chain, Seq(0L).toDF("id"))
      assert(reach.count() == hops)
      // hops productive rounds plus the empty round that converges
      val rounds = hops + 1
      assert(lines(reach) <= 4 * rounds + 8, reach.queryExecution.analyzed.treeString)
    }
  }

  test("khop and hopPower release their per-round cuts: each call leaves only its result") {
    val sc = spark.sparkContext
    val chain = edgesDF((0L until 6L).map(i => (i, i + 1)))
    for (_ <- 1 to 3) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val k = Traversal.khop(chain, Seq(0L).toDF("id"), 4)
      assert(k.count() == 4)
      val h = Traversal.hopPower(chain, 5)
      assert(h.as[(Long, Long)].collect().toSet == Set((0L, 5L), (1L, 6L)))
      val results = Set(k, h).map(org.apache.spark.sql.graft.CheckpointUtil.rddId)
      assert(sc.getPersistentRDDs.keySet.toSet -- before == results)
      results.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
    }
  }

  test("bfsDepth, topoLayers and reachFix release their prepped edges: only the cuts the result reads stay") {
    TestSpark.onBothPaths {
      val sc = spark.sparkContext
      val chain = edgesDF((0L until 6L).map(i => (i, i + 1)))
      def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
        df.queryExecution.logical.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }.toSet
      for ((run, rows) <- Seq[(() => org.apache.spark.sql.DataFrame, Long)](
          (() => Traversal.bfsDepth(chain, Seq(0L).toDF("id")), 7L),
          (() => Traversal.topoLayers(chain), 7L),
          (() => Traversal.reachFix(chain, Seq(0L).toDF("id")), 6L))) {
        val before = sc.getPersistentRDDs.keySet.toSet
        val out = run()
        assert(out.count() == rows)
        val left = sc.getPersistentRDDs.keySet.toSet -- before
        assert(left.subsetOf(leaves(out)), s"persisted but not read by the result: ${left -- leaves(out)}")
        left.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
      }
    }
  }

  test("property: the small-relation path equals the join rounds on seeded random graphs") {
    // cycles, self-loops, duplicate edges, a start id no edge touches,
    // duplicate and null start ids; Long, Int and mixed id types; at the
    // spec's 4 shuffle partitions, at 1, and at 2N + 1 = 9 (N = 4 cores)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val rnd = new scala.util.Random(2026)
    val idTypes = Seq(LongType -> LongType, IntegerType -> IntegerType,
      IntegerType -> LongType, LongType -> IntegerType) // (edge ids, start ids)
    for (parts <- Seq("4", "1", "9"); (edgeType, startType) <- idTypes) {
      val n = 3 + rnd.nextInt(10)
      val drawn = Seq.fill(2 + rnd.nextInt(25))((rnd.nextLong(n), rnd.nextLong(n)))
      val es = drawn :+ drawn.head :+ ((n - 1L, n - 1L))
      val starts = Seq(Some(rnd.nextLong(n)), Some(0L), Some(0L), Some(n + 50L), None)
      val e = es.toDF("src", "dst")
        .select(col("src").cast(edgeType).as("src"), col("dst").cast(edgeType).as("dst"))
      val s = starts.toDF("id").select(col("id").cast(startType).as("id"))
      GateSupport.withConfs(spark, "spark.sql.shuffle.partitions" -> parts) {
        for ((alg, run) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
            "reachFix" -> (() => Traversal.reachFix(e, s)),
            "reachFix(dedupStart = false)" -> (() => Traversal.reachFix(e, s, dedupStart = false)),
            "closureDoubling" -> (() => Traversal.closureDoubling(e)),
            "bfsDepth" -> (() => Traversal.bfsDepth(e, s)))) {
          val (small, rounds) = TestSpark.onBothPaths(TestSpark.rowsAndSchema(run()))
          assert(small == rounds,
            s"$alg, $parts partitions, ids $edgeType/$startType, edges $es, starts $starts")
        }
      }
    }
  }

  test("round limits: the small-relation path throws exactly when the join rounds do") {
    val sc = spark.sparkContext
    /** The call's rows, or its error's class and message; a throw must
      * leave no new persisted RDD behind, a result only its own cut. */
    def outcome(run: => org.apache.spark.sql.DataFrame): Either[(Class[_], String), Seq[String]] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out =
        try Right(run.collect().map(_.toString).sorted.toSeq)
        catch { case t: RuntimeException => Left((t.getClass, t.getMessage)) }
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      if (out.isLeft) assert(added.isEmpty, s"persisted RDDs left by the failed call: $added")
      added.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
      out
    }
    val graphs = Seq(
      "chain of 4" -> (1L to 4L).map(i => (i, i + 1)),
      "chain of 5" -> (1L to 5L).map(i => (i, i + 1)),
      "chain of 10" -> (1L to 10L).map(i => (i, i + 1)),
      "star" -> (2L to 5L).map(i => (1L, i)),
      "4-cycle" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    val thrown = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((name, es) <- graphs; maxIter <- 1 to 6) {
      val e = edgesDF(es)
      val start = Seq(1L).toDF("id")
      for ((alg, run) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "reachFix" -> (() => Traversal.reachFix(e, start, maxIter)),
          "closureDoubling" -> (() => Traversal.closureDoubling(e, maxIter)),
          "bfsDepth" -> (() => Traversal.bfsDepth(e, start, maxIter)))) {
        val (small, rounds) = TestSpark.onBothPaths(outcome(run()))
        assert(small == rounds, s"$alg on the $name at maxIter $maxIter")
        if (small.isLeft) thrown(alg) += 1
      }
    }
    // every algorithm hit its limit somewhere, and converged somewhere
    assert(thrown.keySet == Set("reachFix", "closureDoubling", "bfsDepth") &&
      thrown.values.forall(_ < graphs.length * 6), s"throws per algorithm: $thrown")
  }

  test("the small-relation path keeps no state: repeated calls leave only their result cuts") {
    val sc = spark.sparkContext
    val chain = edgesDF((0L until 6L).map(i => (i, i + 1)))
    for (_ <- 1 to 3) {
      val runs = Traversal.smallPathRuns.get
      val before = sc.getPersistentRDDs.keySet.toSet
      val entries = org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark)
      val outs = Seq(Traversal.reachFix(chain, Seq(0L).toDF("id")),
        Traversal.closureDoubling(chain), Traversal.bfsDepth(chain, Seq(0L).toDF("id")))
      assert(outs.map(_.count()) == Seq(6L, 21L, 7L))
      assert(Traversal.smallPathRuns.get == runs + 3)
      val results = outs.map(org.apache.spark.sql.graft.CheckpointUtil.rddId).toSet
      assert(sc.getPersistentRDDs.keySet.toSet -- before == results)
      assert(org.apache.spark.sql.graft.CheckpointUtil.cachedEntries(spark) == entries)
      results.foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
    }
  }

  /** canonical per vertex via the r4 all-pairs closure form (the shape
    * minLabel replaces) — ground truth for the equivalence tests. */
  private def closureCanonical(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val nodes = und.map(_._1).toSet
    naiveClosure(und, nodes).groupBy(_._1)
      .map { case (o, reach) => o -> math.min(o, reach.map(_._2).min) }
  }

  test("minLabel equals the all-pairs-closure canonical on a large chained cluster") {
    // One 60-doc chain (the LSH cross-bucket chaining shape that defeats
    // per-bucket caps), one triangle, one isolated pair. Chain diameter 59
    // exercises the pointer-jumping path: plain propagation needs 59
    // rounds, jumping converges well inside maxIter = 16.
    val chain = (1L until 60L).map(i => (i, i + 1))
    val pairs = chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    // smallCutoff = 0 forces the DISTRIBUTED rounds (the 100 TB path);
    // the default exercises the size-guarded driver union-find. Both
    // must equal the closure ground truth.
    val got = Traversal.minLabel(edgesDF(pairs), maxIter = 16, smallCutoff = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got == closureCanonical(pairs))
    assert(got(60L) == 1L && got(102L) == 100L && got(201L) == 200L)
    val gotSmall = Traversal.minLabel(edgesDF(pairs), maxIter = 16)
      .as[(Long, Long)].collect().toMap
    assert(gotSmall == got)
  }

  test("property: minLabel equals closure canonical on 15 seeded random pair graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 15).foreach { _ =>
      val n = 2 + rnd.nextInt(30)
      val m = 1 + rnd.nextInt(40)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        // Alternate paths: even graphs force the distributed rounds,
        // odd take the driver union-find — both against ground truth.
        val cutoff = if (es.size % 2 == 0) 0L else 1000000L
        val got = Traversal.minLabel(edgesDF(es), smallCutoff = cutoff)
          .as[(Long, Long)].collect().toMap
        assert(got == closureCanonical(es), s"pairs=$es")
      }
    }
  }

  test("minLabel on empty input returns empty labeling") {
    val got = Traversal.minLabel(edgesDF(Seq.empty))
    assert(got.count() == 0)
  }

  test("minLabel on string ids falls through the driver shortcut to the distributed rounds") {
    // The driver union-find needs integral ids; string-keyed graphs must
    // take the type-generic distributed path even under the cutoff, and
    // keep the input id type in the output.
    val es = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val got = Traversal.minLabel(es).as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("minLabel driver shortcut preserves an integer id type in the output schema") {
    val es = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val out = Traversal.minLabel(es)
    assert(out.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.IntegerType))
    assert(out.as[(Int, Int)].collect().toMap == Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("defaultSmallCutoff is positive and capped at 1M") {
    assert(Traversal.defaultSmallCutoff > 0 && Traversal.defaultSmallCutoff <= 1000000L)
  }

  test("property: fixpoint equals naive closure on 15 seeded random graphs (cycles included)") {
    val rnd = new scala.util.Random(42)
    (1 to 15).foreach { _ =>
      val n = 2 + rnd.nextInt(10)
      val m = 1 + rnd.nextInt(28)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val got = Traversal.reachFix(edgesDF(es), nodes.toDF("id"), maxIter = 64)
        .as[(Long, Long)].collect().toSet
      assert(got == naiveClosure(es, nodes.toSet), s"edges=$es")
    }
  }

  test("sssp: weighted shortest paths beat hop-count paths; cycles converge; guards fire") {
    // cheapest route to 2 takes MORE hops (1->3->2 costs 2 vs direct 10):
    // weighted relaxation must disagree with BFS here. Cycle 2->1 included.
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 1L, 1L), (4L, 5L, 2L))
      .toDF("src", "dst", "w")
    val got = Traversal.sssp(e, Seq(1L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 1L)) // 4,5 unreachable
    // multi-source: min over seeds
    val multi = Traversal.sssp(e, Seq(1L, 4L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 0L, 5L -> 2L))
    // a seed reached cheaper through the graph keeps distance 0 (it's a source)
    val seeded = Traversal.sssp(e, Seq(2L).toDF("id")).as[(Long, Long)].collect().toMap
    assert(seeded(2L) == 0L && seeded(1L) == 1L && seeded(3L) == 2L)
    // negative weights rejected loudly
    assertThrows[IllegalArgumentException](
      Traversal.sssp(Seq((1L, 2L, -1L)).toDF("src", "dst", "w"), Seq(1L).toDF("id")))
  }

  test("reliable-checkpoint mode yields identical results across the iterative family") {
    // Opt-in path for cluster-scale executor-loss survival: same loops,
    // same answers, lineage cuts write to the checkpoint dir instead of
    // executor storage.
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
    val defaultClosure = Traversal.closureDoubling(edgesDF(es)).as[(Long, Long)].collect().toSet
    val defaultLabels = Traversal.minLabel(edgesDF(es), smallCutoff = 0)
      .as[(Long, Long)].collect().toSet
    val defaultPower = Traversal.hopPower(edgesDF(es), 5).as[(Long, Long)].collect().toSet
    val start = Seq(1L, 5L).toDF("id")
    val defaultReach = Traversal.reachFix(edgesDF(es), start).as[(Long, Long)].collect().toSet
    val defaultKhop = Traversal.khop(edgesDF(es), start, 3).as[(Long, Long, Int)].collect().toSet
    val defaultDepth = Traversal.bfsDepth(edgesDF(es), start).as[(Long, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      assert(Traversal.closureDoubling(edgesDF(es)).as[(Long, Long)].collect().toSet
        == defaultClosure)
      assert(Traversal.minLabel(edgesDF(es), smallCutoff = 0)
        .as[(Long, Long)].collect().toSet == defaultLabels)
      assert(Traversal.hopPower(edgesDF(es), 5).as[(Long, Long)].collect().toSet
        == defaultPower)
      assert(Traversal.reachFix(edgesDF(es), start).as[(Long, Long)].collect().toSet
        == defaultReach)
      assert(Traversal.khop(edgesDF(es), start, 3).as[(Long, Long, Int)].collect().toSet
        == defaultKhop)
      assert(Traversal.bfsDepth(edgesDF(es), start).as[(Long, Long)].collect().toSet
        == defaultDepth)
      // the reliable path really wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode produced no checkpoint files")
    } finally spark.conf.set("graft.checkpoint.reliable", "false")
    // misconfiguration fails loudly: reliable=true without a checkpoint
    // dir is caught by cut()'s require (dir is already set here, so pin
    // the message path via a fresh conf check instead of a broken state)
  }

  test("property: hopPower equals the n-fold naive compose on seeded random graphs") {
    val rnd = new scala.util.Random(777)
    (1 to 8).foreach { _ =>
      val n = 2 + rnd.nextInt(8)
      val m = 1 + rnd.nextInt(20)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      // naive R^k: k-1 set-composes of the pair relation
      val r1 = es.toSet
      def comp(a: Set[(Long, Long)], b: Set[(Long, Long)]) =
        for { (s, x) <- a; (y, d) <- b if x == y } yield (s, d)
      for (k <- Seq(1, 2, 3, 5, 9)) {
        val want = (2 to k).foldLeft(r1)((acc, _) => comp(acc, r1))
        val got = Traversal.hopPower(edgesDF(es), k).as[(Long, Long)].collect().toSet
        assert(got == want, s"k=$k edges=$es")
      }
    }
  }

  test("property: closureDoubling equals naive closure on 15 seeded random graphs") {
    val rnd = new scala.util.Random(1234)
    (1 to 15).foreach { _ =>
      val n = 2 + rnd.nextInt(10)
      val m = 1 + rnd.nextInt(28)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val got = Traversal.closureDoubling(edgesDF(es))
        .as[(Long, Long)].collect().toSet
      assert(got == naiveClosure(es, nodes.toSet), s"edges=$es")
    }
  }

  test("scc: two cycles joined by a one-way bridge stay separate components") {
    // 1↔2↔3 cycle, 4↔5 cycle, bridge 3→4 (one-way), isolated sink 6.
    // Both branches of the trim+core split must agree: driver Tarjan
    // (default cutoff) and the distributed closure (cutoff forced 0).
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L), (3L, 4L), (5L, 6L)))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)
    assert(Traversal.scc(e).as[(Long, Long)].collect().toMap == want)
    Traversal.sccCutoff = Some(0L)
    try assert(Traversal.scc(e).as[(Long, Long)].collect().toMap == want,
      "distributed branch diverged from driver Tarjan")
    finally Traversal.sccCutoff = None
  }

  test("property: scc equals the naive co-reachability labeling on 15 seeded graphs (both branches)") {
    val rnd = new scala.util.Random(4242)
    (1 to 15).foreach { trial =>
      val n = 2 + rnd.nextInt(9)
      val m = 1 + rnd.nextInt(24)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val nodes = es.flatMap(e => Seq(e._1, e._2)).toSet
      val closure = naiveClosure(es, nodes)
      val want = nodes.map { v =>
        val co = nodes.filter(u => closure((v, u)) && closure((u, v))) + v
        v -> co.min
      }.toMap
      // odd trials force the distributed closure branch so the seeded
      // graphs (self-loops, multi-SCC, isolated fringes) cover it too
      Traversal.sccCutoff = if (trial % 2 == 1) Some(0L) else None
      try {
        val got = Traversal.scc(edgesDF(es)).as[(Long, Long)].collect().toMap
        assert(got == want, s"edges=$es cutoff=${Traversal.sccCutoff}")
      } finally Traversal.sccCutoff = None
    }
  }

  test("property: SQL WITH RECURSIVE equals closureDoubling on 10 seeded DAGs (a25 cross-surface)") {
    // The a25 gate's claim certified off the gate corpus: the SQL
    // surface's UnionLoop path enumeration (+ final DISTINCT) and the
    // library's semi-naive doubling closure must produce the same SET on
    // any DAG. Edges only go low→high so the seeded graphs are acyclic
    // by construction (diamonds and multi-path fan-ins included — the
    // path-multiplicity cases where the two algorithms differ most).
    val rnd = new scala.util.Random(2626)
    (1 to 10).foreach { trial =>
      val n = 3 + rnd.nextInt(8)
      val m = 2 + rnd.nextInt(20)
      val es = Seq.fill(m) {
        val a = rnd.nextInt(n - 1); val b = a + 1 + rnd.nextInt(n - a - 1)
        (a.toLong, b.toLong)
      }.distinct
      edgesDF(es).createOrReplaceTempView("rec_edges_prop")
      val viaSql = spark.sql(
        """WITH RECURSIVE reach(origin, node) AS (
          |  SELECT src, dst FROM rec_edges_prop
          |  UNION ALL
          |  SELECT r.origin, e.dst FROM reach r JOIN rec_edges_prop e ON r.node = e.src
          |)
          |SELECT DISTINCT origin, node FROM reach""".stripMargin)
        .as[(Long, Long)].collect().toSet
      val viaLib = Traversal.closureDoubling(edgesDF(es))
        .as[(Long, Long)].collect().toSet
      assert(viaSql == viaLib, s"trial $trial edges=$es")
    }
  }

  test("SQL WITH RECURSIVE on a CYCLE hits the level limit where closureDoubling converges") {
    // The scale-path argument of PLANS.md §a25 as a executable fact:
    // UnionLoop has no per-level dedup, so a 3-cycle enumerates paths
    // forever and trips the scoped recursion level limit, while the
    // library closure is cycle-safe in ⌈log₂ d⌉ rounds on the same input.
    val cyc = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(Traversal.closureDoubling(cyc).as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (1L, 3L), (1L, 1L), (2L, 3L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 2L), (3L, 3L)))
    cyc.createOrReplaceTempView("rec_edges_cyc")
    GateSupport.withConfs(spark, "spark.sql.cteRecursionLevelLimit" -> "20") {
      val ex = intercept[Exception] {
        spark.sql(
          """WITH RECURSIVE reach(origin, node) AS (
            |  SELECT src, dst FROM rec_edges_cyc
            |  UNION ALL
            |  SELECT r.origin, e.dst FROM reach r JOIN rec_edges_cyc e ON r.node = e.src
            |)
            |SELECT DISTINCT origin, node FROM reach""".stripMargin).collect()
      }
      assert(ex.getMessage.toLowerCase.contains("recursion"),
        s"expected the recursion level limit to fire, got: ${ex.getMessage}")
    }
  }

  test("kTruss: bridge between two triangles peels; supports reflect the final subgraph") {
    // triangle 1-2-3, triangle 4-5-6, bridge 3-4 (in no triangle)
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
    val out = Traversal.kTruss(e, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L)))
    // k=4 on a single triangle: every edge has support 1 < 2 → empty
    assert(Traversal.kTruss(edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L))), k = 4).isEmpty)
  }

  test("property: kTruss equals the naive peel on 12 seeded random graphs") {
    val rnd = new scala.util.Random(555)
    (1 to 12).foreach { _ =>
      val n = 3 + rnd.nextInt(9)
      val m = 2 + rnd.nextInt(30)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .map { case (a, b) => (a min b, a max b) }.filter(e => e._1 != e._2).distinct
      val k = 3 + rnd.nextInt(2)
      // naive peel
      var cur = es.toSet
      var changed = true
      def support(s: Set[(Long, Long)], e: (Long, Long)): Int = {
        def nbr(v: Long) = s.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }
        (nbr(e._1) & nbr(e._2)).size
      }
      while (changed) {
        val keep = cur.filter(e => support(cur, e) >= k - 2)
        changed = keep != cur
        cur = keep
      }
      val want = cur.map(e => (e._1, e._2, support(cur, e).toLong))
      val got = Traversal.kTruss(edgesDF(es), k)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"k=$k edges=$es")
    }
  }

  test("property: Luby MIS is independent, maximal, partition-invariant on 10 seeded graphs") {
    val rnd = new scala.util.Random(2026)
    (1 to 10).foreach { _ =>
      val n = 2 + rnd.nextInt(10)
      val m = 1 + rnd.nextInt(26)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val und = (es ++ es.map(_.swap)).filter(e => e._1 != e._2).toSet
      val out = Traversal.maximalIndependentSet(edgesDF(es))
        .as[(Long, Boolean)].collect().toMap
      val verts = es.flatMap(e => Seq(e._1, e._2)).toSet
      assert(out.keySet == verts, s"edges=$es")
      val mis = out.filter(_._2).keySet
      // independent: no edge inside the set
      assert(!und.exists(e => mis(e._1) && mis(e._2)), s"edges=$es mis=$mis")
      // maximal: every OUT vertex has an IN neighbor
      (verts -- mis).foreach { v =>
        assert(und.exists(e => e._1 == v && mis(e._2)), s"v=$v edges=$es mis=$mis")
      }
      // deterministic under repartitioning
      val re = Traversal.maximalIndependentSet(edgesDF(es).repartition(7))
        .as[(Long, Boolean)].collect().toMap
      assert(re == out, s"edges=$es")
    }
  }

  test("MIS: self-loop-only vertices count as isolated and join the set") {
    val out = Traversal.maximalIndependentSet(edgesDF(Seq((1L, 1L), (2L, 3L))))
      .as[(Long, Boolean)].collect().toMap
    assert(out(1L)) // isolated after self-loop drop
    assert(Seq(out(2L), out(3L)).count(identity) == 1) // exactly one of the pair wins
  }

  test("neighborhoodFunction: path graph distance histogram, exact and cumulative") {
    // Undirected path 1—2—3—4: distances 1:3 pairs×2, 2:2×2, 3:1×2.
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val und = es ++ es.map(_.swap)
    val out = Traversal.neighborhoodFunction(edgesDF(und), maxHop = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 4L, 4L), (1L, 6L, 10L), (2L, 4L, 14L), (3L, 2L, 16L)))
  }

  test("hyperBall matches the exact neighborhood function on small graphs (HLL exact regime)") {
    val rnd = new scala.util.Random(99)
    val n = 12
    val es = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .distinct.filter(e => e._1 != e._2)
    val exact = Traversal.neighborhoodFunction(edgesDF(es), maxHop = 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val est = Traversal.hyperBall(edgesDF(es), maxHop = 8)
      .as[(Long, Long)].collect().toMap
    // Below the HLL sparse-mode threshold the sketch is exact, so the
    // curves agree bit-for-bit where the exact one has rows (it stops at
    // the diameter; hyperBall keeps emitting the converged value).
    exact.foreach { case (hop, cum) => assert(est(hop) == cum, s"hop=$hop") }
    val maxExact = exact.keys.max
    (maxExact to 8L).foreach(h => assert(est(h) == exact(maxExact)))
  }

  test("closureDoubling: deep chain converges in log rounds; maxIter guard throws") {
    // 64-vertex chain: diameter 63 — reachFix needs 64 rounds, doubling 7.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val out = Traversal.closureDoubling(edgesDF(chain), maxIter = 8)
    assert(out.count() == 64L * 63L / 2) // all (i, j) with i < j
    assertThrows[IllegalStateException] {
      Traversal.closureDoubling(edgesDF(chain), maxIter = 3).count()
    }
  }

  /** In-memory reference peel for kCore: symmetrize+distinct, then delete
    * under-degree vertices until stable; returns (vertex, core degree). */
  private def naiveKCore(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = es.flatMap(e => Seq(e, e.swap)).distinct
    var changed = true
    while (changed) {
      val deg = und.groupBy(_._1).map { case (v, l) => v -> l.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = und.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != und.size
      und = next
    }
    und.groupBy(_._1).map { case (v, l) => v -> l.size.toLong }
  }

  test("kCore: cascade peel — leaf chain hanging off a triangle strips hop by hop") {
    // triangle 1-2-3 (every vertex undirected degree 2) + tail 3->4->5->6.
    // k=2: 6 is degree-1 -> removed; then 5, then 4 — the cascade — while
    // the triangle survives with in-core degree 2 each.
    val e = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val out = Traversal.kCore(e, k = 2).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree: the whole graph peels away.
    assert(Traversal.kCore(e, k = 3).isEmpty)
  }

  test("property: kCore equals the naive peel on 15 seeded random graphs") {
    val rnd = new scala.util.Random(2029)
    (1 to 15).foreach { _ =>
      val n = 4 + rnd.nextInt(10)
      val es = Seq.fill(6 + rnd.nextInt(24))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2) // the store has no self-loops; keep parity simple
      val k = 2 + rnd.nextInt(2)
      val got = Traversal.kCore(edgesDF(es), k).as[(Long, Long)].collect().toMap
      assert(got == naiveKCore(es, k), s"kCore mismatch on edges=$es k=$k")
    }
  }

  test("kCore assumeDistinct fast path equals the default on an antisymmetric graph") {
    // DAG (no reverse pairs, distinct rows) — exactly the store's contract.
    val dag = edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (2L, 4L), (1L, 4L)))
    val a = Traversal.kCore(dag, k = 2).as[(Long, Long)].collect().toMap
    val b = Traversal.kCore(dag, k = 2, assumeDistinct = true).as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("negativeSample: deterministic, rejection-correct, unigram-weighted") {
    val es = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (2L, 20L), (4L, 30L))
    val edgeSet = es.toSet
    val run = () => Traversal.negativeSample(edgesDF(es), k = 4, shards = 4)
      .as[(Long, Int, Long)].collect().toSet
    val out = run()
    assert(out == run())                             // pure function of the edge set
    assert(out.forall { case (s, _, n) => !edgeSet.contains((s, n)) && s != n })
    assert(out.forall { case (_, d, _) => d >= 0 && d < 4 })
    // negatives come from the dst multiset only (unigram support)
    val dsts = es.map(_._2).toSet
    assert(out.forall { case (_, _, n) => dsts.contains(n) })
    // ≤ k draws per src; rejection may legitimately empty a src (src 1's
    // neighbors {10, 20} cover 5 of the 6 dictionary positions, so all 4
    // of its draws CAN reject — no resampling by contract)
    val bySrc = out.groupBy(_._1)
    assert(bySrc.values.forall(_.size <= 4))
    assert(bySrc.keySet.subsetOf(Set(1L, 2L, 3L, 4L)) && out.nonEmpty)
  }

  test("labelPropagation: cliques unify on one label, deterministically") {
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3–10.
    // Min tie-break means low labels CAN invade across the bridge (on
    // round 1 vertex 10 sees three singleton labels {11,12,3} and takes
    // 3) — the guaranteed properties are per-clique agreement and
    // run-to-run determinism, not which label wins.
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val run = () => Traversal.labelPropagation(edgesDF(es), rounds = 4)
      .as[(Long, Long)].collect().toMap
    val got = run()
    assert(got == run())
    assert(got.filterKeys(Set(1L, 2L, 3L).contains).values.toSet == Set(1L))
    assert(got.filterKeys(Set(10L, 11L, 12L).contains).values.toSet.size == 1)
  }

  test("labelPropagation: self-loop-only vertex keeps labeling itself") {
    val got = Traversal.labelPropagation(edgesDF(Seq((1L, 2L), (7L, 7L))), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got(7L) == 7L && got.contains(1L) && got.contains(2L))
  }

  test("stressCentrality and neighborhoodFunction: exact counts on path graphs") {
    def sym(es: Seq[(Long, Long)]) = es ++ es.map(_.swap)
    // path 41–42–43–44: interior vertices carry 2·(ordered pairs through)
    val stress = Traversal.stressCentrality(
      edgesDF(sym(Seq((41L, 42L), (42L, 43L), (43L, 44L)))), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(stress == Map(41L -> 0L, 42L -> 4L, 43L -> 4L, 44L -> 0L))

    // directed path 51→52→53→54, maxHop 3: N(0)=4 self-pairs,
    // +3 at hop 1, +2 at hop 2, +1 at hop 3
    val nf = Traversal.neighborhoodFunction(
      edgesDF(Seq((51L, 52L), (52L, 53L), (53L, 54L))), maxHop = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(nf == Map(0L -> (4L, 4L), 1L -> (3L, 7L), 2L -> (2L, 9L), 3L -> (1L, 10L)))
  }

  test("harmonicCentrality exact values; hyperBall twin matches in the exact regime") {
    // path 1→2→3: H(1) = 1/1 + 1/2, H(2) = 1/1, H(3) = 0 (micro units)
    val es = Seq((1L, 2L), (2L, 3L))
    val exact = Traversal.harmonicCentrality(edgesDF(es), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(exact == Map(1L -> 1500000L, 2L -> 1000000L, 3L -> 0L))
    val est = Traversal.hyperBallCentrality(edgesDF(es), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(est == exact) // tiny balls sit in the HLL exact regime
  }

  test("stressCentrality: path, star, and multi-path counts are exact") {
    def sym(es: Seq[(Long, Long)]) = es ++ es.map(_.swap)
    // path 1–2–3: only ordered pairs (1,3),(3,1) pass through 2
    val p = Traversal.stressCentrality(edgesDF(sym(Seq((1L, 2L), (2L, 3L)))), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(p == Map(1L -> 0L, 2L -> 2L, 3L -> 0L))
    // star: center carries every ordered leaf pair = 3·2
    val s = Traversal.stressCentrality(
      edgesDF(sym(Seq((9L, 1L), (9L, 2L), (9L, 3L)))), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(s == Map(9L -> 6L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // 4-cycle 1–2–3–4–1: each vertex is interior to exactly one of the
    // two shortest paths of each opposite ordered pair → stress 2; and
    // σ composition must count BOTH diagonal paths (σ(1,3) = 2) without
    // inflating interior counts.
    val c = Traversal.stressCentrality(
      edgesDF(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(c == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // odd maxHop bounds the sweep: on path 1–…–5 the distance-4 pairs
    // (1,5),(5,1) are beyond maxHop = 3 and add no stress
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val b = Traversal.stressCentrality(edgesDF(path), maxHop = 3)
      .as[(Long, Long)].collect().toMap
    assert(b == Map(1L -> 0L, 2L -> 4L, 3L -> 6L, 4L -> 4L, 5L -> 0L))
  }

  test("stressCentrality: duplicate edges do not double path counts") {
    val es = Seq((1L, 2L), (2L, 3L), (1L, 2L)) // doubled 1–2
    val got = Traversal.stressCentrality(
      edgesDF(es ++ es.map(_.swap)), maxHop = 4)
      .as[(Long, Long)].collect().toMap
    assert(got(2L) == 2L)
  }

  test("stressCentralitySampled: sampleMod=1 reproduces the exact counts") {
    val rnd = new scala.util.Random(4101)
    for (_ <- 1 to 5) {
      val es0 = (1 to 24).map(_ => (rnd.nextInt(9).toLong, rnd.nextInt(9).toLong))
        .filter(p => p._1 != p._2).distinct
      val es = es0 ++ es0.map(_.swap)
      val exact = Traversal.stressCentrality(edgesDF(es), maxHop = 6)
        .as[(Long, Long)].collect().toMap
      val samp = Traversal.stressCentralitySampled(edgesDF(es), maxHop = 6,
        sampleMod = 1).as[(Long, Long, Long, Long)].collect()
      samp.foreach { case (id, raw, nS, nAll) =>
        assert(nS == nAll, "sampleMod=1 must sample every source")
        assert(raw == exact(id), s"vertex $id: raw $raw != exact ${exact(id)}")
      }
    }
  }

  test("property: negativeSample invariants hold on 10 seeded random graphs") {
    val rnd = new scala.util.Random(2031)
    (1 to 10).foreach { _ =>
      val n = 5 + rnd.nextInt(12)
      val es = Seq.fill(8 + rnd.nextInt(30))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        val edgeSet = es.toSet
        val dsts = es.map(_._2).toSet
        val k = 1 + rnd.nextInt(4)
        val out = Traversal.negativeSample(edgesDF(es), k)
          .as[(Long, Int, Long)].collect()
        assert(out.forall { case (s, d, neg) =>
          !edgeSet.contains((s, neg)) && s != neg && dsts.contains(neg) &&
            d >= 0 && d < k
        }, s"invariant broken on edges=$es k=$k")
        assert(out.groupBy(r => (r._1, r._2)).values.forall(_.length == 1),
          s"duplicate (src, draw) on edges=$es k=$k")
      }
    }
  }

  test("property: labelPropagation equals a naive sync replay on 10 seeded graphs") {
    def naiveLpa(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val und = (es ++ es.map(_.swap)).filter(e => e._1 != e._2).distinct
      val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val verts = (es.map(_._1) ++ es.map(_._2)).distinct
      var labels = verts.map(v => v -> v).toMap
      (1 to rounds).foreach { _ =>
        labels = verts.map { v =>
          adj.get(v) match {
            case Some(nbrs) if nbrs.nonEmpty =>
              val counts = nbrs.groupBy(labels).map { case (l, xs) => l -> xs.size }
              v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
            case _ => v -> labels(v)
          }
        }.toMap
      }
      labels
    }
    val rnd = new scala.util.Random(2032)
    (1 to 10).foreach { _ =>
      val n = 4 + rnd.nextInt(10)
      val es = Seq.fill(5 + rnd.nextInt(20))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct
      val rounds = 1 + rnd.nextInt(4)
      val got = Traversal.labelPropagation(edgesDF(es), rounds)
        .as[(Long, Long)].collect().toMap
      assert(got == naiveLpa(es, rounds), s"LPA mismatch on edges=$es rounds=$rounds")
    }
  }

  test("property: hitsFixed equals a naive integer replay on 10 seeded graphs") {
    def naiveHits(es: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val e = es.distinct
      val verts = (e.map(_._1) ++ e.map(_._2)).distinct
      def norm(m: Map[Long, Long]): Map[Long, Long] = {
        val mx = math.max(m.values.max, 1L)
        m.map { case (k, v) => k -> v * 1000000L / mx }
      }
      var hub = verts.map(_ -> 1000000L).toMap
      var auth = Map.empty[Long, Long]
      (1 to iters).foreach { _ =>
        auth = norm(verts.map(v =>
          v -> e.filter(_._2 == v).map(x => hub(x._1)).sum).toMap)
        hub = norm(verts.map(v =>
          v -> e.filter(_._1 == v).map(x => auth(x._2)).sum).toMap)
      }
      verts.map(v => v -> ((auth(v), hub(v)))).toMap
    }
    val rnd = new scala.util.Random(2033)
    (1 to 10).foreach { _ =>
      val n = 4 + rnd.nextInt(8)
      val es = Seq.fill(5 + rnd.nextInt(15))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        val got = graft.graph.GraphXBridge.hitsFixed(edgesDF(es), iters = 2)
          .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
        assert(got == naiveHits(es, 2), s"HITS mismatch on edges=$es")
      }
    }
  }

  test("property: linkPredict equals a naive replay on 10 seeded graphs") {
    def naive(es: Seq[(Long, Long)], k: Int): Set[(Long, Long, Long, Long)] = {
      val und = (es ++ es.map(_.swap)).filter(e => e._1 != e._2).distinct
      val adj = und.groupBy(_._1).map { case (a, v) => a -> v.map(_._2).toSet }
      val deg = adj.map { case (a, s) => a -> s.size.toLong }
      val verts = adj.keys.toSeq
      verts.flatMap { u =>
        val cands = adj(u).flatMap(adj).filter(v => v != u && !adj(u).contains(v))
        cands.map { v =>
          val common = adj(u) & adj(v)
          (u, v, common.size.toLong, common.toSeq.map(w => 1000000L / deg(w)).sum)
        }.toSeq.sortBy { case (_, v, cn, ra) => (-ra, -cn, v) }.take(k)
      }.toSet
    }
    val rnd = new scala.util.Random(2034)
    (1 to 10).foreach { _ =>
      val n = 4 + rnd.nextInt(8)
      val es = Seq.fill(5 + rnd.nextInt(15))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      if (es.nonEmpty) {
        val k = 1 + rnd.nextInt(3)
        val got = Traversal.linkPredict(edgesDF(es), k)
          .select("u", "v", "common_neighbors", "ra_micro")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got == naive(es, k), s"linkPredict mismatch on edges=$es k=$k")
      }
    }
  }

  test("neighborAgg: cap bounds the sample, sums exact, deterministic") {
    val es = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
    val feats = Seq((10L, 5L), (11L, 7L), (12L, 9L)).toDF("id", "feature")
    val full = Traversal.neighborAgg(edgesDF(es), feats, s = 10)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(full(1L) == ((3L, 21L)) && full(2L) == ((1L, 5L)))
    val run = () => Traversal.neighborAgg(edgesDF(es), feats, s = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val capped = run()
    assert(capped == run())
    assert(capped(1L)._1 == 2L &&
      Set(12L, 14L, 16L).contains(capped(1L)._2)) // some 2-subset of {5,7,9}
    assert(capped(2L) == ((1L, 5L)))
  }

  test("linkPredict: RA scores exact, adjacency excluded, top-k respected") {
    // path 1–2–3 plus 4 also attached to 2: candidates through hub 2
    // (deg 3) are {1,3},{1,4},{3,4}, each RA = 1000000 div 3 = 333333,
    // cn = 1; adjacent pairs never appear.
    val es = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val got = Traversal.linkPredict(edgesDF(es), k = 3)
      .as[(Long, Long, Long, Long, Int)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs == Set((1L, 3L), (1L, 4L), (3L, 1L), (3L, 4L), (4L, 1L), (4L, 3L)))
    assert(got.forall(r => r._3 == 1L && r._4 == 333333L))
    assert(!pairs.exists { case (a, b) => es.contains((a, b)) || es.contains((b, a)) })
  }

  test("hitsFixed: pure hubs score zero authority, the top authority hits 1e6") {
    // 1,2,3 all point at 4; 4 points at 5: 4 is the only real authority
    // target of the hub mass, 5 collects 4's hub output
    val es = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = graft.graph.GraphXBridge.hitsFixed(edgesDF(es), iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 0L && got(2L)._1 == 0L && got(3L)._1 == 0L) // never pointed at
    assert(got(4L)._1 == 1000000L)                                   // max authority
    assert(got(5L)._2 == 0L)                                         // sink: no hub score
    assert(got.values.map(_._1).max == 1000000L && got.values.map(_._2).max == 1000000L)
  }

  test("randomWalks: every step follows an edge, sinks terminate, deterministic") {
    // 1 branches to {2,3}; 2 → 4; 3 and 4 are sinks.
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L))
    val run = () => Traversal.randomWalks(edgesDF(es), walks = 3, len = 4)
      .as[(Long, Int, Int, Long)].collect().toSet
    val out = run()
    assert(out == run())
    val byWalk = out.groupBy(w => (w._1, w._2))
    // starts = vertices with out-edges = {1, 2}; 3 walks each
    assert(byWalk.keySet.map(_._1) == Set(1L, 2L))
    assert(byWalk.size == 6)
    byWalk.foreach { case ((start, _), rows) =>
      val path = rows.toSeq.sortBy(_._3).map(_._4)
      assert(path.head == start)                       // step 0 = start
      path.sliding(2).foreach {
        case Seq(a, b) => assert(es.contains((a, b)))  // every move is an edge
        case _ =>
      }
      // walks from 1 end at a sink (3, or 4 via 2) before len runs out;
      // from 2 the only path is 2→4
      assert(Set(3L, 4L).contains(path.last))
    }
  }

  test("degreeAssortativity: perfect star hits -1e6; regular cycle has no variance") {
    // star 1-{2,3,4}: every edge pairs deg 3 with deg 1 -> r = -1 exactly
    // (M=6, Sx=12, Sxy=18, Sxx=30: (6*18-144)/(6*30-144) = -36/36).
    val star = Traversal.degreeAssortativity(edgesDF(Seq((1L, 2L), (1L, 3L), (1L, 4L))))
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(star == ((6L, 12L, 18L, 30L, Some(-1000000L))), s"got $star")
    // 4-cycle: all degrees 2 -> zero variance -> r undefined (NULL)
    val cyc = Traversal.degreeAssortativity(
      edgesDF(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))))
      .as[(Long, Long, Long, Long, Option[Long])].collect().head
    assert(cyc._5.isEmpty && cyc._1 == 8L)
  }

  test("eccentricity: path graph peripheries and center, isolated-free") {
    // path 1-2-3-4-5 symmetrized: ecc(1)=ecc(5)=4, ecc(2)=ecc(4)=3, ecc(3)=2
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val und = edgesDF(es ++ es.map(_.swap))
    val out = Traversal.eccentricity(und, maxHop = 8)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 4L, 2L -> 3L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // the same min-hop sweep feeds the other read-outs: derived curves agree
    val anf = Traversal.neighborhoodFunction(und, 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(anf(1L) == 8L && anf(4L) == 2L) // 8 dist-1 pairs, 2 dist-4 pairs
  }

  test("closenessCentrality: path graph exact rationals, memo-shared") {
    // path 1-2-3-4-5 symmetrized, |V|-1 = 4:
    // v1: reach 4, S = 1+2+3+4 = 10 -> 16e6/(10*4) = 400000
    // v2: S = 1+1+2+3 = 7 -> 16e6/28 = 571428 (floored)
    // v3: S = 6 -> 16e6/24 = 666666 (floored)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Traversal.closenessCentrality(edgesDF(es ++ es.map(_.swap)), maxHop = 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((4L, 10L, 400000L)))
    assert(out(2L) == ((4L, 7L, 571428L)))
    assert(out(3L) == ((4L, 6L, 666666L)))
    assert(out(5L) == out(1L) && out(4L) == out(2L))
  }

  test("densestSubgraphTrace: K4+tail peels in two exact rounds") {
    // K4 on {1,2,3,4} plus path 4-5-6. Round 1: m2=16, n=6, peel
    // deg·6 ≤ 16 -> {5 (deg 2), 6 (deg 1)}; density 16e6/12 = 1333333.
    // Round 2: K4 alone, m2=12, n=4, density 1500000, everyone peels
    // (3·4 ≤ 12). Round 3: empty -> trace ends.
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val out = Traversal.densestSubgraphTrace(edgesDF(es), rounds = 6)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 6L, 16L, 1333333L), (2L, 4L, 12L, 1500000L)),
      s"got ${out.toSeq}")
  }

  test("modularity: perfect two-clique split = 1/2; cross-cut split negative") {
    // two disjoint triangles, communities = the triangles: Q = 1/2.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (12L, 10L))
      .toDF("id", "label")
    val q = Traversal.modularity(edgesDF(tri), good)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(q == ((2L, 12L, 72L, 144L, 500000L)), s"got $q")
    // one edge, each endpoint its own community: Q = -1/2, and the
    // explicit truncate-toward-zero spelling must emit exactly -500000.
    val bad = Seq((1L, 1L), (2L, 2L)).toDF("id", "label")
    val qn = Traversal.modularity(edgesDF(Seq((1L, 2L))), bad)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(qn == ((2L, 2L, -2L, 4L, -500000L)), s"got $qn")
    // vertices missing from the label table fall back to self-labels
    val part = Traversal.modularity(edgesDF(tri), good.filter($"id" < 10))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(part._1 == 4L && part._2 == 12L) // {1,2,3} + 3 singletons
  }

  test("localClustering: triangle corners exact, pendant excluded") {
    // triangle 1-2-3 plus pendant edge 3-4: T(1)=T(2)=T(3)=1;
    // deg 1,2 = 2 -> lcc 1e6; deg 3 = 3 -> 2e6/6 = 333333; deg(4)=1 excluded.
    val out = Traversal.localClustering(
      edgesDF(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 1L, 1000000L)))
    assert(out(2L) == ((2L, 1L, 1000000L)))
    assert(out(3L) == ((3L, 1L, 333333L)))
  }

  test("boruvkaMst: hand-checked square-with-diagonal and a disconnected forest") {
    // Square 1-2-3-4 with diagonal: MST drops the two heaviest cycle edges.
    val sq = Seq((1L, 2L, 1L), (2L, 3L, 7L), (3L, 4L, 2L), (4L, 1L, 9L), (1L, 3L, 3L))
      .toDF("src", "dst", "w")
    val got = Traversal.boruvkaMst(sq).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (3L, 4L, 2L), (1L, 3L, 3L)))
    // Two components: a spanning FOREST, one tree each.
    val forest = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 2L),
      (10L, 11L, 4L), (11L, 12L, 6L), (10L, 12L, 9L)).toDF("src", "dst", "w")
    val got2 = Traversal.boruvkaMst(forest).as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 4L), (11L, 12L, 6L)))
  }

  test("property: boruvkaMst equals naive Kruskal under the (w,u,v) order on 10 seeded graphs") {
    def kruskal(es: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val canon = es.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
        .filter(e => e._1 != e._2)
        .groupBy(e => (e._1, e._2)).map { case (_, g) => g.minBy(_._3) }.toSeq
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      canon.sortBy(e => (e._3, e._1, e._2)).flatMap { case (u, v, w) =>
        val (ru, rv) = (find(u), find(v))
        if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
      }.toSet
    }
    val rnd = new scala.util.Random(2033)
    (1 to 10).foreach { i =>
      val n = 5 + rnd.nextInt(12)
      val es = Seq.fill(6 + rnd.nextInt(25))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, rnd.nextInt(20).toLong))
      // duplicate weights ON PURPOSE: the (w, u, v) lexicographic order
      // must make the forest unique for both algorithms.
      val got = Traversal.boruvkaMst(es.toDF("src", "dst", "w"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == kruskal(es), s"MST mismatch #$i on edges=$es")
      // smallCutoff=0 forces the distributed Borůvka rounds (the 100 TB
      // path) — same unique forest as the driver-Kruskal escape.
      if (i <= 3) {
        val dist = Traversal.boruvkaMst(es.toDF("src", "dst", "w"), smallCutoff = 0)
          .as[(Long, Long, Long)].collect().toSet
        assert(dist == got, s"escape/distributed mismatch #$i on edges=$es")
      }
    }
  }
}
