package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphBuilder, PropertyGraph}
import graft.sources.GroovyLoader

/** The reference's emitted upsert scripts (main.go:205-211 vertex shape,
  * main.go:310-322 bind + guarded addE shape) parse back into the same
  * set-semantics batches the fluent API upserts. */
class GroovyLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // Verbatim statement shapes from the reference's emitter, including its
  // stray whitespace and the `.id().next()` tail variant.
  private val script =
    """
      |if (g.V().hasLabel('user').has('email','user1@domain.com').hasNext() == false) {
      | g.addV('user').property(label, 'user').property('email', 'user1@domain.com').property('isExternal', false).id().next()
      |}
      |
      |if (g.V().hasLabel('group').has('email','grp@domain.com').hasNext() == false) {
      | g.addV('group').property(label, 'group').property('email', 'grp@domain.com').property('isExternal', false).id().next()
      |}
      |
      |if (g.V().hasLabel('user').has('email', 'user2@domain.com').hasNext() == false) {
      | g.addV('user').property(label, 'user').property('email', 'user2@domain.com').next()
      |}
      |
      |u1 = g.V().hasLabel('user').has('email', 'user2@domain.com' ).next()
      |g1 = g.V().hasLabel('group').has('email', 'grp@domain.com').next()
      |
      |if ( g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext() == false) {
      | e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()
      |}
      |""".stripMargin

  test("parseScript extracts vertices (key promoted, props kept) and edges") {
    val (vs, es) = GroovyLoader.parseScript(script, GroovyLoader.ReferenceKeyProps)
    assert(vs.map(v => (v.label, v.key)).toSet == Set(
      ("user", "user1@domain.com"), ("group", "grp@domain.com"), ("user", "user2@domain.com")))
    assert(vs.find(_.key == "user1@domain.com").get.props == Map("isExternal" -> "false"))
    assert(vs.find(_.key == "user2@domain.com").get.props == Map.empty)
    assert(es == Seq(GroovyLoader.ParsedEdge(
      "user", "email", "user2@domain.com", "group", "email", "grp@domain.com", "in", 1)))
  }

  test("the guard lines never parse as statements") {
    val guardOnly = "if (g.V().hasLabel('user').has('email','x@d').hasNext() == false) {\n}"
    val (vs, es) = GroovyLoader.parseScript(guardOnly, GroovyLoader.ReferenceKeyProps)
    assert(vs.isEmpty && es.isEmpty)
  }

  test("missing key property and unbound addE variable fail loudly") {
    val noKey = " g.addV('user').property(label, 'user').property('other', 'x').next()"
    assertThrows[IllegalArgumentException] {
      GroovyLoader.parseScript(noKey, GroovyLoader.ReferenceKeyProps)
    }
    val unbound = " e1 = g.V(u9).addE('in').to(g9).property('weight', 1).next()"
    assertThrows[IllegalArgumentException] {
      GroovyLoader.parseScript(unbound, GroovyLoader.ReferenceKeyProps)
    }
  }

  test("load(): coded numeric labels get GraphBuilder vids; email keys get md5 ids") {
    val chunks = Seq(
      " g.addV('region').property(label, 'region').property('rkey', '3').property('name', 'EUROPE').next()",
      " g.addV('user').property(label, 'user').property('email', 'a@b.c').next()").toDS()
    val (v, _) = GroovyLoader.load(chunks,
      Map("region" -> "rkey", "user" -> "email"))
    val byLabel = v.collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(byLabel("region") == GraphBuilder.LabelCodes("region") * GraphBuilder.B + 3L)
    // md5 ids are 60-bit — outside every label-code stripe's low key space
    // and stable across runs.
    val (v2, _) = GroovyLoader.load(chunks, Map("region" -> "rkey", "user" -> "email"))
    assert(v2.collect().map(r => r.getString(1) -> r.getLong(0)).toMap == byLabel)
  }

  test("zero-padded numeric keys stay distinct vertices with distinct ids") {
    val chunks = Seq(
      " g.addV('region').property(label, 'region').property('rkey', '7').property('name', 'A').next()",
      " g.addV('region').property(label, 'region').property('rkey', '007').property('name', 'B').next()").toDS()
    val (v, _) = GroovyLoader.load(chunks, Map("region" -> "rkey"))
    val ids = v.collect().map(r => r.getString(2) -> r.getLong(0)).toMap
    assert(ids.size == 2)
    assert(ids("7") == GraphBuilder.LabelCodes("region") * GraphBuilder.B + 7L)
    assert(ids("007") != ids("7")) // '007' takes the md5 path, not vid(7)
  }

  test("load() parses once and registers nothing in the session's CacheManager") {
    import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
    import org.apache.spark.sql.graft.CheckpointUtil.readRdds
    // The suites share one session: start from an empty CacheManager so
    // whatever earlier suites cached cannot mask (or fake) a leak.
    val cm = spark.asInstanceOf[ClassicSparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val (v, e) = GroovyLoader.load(Seq(script).toDS(), GroovyLoader.ReferenceKeyProps)
    assert(v.count() == 3 && e.count() == 1)
    assert(cm.isEmpty, "load left a CacheManager entry behind")
    // One parse: the script input is a local relation, so the only RDD
    // both batches can share is the parse they both read.
    assert((readRdds(v) & readRdds(e)).nonEmpty, "vertex and edge batches parse separately")
  }

  test("render -> parse -> upsert twice == once (idempotent round trip)") {
    val rendered = Seq(3, 4).map(k =>
      s"""if (g.V().hasLabel('region').has('rkey','$k').hasNext() == false) {
         | g.addV('region').property(label, 'region').property('rkey', '$k').property('name', 'R$k').next()
         |}
         |u1 = g.V().hasLabel('region').has('rkey', '$k' ).next()
         |g1 = g.V().hasLabel('region').has('rkey', '3').next()
         |if ( g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext() == false) {
         | e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()
         |}""".stripMargin).toDS()
    val (v, e) = GroovyLoader.load(rendered, Map("region" -> "rkey"))
    val empty = PropertyGraph(
      v.limit(0), e.limit(0))
    val once = empty.upsertVertices(v).upsertEdges(e)
    val twice = once.upsertVertices(v).upsertEdges(e)
    assert(once.V.count() == 2 && once.E.count() == 2)
    assert(twice.V.count() == 2 && twice.E.count() == 2)
  }
}
