package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long
import graft.Cuts
import graft.graph.GraphBuilder

/** Ingests the reference's interchange artifact — Groovy upsert scripts —
  * back into set-semantics vertex/edge batches.
  *
  * The reference emits seven `.groovy` files of guarded `addV`/`addE`
  * statements and replays them through a Gremlin console `:load`
  * (reference main.go:124-187, README.md:286-298; statement shapes at
  * main.go:205-211 vertex upsert, main.go:310-322 lookup-bind + guarded
  * addE). This parser closes the loop with the B12 template renderer: a
  * script rendered row-by-row re-parses into the same batches, and the
  * guarded-`if` wrappers become no-ops because [[GraphStorage.merge]] /
  * `PropertyGraph.upsertVertices` already have insert-if-absent semantics
  * set-at-a-time.
  *
  * Parsing is line-oriented and stateful only within one script chunk
  * (the `u1 = ...` / `g1 = ...` bindings an `addE` consumes always sit in
  * the same emitted entry, main.go:310-322), so chunks parse independently:
  * one task per script file — the reference's own interchange unit — or
  * per pre-split entry block for bigger-than-file parallelism. Nothing
  * collects to the driver.
  *
  * Vertex ids follow the engine's deterministic scheme: labels with a
  * registered code use `code * 2^56 + numericKey` ([[GraphBuilder.vid]]);
  * any other (label, key) — e.g. the reference's email-keyed users — gets
  * a 60-bit md5 id, so re-loading the same script on any executor yields
  * the same ids with no id service (the reference instead round-trips
  * server-assigned ids, main.go:207 `.id().next()`).
  */
object GroovyLoader {

  /** One parsed `addV` statement: promoted key + remaining props. */
  final case class ParsedVertex(label: String, key: String, props: Map[String, String])

  /** One parsed `addE` statement, endpoints still lookup-form: the
    * (label, property, value) triple of the `has()` bind that anchored
    * each end (main.go:317-318). */
  final case class ParsedEdge(srcLabel: String, srcProp: String, srcKey: String,
                              dstLabel: String, dstProp: String, dstKey: String,
                              label: String, weight: Int)

  /** `g.addV('l').property(label,'l').property('k','v')...` — statements are
    * emitted one per line (main.go:207). */
  private val AddV =
    """g\.addV\('([^']+)'\)((?:\s*\.property\([^)]*\))+)""".r

  /** One `.property(...)` link: `label`-keyed (skipped), string, numeric, or
    * boolean valued. */
  private val Prop =
    """\.property\(\s*(?:(label)\s*,\s*'[^']*'|'([^']+)'\s*,\s*(?:'([^']*)'|([-\d.]+)|(true|false)))\s*\)""".r

  /** `u1 = g.V().hasLabel('user').has('email', 'x' ).next()` — the lookup
    * bindings an addE entry opens with (main.go:317-318). Whitespace is
    * loose because the reference's templates carry stray spaces. */
  private val Bind =
    """(\w+)\s*=\s*g\.V\(\)\.hasLabel\('([^']+)'\)\.has\(\s*'([^']+)'\s*,\s*'([^']*)'\s*\)\.next\(\)""".r

  /** `e1 = g.V(u1).addE('in').to(g1).property('weight', 1).next()`
    * (main.go:320-322). */
  private val AddE =
    """(?:\w+\s*=\s*)?g\.V\(\s*(\w+)\s*\)\.addE\('([^']+)'\)\.to\(\s*(\w+)\s*\)((?:\s*\.property\([^)]*\))*)\s*\.next\(\)""".r

  private def propsOf(chain: String): Seq[(String, String)] = {
    val links = Prop.findAllMatchIn(chain).toSeq
    // The link regex stops at the first ')' or unescaped quote inside a
    // value — a malformed value would silently DROP that and later props.
    // Count links against `.property(` occurrences so it fails loudly.
    val expected = "\\.property\\(".r.findAllIn(chain).length
    require(links.length == expected,
      s"unparseable .property(...) link (value containing ')' or an " +
        s"escaped quote?): parsed ${links.length} of $expected in: $chain")
    links.flatMap { m =>
      if (m.group(1) != null) None // .property(label, '...') — label restates addV's
      else Some(m.group(2) ->
        Seq(m.group(3), m.group(4), m.group(5)).find(_ != null).getOrElse(""))
    }
  }

  /** Parse one script chunk. `keyProps` names each label's promoted-key
    * property (the reference's: email for user/group, name for role, ...);
    * a parsed vertex whose key property is absent fails loudly — a silent
    * default would merge under the wrong identity. */
  def parseScript(text: String, keyProps: Map[String, String])
  : (Seq[ParsedVertex], Seq[ParsedEdge]) = {
    val verts = Seq.newBuilder[ParsedVertex]
    val edges = Seq.newBuilder[ParsedEdge]
    // (var -> (label, property, value)) bindings, re-bound entry by entry.
    var binds = Map.empty[String, (String, String, String)]
    text.linesIterator.foreach { line =>
      AddV.findFirstMatchIn(line).foreach { m =>
        val label = m.group(1)
        val props = propsOf(m.group(2))
        val keyProp = keyProps.getOrElse(label,
          throw new IllegalArgumentException(
            s"no promoted-key property registered for label '$label' in: $line"))
        val key = props.collectFirst { case (k, v) if k == keyProp => v }.getOrElse(
          throw new IllegalArgumentException(
            s"addV('$label') is missing its key property '$keyProp' in: $line"))
        verts += ParsedVertex(label, key, props.filterNot(_._1 == keyProp).toMap)
      }
      Bind.findFirstMatchIn(line).foreach { m =>
        binds += m.group(1) -> (m.group(2), m.group(3), m.group(4))
      }
      AddE.findFirstMatchIn(line).foreach { m =>
        def resolve(v: String): (String, String, String) = binds.getOrElse(v,
          throw new IllegalArgumentException(s"addE references unbound variable '$v' in: $line"))
        val (sl, sp, sk) = resolve(m.group(1))
        val (dl, dp, dk) = resolve(m.group(3))
        val weight = propsOf(m.group(4))
          .collectFirst { case ("weight", w) => w.toDouble.toInt }.getOrElse(1)
        edges += ParsedEdge(sl, sp, sk, dl, dp, dk, m.group(2), weight)
      }
    }
    (verts.result(), edges.result())
  }

  /** Deterministic id for a parsed (label, key): [[GraphBuilder.vid]] when
    * the label has a registered numeric-key code, 60-bit md5 otherwise.
    * Pure Column expression — computable by a SQL oracle. */
  private def idFor(labelCol: org.apache.spark.sql.Column, keyCol: org.apache.spark.sql.Column) = {
    val codes = typedLit(GraphBuilder.LabelCodes)
    // Canonical numeric form only — '007' must NOT share '7''s vid while
    // remaining a distinct (label, key) row; zero-padded keys take the
    // md5 path instead.
    val isNum = keyCol.rlike("^(0|[1-9][0-9]{0,14})$")
    when(codes(labelCol).isNotNull && isNum,
      codes(labelCol) * GraphBuilder.B + keyCol.cast("long"))
      .otherwise(md5Long(concat_ws(":", labelCol, keyCol)))
  }

  /** Distributed parse only — batches still in (label, prop, key) lookup
    * form. One task per chunk. [[load]] stamps ids; `GremlinLite.mutate`
    * instead resolves edge endpoints against an existing graph. Both
    * batches read ONE parse: a lazy lineage cut that materializes inside
    * the first consuming job and registers nothing in the session's
    * CacheManager — its blocks go with the batches once those are
    * unreferenced (ContextCleaner), so no caller has a handle to release. */
  def parsedBatches(scripts: Dataset[String], keyProps: Map[String, String])
  : (Dataset[ParsedVertex], Dataset[ParsedEdge]) = {
    val spark = scripts.sparkSession
    import spark.implicits._
    val parsed = Cuts.cut(scripts.map(t => parseScript(t, keyProps)).toDF(), eager = false)
      .as[(Seq[ParsedVertex], Seq[ParsedEdge])]
    (parsed.flatMap(_._1), parsed.flatMap(_._2))
  }

  /** Vertex batch with deterministic ids stamped. */
  def vertexBatch(pv: Dataset[ParsedVertex]): DataFrame =
    pv.toDF().select(idFor(col("label"), col("key")).as("id"),
      col("label"), col("key"), col("props"))

  /** Parse script chunks into graph-schema batches:
    * `(vertices(id,label,key,props), edges(src,dst,label,weight))` —
    * ready for [[GraphStorage.merge]] or `PropertyGraph.upsert*`.
    * Edge endpoint ids are recomputed with the same deterministic scheme
    * as the vertices, which is correct when the target store uses that
    * scheme (anything built by this loader or [[graft.graph.GraphBuilder]]);
    * to mutate a graph with foreign ids, use `GremlinLite.mutate`, which
    * looks endpoints up instead.
    * `scripts` is a Dataset of independent chunks (one per file or entry
    * block); parsing fans out one task per chunk. */
  def load(scripts: Dataset[String], keyProps: Map[String, String])
  : (DataFrame, DataFrame) = {
    val (pv, pe) = parsedBatches(scripts, keyProps)
    val e = pe.toDF()
      .select(idFor(col("srcLabel"), col("srcKey")).as("src"),
        idFor(col("dstLabel"), col("dstKey")).as("dst"),
        col("label"), col("weight"))
    (vertexBatch(pv), e)
  }

  /** Promoted-key registry for the reference's own seven scripts
    * (main.go:205 user/email, :240 group/email, :368 project/projectId,
    * :419 role/name, :587 serviceAccount/email, :678 permission/name). */
  val ReferenceKeyProps: Map[String, String] = Map(
    "user" -> "email", "group" -> "email", "project" -> "projectId",
    "role" -> "name", "serviceAccount" -> "email", "permission" -> "name")
}
