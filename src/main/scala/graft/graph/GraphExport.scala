package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A17 — graph serialization (reference: `sg.io(IoCore.graphml())
  * .writeGraph("/tmp/mygraph.xml")` README.md:386; GraphSON README.md:484-489).
  *
  * Two paths, chosen by scale:
  *   - [[graphsonVertices]]/[[graphsonEdges]]: one JSON document per row,
  *     produced by codegen'd `to_json` — fully distributed, writes with
  *     `df.write.text`, works at any size. Unlike GraphML, JSON has no
  *     trouble with multi-valued properties (the reference documents that
  *     GraphML cannot encode them, README.md:474-482).
  *   - [[graphml]]: a single GraphML XML document assembled on the driver —
  *     only for small (sub)graphs, mirroring the reference's console export
  *     which materializes the whole subgraph in server heap anyway
  *     (README.md:372-386). Guarded by `maxRows`.
  */
object GraphExport {

  /** One GraphSON-flavored JSON line per vertex (stable field order). */
  def graphsonVertices(g: PropertyGraph): DataFrame =
    g.vertices.select(to_json(struct(
      col("id"), col("label"), col("key"), col("props"))).as("json"))

  /** One GraphSON-flavored JSON line per edge. */
  def graphsonEdges(g: PropertyGraph): DataFrame =
    g.edges.select(to_json(struct(
      col("src"), col("dst"), col("label"), col("weight"))).as("json"))

  /** Distributed export: JSON-lines directories for vertices and edges. */
  def writeGraphson(g: PropertyGraph, dir: String): Unit = {
    graphsonVertices(g).write.mode("overwrite").text(s"$dir/vertices")
    graphsonEdges(g).write.mode("overwrite").text(s"$dir/edges")
  }

  // ------------------------------------------- typed GraphSON 2.0 (TinkerPop)

  import graft.functions.Hashing.md5Long

  private def gInt64(c: org.apache.spark.sql.Column) =
    struct(lit("g:Int64").as("@type"), c.as("@value"))

  /** TinkerPop GraphSON 2.0 typed vertices — the `{"@type":"g:Vertex",...}`
    * module shape the reference's console mapper emits
    * (README.md:484-489 `GraphSONMapper...JanusGraphSONModuleV2d0`), so the
    * export round-trips into TinkerPop tooling, not just analytics. The
    * promoted `key` column is emitted as a regular vertex property;
    * vertex-property ids are deterministic md5s (the reference's are
    * server-assigned). One codegen'd to_json per row, fully distributed. */
  def graphsonTypedVertices(g: PropertyGraph): DataFrame = {
    // A props map that already carries a literal "key" entry wins — the
    // default mapKeyDedupPolicy=EXCEPTION would otherwise fail the whole
    // export job on one such row.
    val allProps = when(map_contains_key(col("props"), "key"), col("props"))
      .otherwise(map_concat(col("props"), map(lit("key"), col("key"))))
    val vprops = transform_values(allProps, (k, v) => array(struct(
      lit("g:VertexProperty").as("@type"),
      struct(
        gInt64(md5Long(concat_ws("|", col("id").cast("string"), k))).as("id"),
        v.as("value"), k.as("label")).as("@value"))))
    g.vertices.select(to_json(struct(
      lit("g:Vertex").as("@type"),
      struct(gInt64(col("id")).as("id"), col("label"),
        vprops.as("properties")).as("@value"))).as("json"))
  }

  /** TinkerPop GraphSON 2.0 typed edges. Edge ids are deterministic md5s of
    * (src,dst,label); inVLabel/outVLabel come from two joins against the
    * vertex table (an export reads everything once anyway). */
  def graphsonTypedEdges(g: PropertyGraph): DataFrame = {
    val vl = g.vertices.select(col("id"), col("label"))
    val e = g.edges.as("e")
      .join(vl.select(col("id").as("__out_id"), col("label").as("outVLabel")),
        col("e.src") === col("__out_id"))
      .join(vl.select(col("id").as("__in_id"), col("label").as("inVLabel")),
        col("e.dst") === col("__in_id"))
    e.select(to_json(struct(
      lit("g:Edge").as("@type"),
      struct(
        gInt64(md5Long(concat_ws("|", col("e.src"), col("e.dst"), col("e.label")))).as("id"),
        col("e.label").as("label"),
        col("inVLabel"), col("outVLabel"),
        gInt64(col("e.dst")).as("inV"), gInt64(col("e.src")).as("outV"),
        map(lit("weight"), struct(
          lit("g:Property").as("@type"),
          struct(lit("weight").as("key"),
            struct(lit("g:Int32").as("@type"), col("e.weight").as("@value")).as("value"))
            .as("@value"))).as("properties")).as("@value"))).as("json"))
  }

  /** Distributed typed-GraphSON export (TinkerPop 2.0 module shape). */
  def writeGraphsonTyped(g: PropertyGraph, dir: String): Unit = {
    graphsonTypedVertices(g).write.mode("overwrite").text(s"$dir/vertices")
    graphsonTypedEdges(g).write.mode("overwrite").text(s"$dir/edges")
  }

  // --------------------------------------------------------------- readers

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types.StructType

  /** Read a [[writeGraphson]] plain-lines export back into a
    * [[PropertyGraph]] — schema-pinned JSON-lines scan (no inference
    * pass), fully distributed, FAILFAST: an unparseable line in our own
    * export format is a bug, not data. */
  def readGraphson(spark: SparkSession, dir: String): PropertyGraph = {
    def rd(path: String, schema: StructType) = spark.read
      .schema(schema).option("mode", "FAILFAST").json(path)
    PropertyGraph(
      rd(s"$dir/vertices", PropertyGraph.VertexSchema)
        .select(col("id"), col("label"), col("key"),
          coalesce(col("props"),
            map().cast("map<string,string>")).as("props")),
      rd(s"$dir/edges", PropertyGraph.EdgeSchema)
        .select(col("src"), col("dst"), col("label"), col("weight")))
  }

  /** Read a [[writeGraphsonTyped]] TinkerPop-2.0 export back into a
    * [[PropertyGraph]] — the other half of the interchange loop
    * (GroovyLoader closes the Groovy side the same way). The promoted
    * `key` vertex property is restored to the `key` column and removed
    * from `props` (a vertex whose ORIGINAL props carried a literal
    * "key" entry keeps that literal — the export already collapsed the
    * two, see [[graphsonTypedVertices]]). */
  def readGraphsonTyped(spark: SparkSession, dir: String): PropertyGraph = {
    val vDdl = "`@type` STRING, `@value` STRUCT<" +
      "id STRUCT<`@type` STRING, `@value` LONG>, label STRING, " +
      "properties MAP<STRING, ARRAY<STRUCT<`@type` STRING, " +
      "`@value` STRUCT<id STRUCT<`@type` STRING, `@value` LONG>, " +
      "value STRING, label STRING>>>>>"
    val eDdl = "`@type` STRING, `@value` STRUCT<" +
      "id STRUCT<`@type` STRING, `@value` LONG>, label STRING, " +
      "inVLabel STRING, outVLabel STRING, " +
      "inV STRUCT<`@type` STRING, `@value` LONG>, " +
      "outV STRUCT<`@type` STRING, `@value` LONG>, " +
      "properties MAP<STRING, STRUCT<`@type` STRING, " +
      "`@value` STRUCT<key STRING, value STRUCT<`@type` STRING, `@value` INT>>>>>"
    def rd(path: String, ddl: String) = spark.read
      .schema(StructType.fromDDL(ddl)).option("mode", "FAILFAST").json(path)
    val allProps = transform_values(col("@value.properties"),
      (_, arr) => element_at(arr, 1).getField("@value").getField("value"))
    val verts = rd(s"$dir/vertices", vDdl)
      .select(col("@value.id.@value").as("id"), col("@value.label").as("label"),
        allProps.as("__all"))
      .select(col("id"), col("label"),
        element_at(col("__all"), "key").as("key"),
        map_filter(col("__all"), (k, _) => k =!= "key").as("props"))
    val edges = rd(s"$dir/edges", eDdl)
      .select(col("@value.outV.@value").as("src"), col("@value.inV.@value").as("dst"),
        col("@value.label").as("label"),
        col("@value.properties").getItem("weight")
          .getField("@value").getField("value").getField("@value").as("weight"))
    PropertyGraph(verts, edges)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  private val graphmlHeader: String = Seq(
    """<?xml version="1.0" encoding="UTF-8"?>""",
    """<graphml xmlns="http://graphml.graphdrawing.org/xmlns">""",
    """  <key id="label" for="node" attr.name="label" attr.type="string"/>""",
    """  <key id="key" for="node" attr.name="key" attr.type="string"/>""",
    """  <key id="prop" for="node" attr.name="prop" attr.type="string"/>""",
    """  <key id="elabel" for="edge" attr.name="label" attr.type="string"/>""",
    """  <key id="weight" for="edge" attr.name="weight" attr.type="int"/>""",
    """  <graph id="G" edgedefault="directed">""").mkString("", "\n", "\n")

  private def nodeXml(r: org.apache.spark.sql.Row): String = {
    val sb = new StringBuilder
    sb ++= s"""    <node id="${r.getLong(0)}">"""
    sb ++= s"""<data key="label">${esc(r.getString(1))}</data>"""
    sb ++= s"""<data key="key">${esc(r.getString(2))}</data>"""
    val props = r.getMap[String, String](3)
    props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      // the prop entry encodes as k=v split at the FIRST '=' on read —
      // a '=' in the KEY would silently shift the boundary
      require(!k.contains("="), s"prop key '$k' contains '=' — not GraphML-encodable")
      sb ++= s"""<data key="prop">${esc(k)}=${esc(String.valueOf(v))}</data>"""
    }
    sb ++= "</node>\n"
    sb.result()
  }

  private def edgeXml(r: org.apache.spark.sql.Row): String =
    s"""    <edge source="${r.getLong(0)}" target="${r.getLong(1)}">""" +
      s"""<data key="elabel">${esc(r.getString(2))}</data>""" +
      s"""<data key="weight">${r.getInt(3)}</data></edge>\n"""

  /** Render the GraphML document through `emit`, guarded at `maxRows`
    * total elements. Rows stream through `toLocalIterator`, so the
    * driver holds one PARTITION of rows at a time, never the whole
    * graph — the document itself is still single-XML-file by format
    * (big graphs go through [[writeGraphson]]). */
  private def renderGraphml(g: PropertyGraph, maxRows: Long)(emit: String => Unit): Unit = {
    val nV = g.vertices.count()
    val nE = g.edges.count()
    require(nV + nE <= maxRows,
      s"graph too large for driver-side GraphML ($nV vertices + $nE edges > $maxRows); use writeGraphson")
    emit(graphmlHeader)
    g.vertices.select("id", "label", "key", "props").orderBy("id")
      .toLocalIterator().forEachRemaining(r => emit(nodeXml(r)))
    g.edges.select("src", "dst", "label", "weight").orderBy("src", "dst")
      .toLocalIterator().forEachRemaining(r => emit(edgeXml(r)))
    emit("  </graph>\n</graphml>\n")
  }

  /** GraphML document for a SMALL graph (throws above `maxRows` — use
    * [[writeGraphson]] for anything big; collecting a 100 TB graph to the
    * driver is exactly the reference's server-heap failure mode). */
  def graphml(g: PropertyGraph, maxRows: Long = 100000): String = {
    val sb = new StringBuilder
    renderGraphml(g, maxRows)(sb ++= _)
    sb.result()
  }

  /** Write the driver-side GraphML document to a local path, streaming
    * partition by partition — the r15 verdict's export nicety: the
    * driver never holds the full XML string, only the writer buffer
    * plus one partition of rows, so the maxRows guard (format-bound)
    * is the only limit, not driver heap. */
  def writeGraphML(g: PropertyGraph, path: String, maxRows: Long = 100000): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try renderGraphml(g, maxRows)(w.write(_)) finally w.close()
  }

  /** Read a [[writeGraphML]] document back into a [[PropertyGraph]] —
    * the GraphML half of the interchange loop (GraphSON and the Groovy
    * scripts have theirs). Driver-side like the writer, by the same
    * small-graph contract (the format itself is the bound: one XML
    * document, no splittable row boundaries — big graphs go through
    * GraphSON lines). JDK DOM parse, no external XML library; XML
    * escaping undone by the parser, prop entries split at the first
    * '=' (the writer rejects '=' in prop keys for exactly this
    * reason). Missing edge-label data (exports written before the
    * label was emitted) reads as "". */
  def readGraphML(spark: SparkSession, path: String): PropertyGraph = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    // An import path is an attack surface: a DOCTYPE in a foreign GraphML
    // file could pull local files or URLs into vertex props (XXE) or
    // detonate an entity-expansion bomb. Our own writer never emits a
    // DOCTYPE, so reject them outright.
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setXIncludeAware(false)
    dbf.setExpandEntityReferences(false)
    val doc = dbf.newDocumentBuilder().parse(new java.io.File(path))
    def datas(el: org.w3c.dom.Element): Seq[(String, String)] = {
      val dl = el.getElementsByTagName("data")
      (0 until dl.getLength).map { i =>
        val d = dl.item(i).asInstanceOf[org.w3c.dom.Element]
        d.getAttribute("key") -> d.getTextContent
      }
    }
    val nl = doc.getElementsByTagName("node")
    val vrows = (0 until nl.getLength).map { i =>
      val el = nl.item(i).asInstanceOf[org.w3c.dom.Element]
      val id = el.getAttribute("id").toLong
      val ds = datas(el)
      (id,
        ds.collectFirst { case ("label", v) => v }.getOrElse(""),
        ds.collectFirst { case ("key", v) => v }.getOrElse(""),
        ds.collect { case ("prop", v) =>
          val j = v.indexOf('=')
          require(j >= 0, s"malformed prop entry '$v' on node $id")
          v.substring(0, j) -> v.substring(j + 1)
        }.toMap)
    }
    val el = doc.getElementsByTagName("edge")
    val erows = (0 until el.getLength).map { i =>
      val e = el.item(i).asInstanceOf[org.w3c.dom.Element]
      val ds = datas(e)
      (e.getAttribute("source").toLong, e.getAttribute("target").toLong,
        ds.collectFirst { case ("elabel", v) => v }.getOrElse(""),
        ds.collectFirst { case ("weight", v) => v.toInt }.getOrElse(0))
    }
    PropertyGraph(
      spark.createDataFrame(vrows).toDF("id", "label", "key", "props"),
      spark.createDataFrame(erows).toDF("src", "dst", "label", "weight"))
  }
}
