package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphExport, GraphXBridge, PropertyGraph}
import graft.sources.GraphStorage

/** GraphML/GraphSON export (A17), partitioned storage + idempotent bulk
  * merge (A18/B13), JSONL corpus interchange, and the GraphX bridge. */
class StorageAndExportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("GraphSON readers invert both writers (plain lines and typed 2.0)") {
    import graft.graph.GraphExport
    val g = PropertyGraph(
      Seq(
        (1L, "user", "a", Map("email" -> "a@x", "key" -> "literal-key")),
        (2L, "group", "g", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 2L, "in", 3), (2L, 1L, "member", 1)).toDF("src", "dst", "label", "weight"))
    val tmp = Files.createTempDirectory("graft-gson").toString
    GraphExport.writeGraphson(g, s"$tmp/plain")
    val p = GraphExport.readGraphson(spark, s"$tmp/plain")
    assert(p.vertices.select("id", "label", "key")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "user", "a"), (2L, "group", "g")))
    assert(p.vertices.filter(col("id") === 1)
      .select(col("props").getItem("email")).as[String].head() == "a@x")
    assert(p.edges.as[(Long, Long, String, Int)].collect().toSet ==
      Set((1L, 2L, "in", 3), (2L, 1L, "member", 1)))

    GraphExport.writeGraphsonTyped(g, s"$tmp/typed")
    val t = GraphExport.readGraphsonTyped(spark, s"$tmp/typed")
    // vertex 1's literal "key" prop won the export-side merge, so its key
    // column restores to the LITERAL (documented collapse); vertex 2's
    // promoted key restores exactly and leaves props empty
    assert(t.vertices.select("id", "label", "key")
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "user", "literal-key"), (2L, "group", "g")))
    assert(t.vertices.filter(col("id") === 1)
      .select(col("props").getItem("email")).as[String].head() == "a@x")
    assert(t.vertices.filter(col("id") === 2)
      .select(size(col("props"))).as[Int].head() == 0)
    assert(t.edges.as[(Long, Long, String, Int)].collect().toSet ==
      Set((1L, 2L, "in", 3), (2L, 1L, "member", 1)))
  }

  test("JsonlCorpus: exact round trip, corrupt-line audit, FAILFAST abort") {
    import graft.sources.JsonlCorpus
    val docs = Seq((1L, "hello world"), (2L, "salut \"quoted\"\tline"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("graft-jsonl").toString
    JsonlCorpus.write(docs, s"$tmp/out")
    val back = JsonlCorpus.read(spark, s"$tmp/out", docs.schema, mode = "FAILFAST")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "hello world"), (2L, "salut \"quoted\"\tline")))
    // a malformed line lands in the audit column under PERMISSIVE...
    Files.writeString(java.nio.file.Paths.get(s"$tmp/out/zz_corrupt.json"),
      "{this is not json\n")
    val audit = JsonlCorpus.read(spark, s"$tmp/out", docs.schema)
      .select("doc_id", "_corrupt_record")
      .as[(Option[Long], Option[String])].collect()
    assert(audit.count(_._2.isDefined) == 1)
    assert(audit.count(_._2.isEmpty) == 2)
    // ...and aborts the job under FAILFAST
    intercept[org.apache.spark.SparkException] {
      JsonlCorpus.read(spark, s"$tmp/out", docs.schema, mode = "FAILFAST").collect()
    }
  }

  private def g0 = PropertyGraph(
    Seq(
      (1L, "user", "a", Map("email" -> "a@x")),
      (2L, "group", "g", Map.empty[String, String]))
      .toDF("id", "label", "key", "props"),
    Seq((1L, 2L, "in", 1)).toDF("src", "dst", "label", "weight"))

  test("graphml renders nodes, props, and edges; escapes XML") {
    val g = PropertyGraph(
      Seq((1L, "user", "a<b", Map("k" -> "v&w"))).toDF("id", "label", "key", "props"),
      Seq.empty[(Long, Long, String, Int)].toDF("src", "dst", "label", "weight"))
    val xml = GraphExport.graphml(g)
    assert(xml.contains("""<node id="1">"""))
    assert(xml.contains("a&lt;b"))
    assert(xml.contains("k=v&amp;w"))
    assert(xml.startsWith("""<?xml version="1.0""""))
  }

  test("graphml parses with the JDK's own XML parser — third-party well-formedness") {
    // the containment/round-trip tests above have OUR code on both ends;
    // a real XML parser certifies the document itself, hostile values and
    // all (ampersands, angle brackets, both quote kinds, newlines, non-
    // ASCII — everything XML 1.0 can legally carry)
    import spark.implicits._
    val hostile = """a<b&c>"d"'e' f
g — ünïcode]]>"""
    val g = graft.graph.PropertyGraph(
      Seq((1L, "user", hostile, Map("note" -> hostile)),
        (2L, "group", "plain", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 2L, "in", 1)).toDF("src", "dst", "label", "weight"))
    val xml = GraphExport.graphml(g)
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    val nodes = doc.getElementsByTagNameNS("*", "node")
    val edges = doc.getElementsByTagNameNS("*", "edge")
    assert(nodes.getLength == 2 && edges.getLength == 1)
    // the hostile key survives the escape→parse loop byte-for-byte
    val datas = doc.getElementsByTagNameNS("*", "data")
    val texts = (0 until datas.getLength).map(datas.item(_).getTextContent)
    assert(texts.contains(hostile),
      s"hostile key did not survive escape->parse: ${texts.take(4)}")
  }

  test("graphson lines parse with Jackson — third-party JSON well-formedness") {
    import spark.implicits._
    val hostile = "quote\" backslash\\ newline\n tab\t — ünïcode"
    val g = graft.graph.PropertyGraph(
      Seq((1L, "user", hostile, Map("p" -> hostile)))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 1L, "self", 1)).toDF("src", "dst", "label", "weight"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = GraphExport.graphsonVertices(g).as[String].collect() ++
      GraphExport.graphsonEdges(g).as[String].collect() ++
      GraphExport.graphsonTypedVertices(g).as[String].collect() ++
      GraphExport.graphsonTypedEdges(g).as[String].collect()
    assert(lines.length == 4)
    lines.foreach { l =>
      val node = mapper.readTree(l) // throws on malformed JSON
      assert(node.isObject, s"graphson line is not a JSON object: $l")
    }
    // the hostile value survives the emit→Jackson loop exactly
    val v = mapper.readTree(lines.head)
    assert(v.findValuesAsText("key").contains(hostile) ||
      v.toString.contains(mapper.writeValueAsString(hostile).stripPrefix("\"").stripSuffix("\"")),
      s"hostile key not recoverable from: ${lines.head}")
  }

  test("graphml round-trips: write → readGraphML restores the graph exactly") {
    val g = PropertyGraph(
      Seq((1L, "user", "a<b&c", Map("k1" -> "v&w", "k2" -> "x=y")),
        (2L, "group", "g'\"", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 2L, "in", 3)).toDF("src", "dst", "label", "weight"))
    val tmp = java.nio.file.Files.createTempFile("graft-gml", ".xml").toString
    GraphExport.writeGraphML(g, tmp)
    val back = GraphExport.readGraphML(spark, tmp)
    assert(back.vertices.as[(Long, String, String, Map[String, String])].collect().toSet ==
      g.vertices.as[(Long, String, String, Map[String, String])].collect().toSet)
    assert(back.edges.as[(Long, Long, String, Int)].collect().toSet == Set((1L, 2L, "in", 3)))
  }

  test("graphml rejects a prop key containing '='") {
    val g = PropertyGraph(
      Seq((1L, "user", "k", Map("a=b" -> "v"))).toDF("id", "label", "key", "props"),
      Seq.empty[(Long, Long, String, Int)].toDF("src", "dst", "label", "weight"))
    assertThrows[IllegalArgumentException] { GraphExport.graphml(g) }
  }

  test("graphml refuses graphs above the driver-side bound") {
    assertThrows[IllegalArgumentException] {
      GraphExport.graphml(g0, maxRows = 1)
    }
  }

  test("graphson lines are one JSON doc per vertex/edge") {
    assert(GraphExport.graphsonVertices(g0).count() == 2)
    val line = GraphExport.graphsonEdges(g0).as[String].head()
    assert(line == """{"src":1,"dst":2,"label":"in","weight":1}""")
  }

  test("typed GraphSON 2.0 carries the TinkerPop module shape") {
    val vjson = GraphExport.graphsonTypedVertices(g0).as[String].collect()
    assert(vjson.length == 2)
    val u = vjson.find(_.contains("\"label\":\"user\"")).get
    assert(u.contains(""""@type":"g:Vertex""""))
    assert(u.contains(""""id":{"@type":"g:Int64","@value":1}"""))
    assert(u.contains(""""@type":"g:VertexProperty""""))
    assert(u.contains(""""value":"a@x"""")) // email prop survives, typed
    val ejson = GraphExport.graphsonTypedEdges(g0).as[String].head()
    assert(ejson.contains(""""@type":"g:Edge""""))
    assert(ejson.contains(""""inV":{"@type":"g:Int64","@value":2}"""))
    assert(ejson.contains(""""outV":{"@type":"g:Int64","@value":1}"""))
    assert(ejson.contains(""""outVLabel":"user"""") && ejson.contains(""""inVLabel":"group""""))
    assert(ejson.contains(""""value":{"@type":"g:Int32","@value":1}"""))
    // Deterministic ids: a re-export emits byte-identical lines.
    assert(GraphExport.graphsonTypedEdges(g0).as[String].head() == ejson)
  }

  test("storage round-trip: partitioned write + load preserves the graph") {
    val dir = Files.createTempDirectory("graft-store").toString
    GraphStorage.write(g0, dir)
    // label-partitioned layout on disk (B13's multi-sink, generalized)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/vertices/label=user")))
    val back = GraphStorage.load(spark, dir)
    assert(back.vertices.count() == 2 && back.edges.count() == 1)
    assert(back.hasLabel("user").select("key").as[String].head() == "a")
    // the layout carries its point-lookup index: every vertex file blooms
    // id+key (the in-file half of the (label, key) lookup), every edge
    // file blooms dst (the reverse-lookup key the src sort cannot prune)
    def bloomCols(sub: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(s"$dir/$sub")).flatMap { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.getAbsolutePath),
            new org.apache.hadoop.conf.Configuration()))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
          .filter(_.getBloomFilterOffset >= 0).map(_.getPath.toDotString))
        finally r.close()
      }.toSet
    }
    assert(bloomCols("vertices") == Set("id", "key"))
    assert(bloomCols("edges") == Set("dst"))
  }

  test("bulk merge is idempotent across replays (A18)") {
    val dir = Files.createTempDirectory("graft-merge").toString
    GraphStorage.write(g0, dir)
    val newV = Seq(
      (1L, "user", "a", Map.empty[String, String]), // dup -> skipped
      (3L, "role", "r", Map.empty[String, String]))
      .toDF("id", "label", "key", "props")
    val newE = Seq((1L, 2L, "in", 1), (2L, 3L, "in", 1)).toDF("src", "dst", "label", "weight")
    GraphStorage.merge(spark, dir, newV, newE)
    // every file under the store, with its size
    def listing() = {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator).asScala
        .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toSet
      finally walk.close()
    }
    val merged = listing()
    GraphStorage.merge(spark, dir, newV, newE) // replay: no-op
    assert(listing() == merged, "a replay that adds no row wrote a file")
    val back = GraphStorage.load(spark, dir)
    assert(back.vertices.count() == 3)
    assert(back.edges.count() == 2)
  }

  test("load reads the schema contract with no job, and a store of other types fails") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-load").toString
    GraphStorage.write(g0, dir)
    sc.setJobGroup("graft-load", "graft-load")
    val back = try GraphStorage.load(spark, dir) finally sc.clearJobGroup()
    org.apache.spark.TestBus.drain(sc)
    assert(sc.statusTracker.getJobIdsForGroup("graft-load").isEmpty, "load ran a job")
    assert(back.vertices.schema.map(f => f.name -> f.dataType) ==
      PropertyGraph.VertexSchema.map(f => f.name -> f.dataType))
    assert(back.edges.schema.map(f => f.name -> f.dataType) ==
      PropertyGraph.EdgeSchema.map(f => f.name -> f.dataType))
    assert(back.vertices.count() == g0.vertices.count() && back.edges.count() == g0.edges.count())
    // a LONG weight is not narrowed to the contract's INT: the read fails
    val wide = Files.createTempDirectory("graft-load-wide").toString
    GraphStorage.write(g0.copy(edges = g0.edges.withColumn("weight", col("weight").cast("long"))), wide)
    val e = intercept[Exception](GraphStorage.load(spark, wide).edges.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.toString.contains("weight")), e.toString)
  }

  test("bucketed tables: hop-join plans with no Exchange on either side") {
    val g = graft.graph.GraphBuilder.build(spark, "/root/testdata/sf0.001")
    GraphStorage.writeBucketedTables(spark, g, db = "graft_test", buckets = 4)
    val b = GraphStorage.loadBucketedTables(spark, "graft_test")
    // force SMJ (no broadcast) to prove the bucketing carries the layout
    val join = b.vertices.hint("merge")
      .join(b.edges.hint("merge"), b.vertices("id") === b.edges("src"))
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(join.count() == b.edges.count())
  }

  test("GraphX connected components finds separate components") {
    val g = PropertyGraph(
      Seq(
        (1L, "a", "1", Map.empty[String, String]), (2L, "a", "2", Map.empty[String, String]),
        (10L, "a", "10", Map.empty[String, String]), (11L, "a", "11", Map.empty[String, String]))
        .toDF("id", "label", "key", "props"),
      Seq((1L, 2L, "in", 1), (10L, 11L, "in", 1)).toDF("src", "dst", "label", "weight"))
    val cc = GraphXBridge.connectedComponents(spark, g)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(10L) == 10L && cc(11L) == 10L)
  }

  test("zOrderWrite: every output file bounds BOTH dimensions (footer-prunable layout)") {
    // 64x64 grid, one row per cell: a contiguous Z-interval of ~256 codes
    // is a ~16x16 square, so each of 16 range-partitioned files must span
    // well under half of either dimension (sampled boundaries may straddle
    // two squares; 32 is the safe bound). A single-column sort would give
    // every file the FULL 0-63 range of the other dimension.
    val rows = (0 until 64).flatMap(a => (0 until 64).map(b => (a.toLong, b.toLong)))
      .toDF("a", "b")
    val dir = Files.createTempDirectory("zorder").toFile
    try {
      graft.operators.Layout.zOrderWrite(rows, col("a"), col("b"),
        dir.getAbsolutePath, nFiles = 16)
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length >= 8, s"expected ~16 files, got ${files.length}")
      files.foreach { f =>
        val Array((minA, maxA, minB, maxB)) = spark.read.parquet(f)
          .agg(min(col("a")), max(col("a")), min(col("b")), max(col("b")))
          .as[(Long, Long, Long, Long)].collect()
        assert(maxA - minA <= 32 && maxB - minB <= 32,
          s"file spans a=[$minA,$maxA] b=[$minB,$maxB] — z-clustering broken")
      }
      // Round trip is lossless and schema-clean (no helper column).
      val back = spark.read.parquet(dir.getAbsolutePath)
      assert(back.columns.toSeq == Seq("a", "b"))
      assert(back.count() == 4096L)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("parquet bloom filters: footer carries the index, absent keys reject groups") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // 20k scrambled ids in small row groups: min/max stats are useless by
    // construction (every group spans ~the full range), so the bloom
    // index is the ONLY thing that can skip a group on a point lookup —
    // the o4 gate's layout, verified here at the parquet-mr footer level.
    val n = 20000L
    val rows = spark.range(n).select(col("id"))
      .repartition(2)
      .sortWithinPartitions(graft.functions.Hashing.md5Long(col("id")))
    val dir = Files.createTempDirectory("graft-bloomspec").toString
    rows.write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.expected.ndv#id", n.toString)
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(s"$dir/indexed")
    rows.write.mode("overwrite").parquet(s"$dir/plain")
    def withReaders[A](sub: String)(f: Seq[ParquetFileReader] => A): A = {
      val readers = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(p => ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.getAbsolutePath), new Configuration())))
        .toSeq
      try f(readers) finally readers.foreach(_.close())
    }
    def idCol(g: org.apache.parquet.hadoop.metadata.BlockMetaData) =
      g.getColumns.asScala.find(_.getPath.toDotString == "id").get
    withReaders("indexed") { readers =>
      val groups = readers.flatMap(r =>
        r.getFooter.getBlocks.asScala.toSeq.map(r -> _))
      assert(groups.length >= 2, s"expected >=2 row groups, got ${groups.length}")
      // 1) every group's footer carries a bloom filter for id
      groups.foreach { case (_, g) => assert(idCol(g).getBloomFilterOffset >= 0,
        "bloom filter missing from a row group footer") }
      // 2) a PRESENT key is claimed by at least one group somewhere; an
      //    ABSENT key is rejected by at least one group (every-group
      //    false-positive on a 20k-ndv filter is ~impossible, and the
      //    write is deterministic either way)
      val blooms = groups.map { case (r, g) =>
        r.getBloomFilterDataReader(g).readBloomFilter(idCol(g))
      }
      def contains(v: Long) = blooms.count(b => b.findHash(b.hash(v)))
      assert(contains(123L) >= 1, "present key rejected by every group's bloom")
      assert(contains(987654321L) < blooms.length,
        "absent key accepted by every group — index content is broken")
    }
    // 3) the control write carries NO index
    withReaders("plain") { readers =>
      readers.flatMap(_.getFooter.getBlocks.asScala).foreach { g =>
        assert(idCol(g).getBloomFilterOffset < 0,
          "bloom filter present without the option")
      }
    }
    // 4) end-to-end through the real Spark scan: the point lookup is exact
    val got = spark.read.parquet(s"$dir/indexed")
      .filter(col("id").isin(123L, 4567L, 987654321L))
      .as[Long].collect().sorted
    assert(got.toSeq == Seq(123L, 4567L))
  }
}
