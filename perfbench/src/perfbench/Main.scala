package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphExport, PropertyGraph}
import graft.gremlin.GremlinLite
import graft.sources.{GraphStorage, GroovyLoader}

/** The IAM-lifecycle benchmark: one workload (`refresh`, `console` or
  * `report`) on an org generated from `--seed`, answers checked against
  * the generator's ground truth, one JSON result line on stdout.
  *
  * Usage (see perfbench/run.py, which builds and launches this):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  val Classes: Seq[String] = Seq("lookup", "guard", "reach", "who_can", "scan")
  /** One console operation is a deck holding this many queries of each
    * class (in [[Classes]] order), in an order shuffled by the seed. The mix
    * is an arbitrary lookup-heavy choice, not taken from any trace; every
    * class is in every deck, so each one moves the deck's latency. */
  val Deck: Seq[Int] = Seq(9, 4, 1, 1, 5)
  /** Zipf exponent of the users and buckets the console asks about. */
  val ZipfArgs = 1.0
  /** Items per directory page. */
  val PageSize = 500
  val TraversalCtx: Seq[String] = Seq("reach", "who_can", "reachfix", "closure")

  /** Every per-layer metric name, in output order, with its unit. */
  val PerLayer: Seq[(String, String)] =
    Seq("paged.busy_s" -> "s", "paged.rows" -> "count", "paged.requests" -> "count",
      "paged.retries" -> "count",
      "groovy.parse_s" -> "s", "groovy.statements" -> "count", "groovy.vertices" -> "count",
      "groovy.edges" -> "count", "groovy.tasks" -> "count", "groovy.max_task_s" -> "s",
      "storage.write_s" -> "s", "storage.write_bytes" -> "bytes", "storage.write_files" -> "count",
      "storage.bytes_per_input_byte" -> "ratio", "storage.merge_s" -> "s",
      "storage.merge_offered_rows" -> "count", "storage.merge_appended_rows" -> "count",
      "storage.merge_useful_ratio" -> "ratio", "storage.load_s" -> "s",
      "storage.files_read" -> "count", "storage.bytes_read" -> "bytes",
      "storage.rows_read_per_result" -> "ratio") ++
      Classes.flatMap(c => Seq(s"gremlin.run_ms.$c" -> "ms", s"gremlin.action_ms.$c" -> "ms",
        s"gremlin.plan_ms.$c" -> "ms", s"gremlin.jobs.$c" -> "count", s"gremlin.tasks.$c" -> "count")) ++
      TraversalCtx.flatMap(t => Seq(s"traversal.executions.$t" -> "count", s"traversal.jobs.$t" -> "count",
        s"traversal.busy_s.$t" -> "s", s"traversal.result_rows.$t" -> "count",
        s"traversal.shuffle_write_bytes.$t" -> "bytes", s"traversal.spill_bytes.$t" -> "bytes",
        s"traversal.edge_prep_bytes.$t" -> "bytes", s"traversal.cached_bytes_after.$t" -> "bytes")) ++
      Seq("export.write_s" -> "s", "export.bytes" -> "bytes", "export.read_s" -> "s",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_mb" -> "MB", "spark.driver_gap_s" -> "s",
        "spark.task_skew" -> "ratio", "trace.op_p50_ms" -> "ms", "trace.overhead_frac" -> "ratio",
        "trace.spans" -> "count")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath)
  }

  /** Exits 0 after printing a result, 1 on any error (no result line). */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    Console.out.flush()
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parseArgs(argv)
    require(Set("refresh", "console", "report")(a.workload), s"unknown workload ${a.workload}")
    deleteTree(a.work)
    Files.createDirectories(a.work)

    // Input generation: excluded from setup_s.
    val t0 = System.nanoTime()
    val gen = Gen.generate(a.seed, Dials.Bench)
    val day1Dir = a.work.resolve("day1"); val day2Dir = a.work.resolve("day2")
    val day1Bytes = Groovy.write(gen.day1, day1Dir)
    Groovy.write(gen.day2, day2Dir)
    val genNs = System.nanoTime() - t0

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val trace = new Trace(spark, a.trace)
    val run = new Run(spark, a, gen, day1Dir, day2Dir, day1Bytes, trace, jvmStartMs, genNs)
    val result =
      try a.workload match {
        case "refresh" => run.refresh()
        case "console" => run.console()
        case "report" => run.report()
      }
      finally trace.finish()

    val rss = peakRssMb()
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace)
        Seq(("setup_s", result.setupS, "s"), ("op_p50_ms", median(result.latMs), "ms"),
          ("peak_rss_mb", rss, "MB"))
      else run.layers(result).toSeq.map { case (k, v) => (k, v, PerLayer.toMap.apply(k)) }

    // Human-readable lines: the workload's named metrics with units.
    val attempted = result.attempted
    println(f"workload ${a.workload} seed ${a.seed} trace ${if (a.trace) 1 else 0} ops ${result.latMs.size} " +
      f"storage_memory_mb $storageMb%.1f")
    println(result.latMs.map(ms => f"$ms%.1f").mkString("op_latencies_ms ", " ", ""))
    result.named.foreach { case (k, v, u) => println(f"metric $k $v%.4f $u") }
    println(f"metric peak_rss_mb $rss%.1f MB")
    println(f"metric fail_frac ${result.failed.toDouble / math.max(1, attempted)}%.4f ratio")
    result.failures.take(5).foreach(f => println(s"failure $f"))
    if (a.trace) {
      val f = a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
      Files.write(f, trace.spansJson.asJava)
      println(s"spans $f")
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${result.failed == 0}, "attempted": $attempted, "failed": ${result.failed}, """ +
      s""""metrics": {$body}}""")
    spark.stop()
    deleteTree(a.work)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def pct(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def treeBytes(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")
        && !f.getFileName.toString.startsWith("_")).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }
}

/** What one workload run produced: operation latencies, failures, the
  * workload's named end-to-end metrics and its per-operation layer data. */
final case class Result(setupS: Double, latMs: Seq[Double], attempted: Int, failed: Int,
                        failures: Seq[String], named: Seq[(String, Double, String)],
                        tracedLatMs: Seq[Double], untracedLatMs: Seq[Double])

/** The three workloads. setup_s is the wall time from JVM start until the
  * first timed operation begins, less input generation (`genNs`) and the
  * answer checker's preparation ([[unclocked]]). */
final class Run(spark: SparkSession, a: Main.Args, gen: Generated, day1Dir: Path, day2Dir: Path,
                day1Bytes: Long, trace: Trace, jvmStartMs: Long, genNs: Long) {
  import Main._
  import spark.implicits._

  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0
  private val layer = mutable.LinkedHashMap(PerLayer.map(_._1 -> 0.0): _*)
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** Record one checked answer. */
  private def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** Run one operation; an exception counts as a failed operation. */
  private def guarded(what: String)(body: => Double): Double =
    try body
    catch { case t: Throwable =>
      attempted += 1; failed += 1; failures += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"
      Double.NaN
    }

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private var unclockedNs = genNs
  /** Checker preparation: left out of setup_s. */
  private def unclocked[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally unclockedNs += System.nanoTime() - t0
  }

  /** Force a lazy frame with the noop sink (traced run only), so the next
    * layer's span covers only its own work. */
  private def force(df: DataFrame): Unit =
    if (trace.active) df.write.format("noop").mode("overwrite").save()

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def scripts(dir: Path) =
    spark.read.option("wholetext", "true").text(dir.toString).as[String]

  private def cachedBytes: Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => (max - free).toDouble }.sum

  /** GroovyLoader.load of the seven files in `dir`; in a traced operation
    * each batch is forced in a span of its own. */
  private def loadScripts(dir: Path, name: String, op: Int): (DataFrame, DataFrame) = {
    val (v, e) = trace.span(name, op) {
      val ve = GroovyLoader.load(scripts(dir), Gen.KeyProps)
      force(ve._1); force(ve._2)
      ve
    }
    // Row counts of the parsed batches: read from the loader's parse cache,
    // outside the span.
    if (trace.active) { sample(s"$name.v", v.count().toDouble); sample(s"$name.e", e.count().toDouble) }
    (v, e)
  }

  /** GroovyLoader → GraphStorage.write of day 1 into `store`. */
  private def buildStore(store: Path, op: Int): Unit = {
    val (v, e) = loadScripts(day1Dir, "groovy.load", op)
    trace.span("storage.write", op)(GraphStorage.write(PropertyGraph(v, e), store.toString))
    if (trace.active) {
      val (bytes, files) = treeBytes(store)
      sample("storage.write_bytes", bytes.toDouble); sample("storage.write_files", files.toDouble)
    }
  }

  /** Set-up shared by `console` and `report`: build the day-1 store once,
    * through the same path `refresh` times, and load it. */
  private def setupStore(): PropertyGraph = {
    val store = a.work.resolve("store")
    buildStore(store, -1)
    clearCaches()
    GraphStorage.load(spark, store.toString)
  }

  /** The store's own id for every (label, key), checked against the org. */
  private def idMap(g: PropertyGraph, org: Org): Int => Long = {
    val rows = g.V.select("id", "label", "key").collect()
    val byKey = rows.map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    val ok = rows.length == org.vertices.size && byKey.size == rows.length &&
      rows.map(_.getLong(0)).distinct.length == rows.length &&
      org.vertices.forall(v => byKey.contains((v.label, v.key)))
    check("store vertex ids form a bijection with the org's vertices", ok)
    val ids = org.vertices.map(v => byKey.getOrElse((v.label, v.key), Long.MinValue)).toArray
    i => ids(i)
  }

  /** Census of a store: vertex and edge count per label. */
  private def census(g: PropertyGraph): Map[String, Long] =
    g.V.groupBy("label").agg(count(lit(1)).as("n")).select(concat(lit("V:"), col("label")).as("k"), col("n"))
      .unionByName(g.E.groupBy("label").agg(count(lit(1)).as("n"))
        .select(concat(lit("E:"), col("label")).as("k"), col("n")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Run operations until `--seconds` have passed and at least `minOps`
    * were measured; the first `warmOps` warm the JVM and are not measured.
    * `op(k)` gets the index of the measured operation (negative while
    * warming) and returns the latency of its timed part in ms (NaN if it
    * failed), which leaves answer checks and clean-up out. setup_s ends as
    * the first operation starts. A traced run measures at least four
    * operations and traces them in the order T U U T, T U U T, ..., so that
    * warm-up still under way weighs on traced and untraced alike. Returns
    * the measured latencies and, of those, the traced and the untraced. */
  private def timedOps(warmOps: Int, minOps: Int)(op: Int => Double)
  : (Double, Seq[Double], Seq[Double], Seq[Double]) = {
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - unclockedNs / 1e9
    val all = mutable.ArrayBuffer.empty[Double]
    val on = mutable.ArrayBuffer.empty[Double]; val off = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val need = warmOps + (if (trace.enabled) math.max(minOps, 4) else minOps)
    var i = 0
    while (i < need || System.nanoTime() < deadline) {
      val k = i - warmOps
      val traced = trace.enabled && k >= 0 && (k % 4 == 0 || k % 4 == 3)
      trace.setRecording(traced)
      val ms = op(k)
      trace.setRecording(false)
      if (k >= 0 && !ms.isNaN) { all += ms; if (traced) on += ms else off += ms }
      i += 1
    }
    (setupS, all.toSeq, on.toSeq, off.toSeq)
  }

  // ------------------------------------------------------------- refresh

  def refresh(): Result = {
    val server = new DirServer(gen.day1, PageSize)
    val eps = Seq("users", "groups", "members")
    val (expected, day2Census) =
      unclocked((eps.map(ep => ep -> Fp.of(server.expectedRows(ep))).toMap, gen.day2.census))
    val pages = eps.map(server.pages).sum
    var rep = 0
    val (setupS, lat, on, off) = try timedOps(1, 2) { op =>
      val store = a.work.resolve(s"refresh-$rep")
      val req0 = server.requests.get()
      val ms = guarded(s"refresh $rep") {
        val t0 = System.nanoTime()
        val got = trace.span("refresh", op) {
          val extracted = trace.span("paged.extract", op)(eps.map { ep =>
            ep -> trace.span(s"paged.$ep", op)(Fp.spark(spark.read.format("graft.sources.PagedApiSource")
              .option("url", server.url(ep)).option("mode", "indexed")
              .option("pages", server.pages(ep).toLong).option("pageSize", PageSize.toLong)
              .option("itemsKey", ep).option("fields", server.fields(ep))
              .option("minIntervalMs", 0L).option("maxRetries", 3L).load()))
          }.toMap)
          buildStore(store, op)
          val (v2, e2) = loadScripts(day2Dir, "groovy.load2", op)
          trace.span("storage.merge", op)(GraphStorage.merge(spark, store.toString, v2, e2))
          trace.span("storage.merge_replay", op)(GraphStorage.merge(spark, store.toString, v2, e2))
          val cen = trace.span("storage.load", op)(census(GraphStorage.load(spark, store.toString)))
          (extracted, cen)
        }
        val ms = msSince(t0)
        val (extracted, cen) = got
        eps.foreach(ep => check(s"extract $ep", extracted(ep) == expected(ep)))
        check(s"census after merge and replay: $cen vs $day2Census", cen == day2Census)
        if (trace.active) {
          sample("paged.requests", (server.requests.get() - req0).toDouble)
          sample("paged.rows", extracted.values.map(_.count).sum.toDouble)
        }
        // Full content check of the final store (untimed).
        checkStore(GraphStorage.load(spark, store.toString), gen.day2, s"refresh $rep store")
        ms
      }
      clearCaches()
      deleteTree(store)
      rep += 1
      ms
    } finally server.stop()
    if (samples.contains("paged.requests"))
      layer("paged.retries") = median(samples("paged.requests").toSeq) - pages
    val named = Seq(("setup_s", setupS, "s"), ("refresh_s", median(lat) / 1e3, "s"))
    Result(setupS, lat, attempted, failed, failures.toSeq, named, on, off)
  }

  /** Compare a store's full content with an org (ids mapped through the
    * store's own vertex table). */
  private def checkStore(g: PropertyGraph, org: Org, what: String): Unit = {
    val vs = g.V.select("id", "label", "key", "props").collect()
    val keyOf = vs.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val gotV = Fp.of(vs.toSeq.map(r => Seq(r.getString(1), r.getString(2), r.getMap[String, String](3))))
    val wantV = Fp.of(org.vertices.map(v => Seq(v.label, v.key, v.props)))
    val es = g.E.select("src", "dst", "label").collect()
    val gotE = Fp.of(es.toSeq.map { r =>
      val (sl, sk) = keyOf.getOrElse(r.getLong(0), ("?", "?"))
      val (dl, dk) = keyOf.getOrElse(r.getLong(1), ("?", "?"))
      Seq(sl, sk, dl, dk, r.getString(2))
    })
    val wantE = Fp.of(org.edges.map { e =>
      val s = org.vertices(e.src); val d = org.vertices(e.dst)
      Seq(s.label, s.key, d.label, d.key, e.label)
    })
    check(s"$what vertices", gotV == wantV && keyOf.size == vs.length)
    check(s"$what edges", gotE == wantE)
  }

  // ------------------------------------------------------------- console

  def console(): Result = {
    val g = setupStore()
    val org = gen.day1
    val (id, truth) = unclocked((idMap(g, org), new Truth(org)))
    val r = new SplittableRandom(a.seed * 31 + 7)
    val users = shuffled(org.indexesOf("user"), r)
    val buckets = shuffled(org.indexesOf("bucket"), r)
    val zu = new Gen.Zipf(users.size, ZipfArgs)
    val zb = new Gen.Zipf(buckets.size, ZipfArgs)
    val outIn = org.out("in")
    val groupIdx = org.indexesOf("group")
    val perClass = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var q = 0 // query number: the operation id of the gremlin spans

    /** One query: its latency in ms from GremlinLite.run through collect. */
    def query(c: String, measured: Boolean): Double = {
      val u = users(zu.sample(r))
      val email = org.vertices(u).key
      val (text, binds, want): (String, Map[String, Long], Seq[Seq[Any]]) = c match {
        case "lookup" =>
          (s"g.V().hasLabel('user').has('email','$email').out('in').valueMap()", Map.empty, truth.lookup(u))
        case "guard" =>
          val member = outIn(u).filter(org.vertices(_).label == "group")
          val grp = if (member.nonEmpty && r.nextBoolean()) member(r.nextInt(member.length))
                    else groupIdx(r.nextInt(groupIdx.size))
          ("g.V(u1).outE('in').where(inV().hasId( g1.id() )).hasNext()",
            Map("u1" -> id(u), "g1" -> id(grp)), Seq(Seq(truth.guard(u, grp))))
        case "reach" =>
          (s"g.V().hasLabel('user').has('email','$email').repeat(out('in')).until(hasLabel('project')).emit()",
            Map.empty, truth.reachEmit(u))
        case "who_can" =>
          val b = buckets(zb.sample(r))
          (s"g.V().hasLabel('bucket').has('name','${org.vertices(b).key}').repeat(in('in')).until(hasLabel('user'))",
            Map.empty, truth.whoCan(b))
        case "scan" => ("g.V().groupCount().by(label)", Map.empty, truth.scan)
      }
      val ms = guarded(s"console $c $text") {
        val t0 = System.nanoTime()
        val df = trace.span(s"gremlin.run.$c", q)(GremlinLite.run(g, text, binds, Gen.KeyProps))
        val rows = trace.span(s"gremlin.action.$c", q)(df.collect())
        val ms = msSince(t0)
        if (measured) perClass.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += ms
        val got = c match {
          case "lookup" | "reach" | "who_can" =>
            // id must be the store's id of the row's (label, key)
            rows.toSeq.map(rw => Seq(rw.getString(1), rw.getString(2), rw.getMap[String, String](3)) ->
              (id(org.index((rw.getString(1), rw.getString(2)))) == rw.getLong(0)))
          case _ => Fp.rowsOf(rows).map(_ -> true)
        }
        check(s"console $c $text", got.forall(_._2) && Fp.of(got.map(_._1)) == Fp.of(want))
        if (trace.active) {
          sample(s"rows.$c", rows.length.toDouble)
          if (c == "reach" || c == "who_can") sample(s"cached.$c", cachedBytes)
        }
        ms
      }
      q += 1
      ms
    }

    // One operation is one deck: its latency is the sum of its queries'.
    val (setupS, lat, on, off) = timedOps(2, 2) { k =>
      val deck = shuffled(Classes.indices.flatMap(i => Vector.fill(Deck(i))(i)).toVector, r).map(Classes)
      trace.span("console", k)(deck.map(c => query(c, k >= 0)).sum)
    }
    val perQuery = perClass.values.flatten.toSeq
    val named = Seq(("setup_s", setupS, "s"), ("console_deck_ms", median(lat), "ms"),
      ("console_p50_ms", median(perQuery), "ms"), ("console_p95_ms", pct(perQuery, 95), "ms")) ++
      Classes.map(c => (s"${c}_p50_ms", median(perClass.getOrElse(c, Nil).toSeq), "ms"))
    Result(setupS, lat, attempted, failed, failures.toSeq, named, on, off)
  }

  private def shuffled(xs: Vector[Int], r: SplittableRandom): Vector[Int] = {
    val arr = xs.toArray
    (arr.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toVector
  }

  // ------------------------------------------------------------- report

  def report(): Result = {
    val g = setupStore()
    val org = gen.day1
    val (wantAccess, wantClosure, (wantSubV, wantSubE)) = unclocked {
      val id = idMap(g, org)
      val truth = new Truth(org)
      (truth.access, truth.closure(id), truth.accessSubgraph(id))
    }
    var rep = 0
    val (setupS, lat, on, off) = timedOps(1, 1) { op =>
      val exportDir = a.work.resolve(s"export-$rep")
      val ms = guarded(s"report $rep") {
        val t0 = System.nanoTime()
        val (accessFp, closureFp, subV, subE) = trace.span("report", op) {
          val principals = g.V.filter(col("label").isin("user", "serviceAccount")).select("id")
          val pairs = trace.span("traversal.reachfix", op)(g.reachFix(principals, dedupStart = false))
          val accessFp = trace.span("report.access", op) {
            val res = g.V.filter(col("label").isin("project", "bucket"))
              .select(col("id").as("node"), col("label").as("rlabel"), col("key").as("rkey"))
            val pv = g.V.filter(col("label").isin("user", "serviceAccount"))
              .select(col("id").as("origin"), col("label").as("plabel"), col("key").as("pkey"))
            Fp.spark(pairs.join(res, "node").join(pv, "origin").select("plabel", "pkey", "rlabel", "rkey"))
          }
          if (trace.active) sample("cached.reachfix", cachedBytes)
          val clo = trace.span("traversal.closure", op)(g.closure())
          val closureFp = trace.span("report.closure_fp", op)(Fp.spark(clo))
          if (trace.active) sample("cached.closure", cachedBytes)
          val sub = g.subgraph(col("label") === "in")
          trace.span("export.write", op)(GraphExport.writeGraphsonTyped(sub, exportDir.toString))
          val (subV, subE) = trace.span("export.read", op) {
            val back = GraphExport.readGraphsonTyped(spark, exportDir.toString)
            (Fp.spark(back.vertices.select("id", "label", "key", "props")),
              Fp.spark(back.edges.select("src", "dst", "label", "weight")))
          }
          (accessFp, closureFp, subV, subE)
        }
        val ms = msSince(t0)
        check(s"report $rep access pairs", accessFp == wantAccess)
        check(s"report $rep closure", closureFp == wantClosure)
        check(s"report $rep export vertices", subV == wantSubV)
        check(s"report $rep export edges", subE == wantSubE)
        if (trace.active) {
          sample("rows.reachfix", accessFp.count.toDouble); sample("rows.closure", closureFp.count.toDouble)
          sample("export.bytes", treeBytes(exportDir)._1.toDouble)
        }
        ms
      }
      clearCaches()
      deleteTree(exportDir)
      rep += 1
      ms
    }
    val named = Seq(("setup_s", setupS, "s"), ("report_s", median(lat) / 1e3, "s"),
      ("access_pairs", wantAccess.count.toDouble, "count"), ("closure_pairs", wantClosure.count.toDouble, "count"))
    Result(setupS, lat, attempted, failed, failures.toSeq, named, on, off)
  }

  // ------------------------------------------------------------- layers

  /** Per-layer metrics from the traced operations of this run. */
  def layers(res: Result): mutable.LinkedHashMap[String, Double] = {
    val spans = trace.spans.toSeq
    def named(n: String) = spans.filter(_.name == n)
    def perOp(ss: Seq[Span])(f: Span => Double): Double =
      median(ss.groupBy(_.op).values.map(_.map(f).sum).toSeq)
    def cs(s: Span) = trace.tree(s)
    def sumC(s: Span)(f: Counters => Double) = cs(s).map(f).sum

    // sources
    val paged = named("paged.extract")
    layer("paged.busy_s") = perOp(paged)(_.wallS)
    layer("paged.rows") = samples.get("paged.rows").map(xs => median(xs.toSeq)).getOrElse(0.0)
    layer("paged.requests") = samples.get("paged.requests").map(xs => median(xs.toSeq)).getOrElse(0.0)
    val g1 = named("groovy.load")
    def records(n: String) = perOp(named(n))(s => sumC(s)(_.outputRecords.toDouble))
    def rows(n: String) = samples.get(n).map(xs => median(xs.toSeq)).getOrElse(0.0)
    layer("groovy.parse_s") = perOp(g1)(_.wallS)
    layer("groovy.vertices") = rows("groovy.load.v")
    layer("groovy.edges") = rows("groovy.load.e")
    layer("groovy.statements") = layer("groovy.vertices") + layer("groovy.edges")
    layer("groovy.tasks") = perOp(g1)(s => cs(s).flatMap(_.stageTaskMs.values.map(_.size.toDouble)).maxOption.getOrElse(0.0))
    layer("groovy.max_task_s") = perOp(g1)(s => cs(s).map(_.maxTaskMs).maxOption.getOrElse(0L) / 1e3)
    layer("storage.write_s") = perOp(named("storage.write"))(_.wallS)
    layer("storage.write_bytes") = samples.get("storage.write_bytes").map(xs => median(xs.toSeq)).getOrElse(0.0)
    layer("storage.write_files") = samples.get("storage.write_files").map(xs => median(xs.toSeq)).getOrElse(0.0)
    layer("storage.bytes_per_input_byte") =
      if (day1Bytes > 0) layer("storage.write_bytes") / day1Bytes else 0.0
    layer("storage.merge_s") = perOp(named("storage.merge"))(_.wallS)
    layer("storage.merge_offered_rows") = rows("groovy.load2.v") + rows("groovy.load2.e")
    layer("storage.merge_appended_rows") = records("storage.merge")
    layer("storage.merge_useful_ratio") =
      layer("storage.merge_appended_rows") / math.max(1.0, layer("storage.merge_offered_rows"))
    layer("storage.load_s") = perOp(named("storage.load"))(_.wallS)
    // gremlin + console storage reads
    Classes.foreach { c =>
      val run = named(s"gremlin.run.$c"); val act = named(s"gremlin.action.$c")
      layer(s"gremlin.run_ms.$c") = median(run.map(_.wallS * 1e3))
      layer(s"gremlin.action_ms.$c") = median(act.map(_.wallS * 1e3))
      val both = run ++ act
      layer(s"gremlin.plan_ms.$c") = perOp(both)(s => sumC(s)(_.planMs.toDouble))
      layer(s"gremlin.jobs.$c") = perOp(both)(s => sumC(s)(_.jobs.toDouble))
      layer(s"gremlin.tasks.$c") = perOp(both)(s => sumC(s)(_.tasks.toDouble))
    }
    val lookups = named("gremlin.run.lookup") ++ named("gremlin.action.lookup")
    if (lookups.nonEmpty) {
      layer("storage.files_read") = perOp(lookups)(s => sumC(s)(_.filesRead.toDouble))
      layer("storage.bytes_read") = perOp(lookups)(s => sumC(s)(_.inputBytes.toDouble))
      val scanned = lookups.map(s => sumC(s)(_.rowsScanned.toDouble)).sum
      val returned = samples.get("rows.lookup").map(_.sum).getOrElse(0.0)
      layer("storage.rows_read_per_result") = if (returned > 0) scanned / returned else 0.0
    }
    // traversal: the spans of the traversal calls themselves (GremlinLite.run
    // runs its repeat() lowering eagerly)
    val travSpans = Map(
      "reach" -> named("gremlin.run.reach"), "who_can" -> named("gremlin.run.who_can"),
      "reachfix" -> named("traversal.reachfix"), "closure" -> named("traversal.closure"))
    travSpans.foreach { case (t, ss) =>
      layer(s"traversal.executions.$t") = perOp(ss)(s => sumC(s)(_.executions.toDouble))
      layer(s"traversal.jobs.$t") = perOp(ss)(s => sumC(s)(_.jobs.toDouble))
      layer(s"traversal.busy_s.$t") = perOp(ss)(s => cs(s).map(_.busyS).sum)
      layer(s"traversal.result_rows.$t") = samples.get(s"rows.$t").map(xs => median(xs.toSeq)).getOrElse(0.0)
      layer(s"traversal.shuffle_write_bytes.$t") = perOp(ss)(s => sumC(s)(_.shuffleWrite.toDouble))
      layer(s"traversal.spill_bytes.$t") = perOp(ss)(s => sumC(s)(_.spill.toDouble))
      layer(s"traversal.edge_prep_bytes.$t") = perOp(ss)(s => sumC(s)(_.edgePrepBytes.toDouble))
      layer(s"traversal.cached_bytes_after.$t") = samples.get(s"cached.$t").map(_.last).getOrElse(0.0)
    }
    // export
    layer("export.write_s") = perOp(named("export.write"))(_.wallS)
    layer("export.read_s") = perOp(named("export.read"))(_.wallS)
    layer("export.bytes") = samples.get("export.bytes").map(xs => median(xs.toSeq)).getOrElse(0.0)
    // spark engine, per traced operation: every span under the operation's
    // top-level span
    val roots = spans.filter(_.parent < 0)
    def perOpC(f: Counters => Double): Double = median(roots.map(s => cs(s).map(f).sum).toSeq)
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id))
    def rootOf(s: Span): Int = if (s.parent < 0) s.id else rootOf(spans(s.parent))
    layer("spark.jobs") = perOpC(_.jobs)
    layer("spark.stages") = perOpC(_.stages)
    layer("spark.tasks") = perOpC(_.tasks)
    layer("spark.executor_run_s") = perOpC(_.runMs / 1e3)
    layer("spark.executor_cpu_s") = perOpC(_.cpuNs / 1e9)
    layer("spark.gc_s") = perOpC(_.gcMs / 1e3)
    layer("spark.input_bytes") = perOpC(_.inputBytes.toDouble)
    layer("spark.output_bytes") = perOpC(_.outputBytes.toDouble)
    layer("spark.shuffle_read_bytes") = perOpC(_.shuffleRead.toDouble)
    layer("spark.shuffle_write_bytes") = perOpC(_.shuffleWrite.toDouble)
    layer("spark.spill_bytes") = perOpC(_.spill.toDouble)
    layer("spark.peak_exec_mem_mb") = spans.map(s => trace.of(s).peakExec / 1048576.0).maxOption.getOrElse(0.0)
    layer("spark.driver_gap_s") =
      median(leaves.groupBy(rootOf).values.map(_.map(s => math.max(0.0, s.wallS - trace.of(s).busyS)).sum).toSeq)
    layer("spark.task_skew") = median(spans.toSeq.map(s => trace.of(s).taskSkew).filter(_ > 0))
    layer("trace.op_p50_ms") = median(res.tracedLatMs)
    layer("trace.overhead_frac") =
      if (res.untracedLatMs.isEmpty) 0.0 else median(res.tracedLatMs) / median(res.untracedLatMs) - 1
    layer("trace.spans") = spans.size
    layer
  }
}
