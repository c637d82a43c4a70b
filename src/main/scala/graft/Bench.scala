package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.CheckpointUtil

object Bench {

  /** Representative subset for the final (machine-parsed) JSON line: the
    * graph-store traversals, the heavy joins/aggs, and one of each
    * training-data operator family. The FULL per-query map is printed on
    * its own line just above (and the consumer's tail buffer is ~2000
    * chars, which the full 70+-entry map overflows — hence the split). */
  private[graft] val headline = Seq(
    "a02_label_filter", "a06_upsert_vertices", "a08_edge_semi_join",
    "a13_khop2_regions", "a14_reach_fixpoint", "a18_bulk_load_merge",
    "b09_invert_map", "b10_dedup_rank", "q1_pricing_summary",
    "q3_top_revenue", "q5_region_revenue", "k1_global_topk",
    "d_minhash_lsh", "d_dup_clusters", "d_contamination",
    "d_semantic_dup", "d_pipeline_e2e",
    "e2_lsh_ann", "e3_cosine_neardup", "e8_ivfpq_ann",
    "t_quality_score", "sw1_tumbling_window", "sw3_session_window",
    "z1_asof_join", "x1_connected_components", "x3_triangle_count",
    "a18b_groovy_load", "a19_bucketed_layout",
    "d_substring_spans", "e9_centroid_assign",
    "d_containment_est", "e12_lloyd_step", "z3_interval_overlap",
    "m4_bmp_roundtrip", "a21_hop_power",
    "x12_mis", "cd6_quantiles_nosort", "e14_gram", "x11b_hyperball",
    // round 11 additions: the salted hop twin, the real-streaming
    // family, the sample-quantile sketch, and the fuzzy key join
    "a13b_khop_salted", "sw11_stream_dedup", "sw12_stream_attribution",
    "cd8_sample_quantiles", "d_fuzzy_join", "g5_repeat_until",
    // round 11 late additions: the embedding-training data trio and the
    // persisted-index serving path
    "x15_negative_sampling", "x16_random_walks", "e16_hard_negatives",
    "e17_ivf_index_persist",
    // the third production tokenizer (unigram-LM Viterbi) and the
    // integer betweenness
    "t_unigram_segment", "x22_stress",
    // round 11 final additions (the compact JSON line must stay under
    // the consumer's ~2000-char tail buffer; main() enforces that by
    // dropping tail entries with a stderr note instead of trusting this
    // list to stay short)
    "x26_closeness", "q21_waiting_suppliers", "ev1_roc_auc",
    // the binary-quantized ANN scale path and the robust outlier screen
    "e22_binary_rerank", "dq9_mad_outliers",
    // DAG layering and the first-claim novelty scorer
    "x30_topo_layers", "d_novelty",
    // round 15: the deep-DAG doubling gate and the ListState window —
    // the two new gates with non-trivial cost (b03/o5 are sub-second)
    "x32_deep_layers", "sw26_stream_tws_lastk",
    // round 16: the SQL-surface recursion and the TTL two-phase replay
    // (o7's skew join is ~1.3 s and rides the headline joins already)
    "a25_sql_recursive", "sw28_stream_tws_ttl")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // The events reader's NTZ→timestamp cast is instant-preserving only
      // under a UTC session zone; pin it here, not just in sbt javaOptions,
      // so a bare spark-submit of the jar times the same queries.
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Load the graph store once before timing queries — the analogue of the
    // reference loading JanusGraph before its interactive session
    // (README.md:286-300; its 1h+ bulk load isn't counted in query times).
    graph.GraphStore.get(spark, sfDir)

    // A failed query times as -1 so it can never flatter the total; the
    // final JSON carries the failed names explicitly. A query that leaves
    // CacheManager entries behind fails too: the store's two are the only
    // long-lived state a query may find.
    def run(name: String): Double = {
      val before = CheckpointUtil.cachedEntries(spark)
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          Console.err.println(s"BENCH FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val leaked = CheckpointUtil.cachedEntries(spark) - before
      if (leaked > 0)
        Console.err.println(s"BENCH FAIL $name: left $leaked CacheManager entries behind")
      if (ok && leaked <= 0) secs else -1.0
    }

    // Optional args: bench only the named queries (dev-mode adjudication
    // of a single noisy timing); the driver passes none and gets all.
    // A typo'd name must FAIL, not silently print a zero-query success.
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.length == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    val wanted =
      if (args.nonEmpty) SparkEntry.queries.keys.filter(args.toSet).toSeq
      else SparkEntry.queries.keys.toSeq
    // Multi-pass protocol: this host shows multi-x run-to-run noise
    // (BASELINE.md documents 2-5x spread within one process), which cost
    // three rounds of manual adjudication (r3/r5/r7). So the RECORDED
    // artifact is the per-query minimum over N full passes (default 2,
    // SPARK_GRAFT_BENCH_PASSES to change) plus one extra pass for the
    // slowest 8 — min-of-3 where noise hurts most — with the per-query
    // median alongside so a reader can see the spread without rerunning.
    // A failure in any pass keeps the -1 sentinel for that query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)

    // Noise self-calibration: this host's timings swing ±2-5× between
    // same-day windows (BASELINE.md's control readings), which has cost a
    // manual adjudication in three separate rounds (r7/r11/r13). So the
    // record carries its OWN calibration: a pinned 10-gate control prefix
    // runs once before and once after the full board, and window_factor =
    // end-total / start-total. A factor near 1 means the window was
    // stable and deltas vs last round are real; a factor of 1.3+ means
    // the box drifted mid-record and per-gate regressions inside the
    // envelope should be read as noise. The control gates are pinned
    // (never edit this list — comparability across rounds is the point)
    // and span the plan families: scan-agg, join, traversal, dedup, ANN,
    // streaming-state, text, window.
    val controlGates = Seq(
      "a02_label_filter", "a08_edge_semi_join", "a13_khop2_regions",
      "q1_pricing_summary", "q5_region_revenue", "b10_dedup_rank",
      "d_minhash_lsh", "e3_cosine_neardup", "t_quality_score",
      "z1_asof_join")
    def controlPass(): Map[String, Double] =
      controlGates.filter(SparkEntry.queries.contains).map(n => n -> run(n)).toMap
    // dev-mode single-gate adjudication runs skip the calibration passes
    val calibrate = args.isEmpty
    // one UNTIMED control pass first: the factor must read host drift,
    // not first-run JIT/cache warmup (the uncalibrated r14 dry run read
    // 0.33 — i.e. 3× "speedup" — purely from measuring a cold start)
    if (calibrate) controlPass()
    val controlStart = if (calibrate) controlPass() else Map.empty[String, Double]

    val samples = scala.collection.mutable.Map[String, List[Double]]()
    for (_ <- 1 to passes; n <- wanted)
      samples(n) = run(n) :: samples.getOrElse(n, Nil)
    def minOf(ts: List[Double]): Double = if (ts.exists(_ < 0)) -1.0 else ts.min
    for ((n, _) <- samples.toSeq.sortBy { case (n, ts) => -minOf(ts) }.take(8))
      samples(n) = run(n) :: samples(n)
    def medOf(ts: List[Double]): Double =
      if (ts.exists(_ < 0)) -1.0
      else { val s = ts.sorted; (s((s.length - 1) / 2) + s(s.length / 2)) / 2 }
    val results = samples.map { case (n, ts) => n -> minOf(ts) }.toMap
    val medians = samples.map { case (n, ts) => n -> medOf(ts) }.toMap
    val failed = results.filter(_._2 < 0).keys.toSeq.sorted

    val controlEnd = if (calibrate) controlPass() else Map.empty[String, Double]
    // The factor compares the SAME gate set on both sides: a gate that
    // failed in only one calibration pass would otherwise shift one sum
    // but not the other and fabricate exactly the drift signal the
    // feature exists to rule out. -1.0 = calibration unavailable
    // (dev-mode subset run, or no control gate succeeded in both passes).
    val controlBoth = controlGates.filter(n =>
      controlStart.getOrElse(n, -1.0) >= 0 && controlEnd.getOrElse(n, -1.0) >= 0)
    val startSum = controlBoth.map(controlStart).sum
    val endSum = controlBoth.map(controlEnd).sum
    val windowFactor =
      if (calibrate && controlBoth.nonEmpty && startSum > 0)
        math.rint(endSum / startSum * 1000) / 1000
      else -1.0
    if (calibrate && controlBoth.size < controlGates.size)
      Console.err.println("bench: window_factor computed over " +
        s"${controlBoth.size}/${controlGates.size} control gates (rest " +
        "failed in at least one calibration pass)")
    def fmt(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + math.rint(v * 1000) / 1000 }
        .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val totalR = math.rint(total * 1000) / 1000
    val medTotal = medians.values.filter(_ >= 0).sum
    val medTotalR = math.rint(medTotal * 1000) / 1000
    // Complete LABELED per-query maps — too big for a tail-window parser
    // (136 entries ≈ 3.5 KB vs the consumer's ~2 KB buffer), so they go to
    // a file the compact line points at, plus a log line for humans.
    val fullJson =
      s"""{"metric":"total_full","value_min":$totalR,"value_median":$medTotalR,"unit":"sec","passes":$passes,"window_factor":$windowFactor,"queries_min":${fmt(results.toSeq.sortBy(_._1))},"queries_median":${fmt(medians.toSeq.sortBy(_._1))},"failed":$failedJson,"sf":"$sfDir"}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case t: Throwable => Console.err.println(s"bench_full write failed: $t") }
    println(fullJson)
    // The compact headline line LAST so a tail-window parser always sees
    // one complete JSON object; its `queries` subset is the per-query MIN
    // (queries_kind labels it; the complete maps live at `full`).
    // Budget guard: the consumer's tail buffer is ~2000 chars. Growing
    // `headline` past it would silently truncate the JSON mid-object, so
    // drop tail entries until the line fits and say what was dropped —
    // the full maps above carry every query regardless.
    def compactLine(head: Seq[(String, Double)], failedField: String): String =
      s"""{"metric":"total","value":$totalR,"value_median":$medTotalR,"unit":"sec","n_queries":${results.size},"queries_kind":"min","window_factor":$windowFactor,"full":"$fullPath","queries":${fmt(head)},"failed":$failedField,"sf":"$sfDir"}"""
    var head = headline.flatMap(n => results.get(n).map(n -> _))
    var failedField = failedJson
    val budget = 2000
    // Order matters: a mass failure can blow the budget through `failed`
    // alone (70 names ≈ 1.6 KB), and cutting headline entries first would
    // throw away the timings the line exists to carry. So: 1. truncate
    // the failed list (keep a count pointing at `full`), 2. then fit the
    // headline, 3. final hard check — a line the consumer's ~2000-char
    // tail buffer would cut mid-object must never print.
    if (compactLine(head, failedField).length > budget && failed.size > 5) {
      val keep = failed.take(5)
      failedField = (keep.map("\"" + _ + "\"") :+
        s""""...and ${failed.size - keep.size} more (see full)"""")
        .mkString("[", ",", "]")
      Console.err.println(s"bench: failed list truncated to ${keep.size} of " +
        s"${failed.size} names to fit the tail buffer")
    }
    if (compactLine(head, failedField).length > budget) {
      val fits = head.indices.reverse
        .find(i => compactLine(head.take(i + 1), failedField).length <= budget)
        .map(_ + 1).getOrElse(0)
      Console.err.println(s"bench: compact line over $budget chars — " +
        s"dropped headline entries: ${head.drop(fits).map(_._1).mkString(", ")}")
      head = head.take(fits)
    }
    if (compactLine(head, failedField).length > budget) {
      failedField = s"""["${failed.size} failed (see full)"]"""
      Console.err.println("bench: failed detail dropped entirely to fit the tail buffer")
    }
    println(compactLine(head, failedField))
    spark.stop()
  }
}
