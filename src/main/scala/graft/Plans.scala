package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps annotated physical plans for the flagship query shapes into
  * PLANS.md — the evidence that layout/pushdown/broadcast decisions land
  * where intended. Given gate names instead, prints the formatted plans
  * of those `SparkEntry` gates and leaves PLANS.md alone. Not part of the
  * driver contract. */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def plan(df: DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))

    if (args.nonEmpty) {
      val unknown = args.filterNot(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
      args.foreach(n => println(s"\n========== $n ==========\n" +
        plan(SparkEntry.queries(n)(spark, dir))))
      spark.stop(); return
    }

    val sb = new StringBuilder
    sb ++= s"""# PLANS — annotated physical plans (sf dir: $dir)
              |
              |Generated by `graft.Plans`. What to look for in each plan is
              |called out above it; regenerate with
              |`sbt "runMain graft.Plans"` after plan-shape changes.
              |""".stripMargin

    def section(title: String, notes: String, df: DataFrame, clip: Int = 60): Unit = {
      sb ++= s"\n## $title\n\n$notes\n\n```\n"
      sb ++= plan(df).linesIterator.take(clip).mkString("\n")
      sb ++= "\n```\n"
    }

    // Warm the store so plans reflect the cached layout.
    val g = graph.GraphStore.get(spark, dir)

    section("b11 — filter + agg on raw parquet",
      """Predicate pushdown: the `o_orderstatus = 'O'` filter reaches the
        |scan (`PushedFilters: [IsNotNull(o_orderstatus), EqualTo(...)]`),
        |and `ReadSchema` carries only the two referenced columns —
        |column pruning at the source.""".stripMargin,
      SparkEntry.queries("b11_filter_active")(spark, dir))

    section("a10 — hop join against the graph store",
      """The hop join runs over the store's cached layout: vertices
        |hash-partitioned+sorted by id, edges by src. At this sf AQE sees
        |the small frontier and converts the join to BroadcastHashJoin (no
        |shuffle at all); at larger frontiers it stays a SortMergeJoin with
        |NO Exchange and NO Sort on either side outside the cached
        |relations — either way the storage layout is the index and the
        |big edge side never moves. (khop/a13 builds exactly these hop
        |joins internally but executes them in its single eager-checkpoint
        |job, so its caller-visible plan is a checkpoint scan — inspect
        |THIS plan for the per-hop shape.)""".stripMargin,
      SparkEntry.queries("a10_adjacency")(spark, dir), clip = 80)

    section("q3 — dimension-filtered multi-join",
      """Catalyst broadcasts the filtered customer dimension
        |(`BroadcastHashJoin ... BuildRight`) instead of shuffling
        |lineitem; the whole probe side stays in one WholeStageCodegen
        |span.""".stripMargin,
      SparkEntry.queries("q3_top_revenue")(spark, dir), clip = 80)

    section("e3 — native cosine_sim near-dup join",
      """The scoring runs the fused `cosine_sim` expression inside
        |WholeStageCodegen (one loop per pair, no intermediate arrays) —
        |6x the composable aggregate(zip_with(...)) form at sf0.1.""".stripMargin,
      SparkEntry.queries("e3_cosine_neardup")(spark, dir))

    section("d_minhash_lsh — LSH candidate generation (hot-bucket capped)",
      """The self-join shuffles only (band, bucket, doc_id) triples — the
        |signature table is computed once (persisted) and document text
        |never crosses the exchange. The hot-bucket cap changes the plan by
        |exactly two cheap pieces: the per-bucket size aggregate (computed
        |ONCE from the cached triple table, then itself cached) arrives at
        |each join side as a BroadcastHashJoin, and the raw triples stay
        |the only thing shuffled (SortMergeJoin on band+bucket). No extra
        |pass over the corpus: the price of bounding a hot bucket is one
        |broadcast of a bucket-count table.""".stripMargin,
      SparkEntry.queries("d_minhash_lsh")(spark, dir), clip = 80)

    section("z1 — as-of join as union + window",
      """ONE Exchange (hashpartitioning on user_id) feeds a single
        |WindowExec — the as-of match is a last-non-null sweep, not an
        |inequality join: Spark would plan `l.ts >= r.ts` as a
        |BroadcastNestedLoopJoin, O(clicks x purchases) per user. This
        |shape scales linearly with events and shuffles each row once.""".stripMargin,
      SparkEntry.queries("z1_asof_join")(spark, dir), clip = 70)

    section("z2 — broadcast range join",
      """The 5-row band dimension is broadcast
        |(`BroadcastNestedLoopJoin BuildRight`) so the inequality predicate
        |evaluates map-side: events never shuffle for the join; the only
        |Exchange is the final tiny groupBy(band_id).""".stripMargin,
      SparkEntry.queries("z2_range_join")(spark, dir), clip = 60)

    section("a19 — hop join from a FRESH bucketed-catalog read",
      """The restart-surviving layout claim, in plan form: both sides scan
        |the bucketed catalog tables with `Bucketed: true` and pushed
        |filters, and the only Exchange in the whole query is the final
        |aggregation — nothing reshuffles for the join itself (at sf0.01
        |AQE picks broadcast for the filtered dimension sides; at scale
        |the bucketing keeps the big-side co-location without any cache
        |being alive).""".stripMargin,
      SparkEntry.queries("a19_bucketed_layout")(spark, dir), clip = 80)

    section("e8 — IVF+PQ asymmetric-distance search",
      """`Similarity.ivfPqTopK` plan properties that matter at corpus
        |scale: every k-row side broadcasts — the coarse-centroid table
        |reaches the query probe as `BroadcastNestedLoopJoin Cross
        |BuildRight` (a deliberate k-row cross join) and BOTH codebook
        |joins (corpus code assignment, ADC reconstruction) are
        |`BroadcastHashJoin ... BuildRight` over the m*k-row codebook, so
        |the corpus never moves to meet the codebook. Seeds plan as
        |`TakeOrderedAndProject` (O(k) driver state however big the
        |corpus); top-k rank filters compile to `WindowGroupLimit`
        |(Spark 4 rank pushdown — no full candidate list materializes);
        |the ADC fold is a partial+final aggregate pair on
        |(query_id, neighbor_id), so full vectors cross no exchange after
        |the subvector explode.""".stripMargin,
      SparkEntry.queries("e8_ivfpq_ann")(spark, dir), clip = 110)

    section("t_lm_coverage — per-doc scoring against the broadcast LM",
      """The LM build side (explode -> partial+final agg -> rank top-K)
        |collapses into a BroadcastExchange; the scoring side is Scan ->
        |Generate (map-side gram explode) -> BroadcastHashJoin LeftOuter ->
        |partial+final HashAggregate. The one real exchange carries
        |(doc_id, three longs) per document — document text never
        |shuffles.""".stripMargin,
      SparkEntry.queries("t_lm_coverage")(spark, dir), clip = 60)

    section("t_chunk_windows — sliding-window chunking",
      """Zero exchanges: Scan -> Project (token array let-bound once) ->
        |Generate (strided starts) -> Project (slice + concat_ws), all in
        |one WholeStageCodegen span. Chunk rows leave the scan partition
        |they were born in.""".stripMargin,
      SparkEntry.queries("t_chunk_windows")(spark, dir), clip = 40)

    section("e9 — nearest-class-centroid assignment",
      """The centroid build (posexplode -> two partial+final aggs ->
        |array reassembly) collapses into a BroadcastExchange of |labels|
        |rows; the corpus meets it as `BroadcastNestedLoopJoin Cross
        |BuildRight` (a deliberate |labels|-row cross join) with the
        |quantized arrays projected away before the argmin window's
        |exchange, which therefore carries only (id, label, clabel, dist).
        |The argmin rank filter compiles to `WindowGroupLimit` — per-key
        |window state is |labels| rows, never the corpus.""".stripMargin,
      SparkEntry.queries("e9_centroid_assign")(spark, dir), clip = 70)

    section("t_vocab_coverage — vocabulary coverage table",
      """Text never shuffles: Scan -> Generate (token explode) ->
        |partial+final HashAggregate moves only (term, cnt) pairs. The
        |global top-K compiles to `WindowGroupLimit` (per-partition state
        |<= topK before the single-partition rank window), the corpus
        |total rides in as a broadcast 1-row aggregate, and the
        |cumulative-share window runs over the K survivors only — the
        |single partition is bounded by topK at any corpus size.""".stripMargin,
      SparkEntry.queries("t_vocab_coverage")(spark, dir), clip = 60)

    section("d_substring_spans — exact substring-duplication flags",
      """Document text never crosses an exchange: the k-token window
        |strings hash map-side (Generate + Project over the let-bound
        |token array) into a persisted (id, start, hash) table — three
        |longs per window, read by BOTH the document-frequency branch
        |(distinct + partial/final HashAggregate over (hash, id)) and the
        |flag join, so the corpus is tokenized once (the lshCandidates
        |raw-bucket pattern; best-of-3 0.63 s vs 1.8 s unpersisted at
        |sf0.1). Flagging is linear in posting-list size — no pair
        |enumeration, so no hot-bucket cap appears anywhere in the plan.
        |(The d_span_intervals cut list adds ONE more window pass on
        |doc_id over the flagged spans only.)""".stripMargin,
      SparkEntry.queries("d_substring_spans")(spark, dir), clip = 60)

    section("d_pipeline_e2e — composed training-data pipeline",
      """Gopher gate -> window-min exact-dup canonicalization -> hash
        |split -> per-split totals, in ONE plan. What Catalyst did for
        |free because every stage is declarative: the whole Gopher pass
        |verdict (word bands, mean length, symbol/bullet/ellipsis ratios,
        |alpha fraction — a dozen array folds and regexes) collapses into
        |one codegen'd Filter directly over the parquet scan; the passing
        |ids broadcast into a semi-join (no shuffle of text for the gate);
        |window-min canonicalization evaluates the quality gate ONCE
        |(a groupBy + self-semi-join would plant the gate subtree under
        |two branches). At corpus scale the only wide exchange carries
        |(md5(text), doc_id, text) once; everything else is map-side or
        |broadcast. (d_mixture plans even smaller: a single codegen'd
        |Project + Generate over the scan — zero exchanges, zero joins;
        |the rate table rides in as a map literal.)""".stripMargin,
      SparkEntry.queries("d_pipeline_e2e")(spark, dir), clip = 80)

    section("d_cross_spans — span-level decontamination",
      """The decontamination ideal: the train corpus is ONE map-side
        |stream (Scan -> Filter -> Generate -> Project, window hashes
        |born and flagged in the scan partition) against a probe side
        |that reduces to distinct span hashes + probe-doc counts and
        |arrives as a BroadcastExchange — the corpus text never shuffles
        |AT ALL, and the only exchange in the plan carries the
        |benchmark's (hash, count) pairs. Linear in corpus postings; no
        |self-join, so no hot-bucket cap needed.""".stripMargin,
      SparkEntry.queries("d_cross_spans")(spark, dir), clip = 50)

    section("d_keep_best — quality-aware canonical selection",
      """Argmax per dup cluster WITHOUT a per-cluster sort window (a
        |10⁵-member boilerplate cluster would serialize one task's sort):
        |the (id, label, score) triple persists once (InMemoryRelation
        |under all three branches — the scoring pipeline and the
        |cluster-label broadcast joins run ONCE) and the winner is two
        |partial+final HashAggregate pairs — max score per label, then
        |min id among maximal members — joined back label-to-label. Every
        |exchange carries cluster-count rows of three narrow columns.""".stripMargin,
      SparkEntry.queries("d_keep_best")(spark, dir), clip = 60)

    section("d_apply_cuts — span-cut document rebuild",
      """The apply half of exact-substring dedup: the interval list
        |aggregates to ONE row per cut document (`sequence`/`flatten`
        |inside a HashAggregate — exchanges carry (id, positions), never
        |text), and the rebuild joins it back to the corpus as a
        |BroadcastHashJoin at this sf (AQE; larger cut lists degrade to a
        |shuffled join of the SAME narrow columns). The keep-filter and
        |re-join run inside the post-join projection — the text column
        |appears exactly twice: scanned, and rebuilt. PlanShapeSpec
        |asserts the no-text-exchange property on every run.""".stripMargin,
      SparkEntry.queries("d_apply_cuts")(spark, dir), clip = 60)

    section("d_decontaminate — composed cross-corpus span cut",
      """The full decontamination chain in ONE plan: probe windows reduce
        |to broadcast (hash, count) pairs; train windows flag leaks
        |map-side (the d_cross_spans shape); gaps-and-islands interval
        |merge runs per-doc windows over flagged spans ONLY (leak-sized,
        |not corpus-sized); the cut rebuild is the d_apply_cuts broadcast
        |join. Worth checking: the train text column is scanned once per
        |branch it feeds and crosses no exchange anywhere.""".stripMargin,
      SparkEntry.queries("d_decontaminate")(spark, dir), clip = 70)

    section("t_lang_confusion — language-ID evaluation cells",
      """Prediction is the same single codegen'd projection as t_langid
        |(marker-word scoring, let-bound lambdas — no UDF, no shuffle to
        |predict); the confusion matrix is one partial+final HashAggregate
        |pair on (labeled, predicted) — the ONLY exchange in the plan
        |carries the confusion cells, rows bounded by |langs|².""".stripMargin,
      SparkEntry.queries("t_lang_confusion")(spark, dir), clip = 40)

    section("e10_ann_recall — retrieval-quality evaluation",
      """Both ranked tables are ≤ k·|queries| rows, deduped on
        |(query_id, neighbor_id) — the dedup's exchange is reused by the
        |join (one shuffle per side), then a map-side-combinable per-query
        |count. The expensive parts (brute-force and LSH top-k) sit in the
        |two feeding branches, each the already-audited e1/e2 shape with
        |the query set broadcast; the eval itself is result-table sized.""".stripMargin,
      SparkEntry.queries("e10_ann_recall")(spark, dir), clip = 70)

    section("d_pipeline_dedup — LSH clustering to canonical corpus",
      """The composed dedup chain's caller-visible plan: minLabel's
        |converged labeling is checkpoint-backed (LogicalRDD scan — the
        |iterative rounds are the d_dup_clusters audit), so THIS plan
        |shows the tail: keepBest's two-HashAggregate argmax over the
        |persisted (id, cluster, quality) triple, the cluster-size
        |aggregate reusing the same cache, and the winners joined back to
        |the corpus for token counts. Every exchange carries narrow
        |columns; the text column feeds the LSH shingles and the final
        |token count without ever crossing a shuffle.""".stripMargin,
      SparkEntry.queries("d_pipeline_dedup")(spark, dir), clip = 70)

    section("d_simhash_neardup — hamming-ball near-dup join",
      """Pigeonhole blocking: the 60-bit fingerprint splits into
        |maxHamming+1 bands, candidates meet on a per-band equi-join of
        |(id, fp, band) triples — the only exchange carries those narrow
        |rows, never text. Hot bands are capped (Skew.capBuckets) so the
        |per-task join input is bounded at any corpus size; the exact
        |popcount filter afterwards is a codegen'd projection.""".stripMargin,
      SparkEntry.queries("d_simhash_neardup")(spark, dir), clip = 60)

    section("d_temperature_mix — temperature-scaled mixture weights",
      """One map-side-combinable count per domain (partial+final
        |HashAggregate), then a BroadcastNestedLoopJoin against the 1-row
        |integer total — the corpus is scanned once and never
        |re-shuffled; rows out = |domains|. The sqrt is quantized to
        |micro-units BEFORE the sum, so the normalization is integer
        |arithmetic (order-independent across partitions).""".stripMargin,
      SparkEntry.queries("d_temperature_mix")(spark, dir), clip = 40)

    section("d_bloom_decontaminate — broadcast-bitset membership screen",
      """The bitset build aggregates the benchmark's bit positions to ONE
        |array row, broadcast back (BroadcastNestedLoopJoin) — the corpus
        |side is a pure map-side forall(array_contains) projection with
        |NO exchange of corpus rows; exact_hit reuses the same
        |benchmark-sized broadcast as a left join. At 100 TB this is the
        |map-side screen that replaces a corpus-wide shuffle.""".stripMargin,
      SparkEntry.queries("d_bloom_decontaminate")(spark, dir), clip = 50)

    section("t_quality_cut_by_lang — per-group percentile gate",
      """Per-language thresholds: the percentile aggregate moves only
        |(lang, quality) pairs; the resulting |langs|-row threshold table
        |is broadcast back onto the scored corpus (BroadcastHashJoin), so
        |the text column never crosses an exchange and the corpus is
        |scanned once for scoring, once for the join probe.""".stripMargin,
      SparkEntry.queries("t_quality_cut_by_lang")(spark, dir), clip = 50)

    section("t_ccnet_buckets — per-language coverage terciles",
      """The t_lm_coverage scoring plan (broadcast LM, counts-only
        |aggregation) feeding a two-quantile per-language aggregate whose
        ||langs|-row output is broadcast back — same shape as
        |t_quality_cut_by_lang with coverage as the score. The two
        |exchanges carry (id, counts) and (lang, coverage); text stays
        |map-side.""".stripMargin,
      SparkEntry.queries("t_ccnet_buckets")(spark, dir), clip = 60)

    section("e11_mrl_funnel — Matryoshka coarse-to-fine ANN",
      """Stage 1 scores prefix slices with the query set broadcast (the
        |e1 brute-force shape at dims/D of the multiply work); the coarse
        |top-k window shuffles only (query_id, neighbor_id, ccos)
        |triples. Stage 2 broadcasts the coarseK·|queries| survivor list
        |back against the corpus — full vectors are re-read map-side,
        |never shuffled. Look for: the coarse BroadcastNestedLoopJoin
        |(non-equi ≠ guard, queries broadcast), the rescore
        |BroadcastHashJoin, WindowGroupLimit above both window exchanges,
        |and no exchange of the embedding column — both windows shuffle
        |only (query_id, neighbor_id, score) triples.""".stripMargin,
      SparkEntry.queries("e11_mrl_funnel")(spark, dir), clip = 70)

    section("o6_compaction — the compacted read-back",
      """Small-file compaction's read side: the post-compaction scan reads
        |TWO range-clustered files (the gate's require pins the count)
        |instead of 64 shuffle-scattered fragments — at 100 TB that is
        |the difference between 64 file-open/footer-parse costs per
        |former-fragment-group and one, and between all-overlapping and
        |disjoint per-file doc_id min/max spans (row-group pruning on the
        |id axis works again). The digest aggregate itself is the o1
        |shape: partial HashAggregate map-side, one exchange of
        ||langs| rows.""".stripMargin,
      SparkEntry.queries("o6_compaction")(spark, dir), clip = 40)

    // Runtime bloom-filter injection, under deployment-shaped confs:
    // thresholds sized to the fixture sf, broadcast off so the join keeps
    // the shuffle shape the optimization targets (at 100 TB the dim side
    // is past broadcast size but its FILTERED keys still fit a bloom).
    locally {
      import org.apache.spark.sql.functions.{col, count, lit}
      GateSupport.withConfs(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        section("o5_runtime_bloom_join — runtime bloom-filter join (InjectRuntimeFilter)",
          """The 100 TB semi-join reduction: the selective priority filter
            |on orders builds a bloom filter of the surviving order keys
            |(the ObjectHashAggregate(bloom_filter_agg) subquery), and the
            |lineitem side scans through `bloom_filter_might_contain(...)`
            |BEFORE its exchange — fact rows the join would discard never
            |shuffle. Look for: the scalar-subquery bloom build on the
            |filtered orders scan, and the might_contain Filter directly
            |above the lineitem scan. Confs are the knobs a deployment
            |tunes (thresholds; broadcast off keeps the join in the
            |shuffle regime the optimization targets — with broadcast on,
            |small dims take the BHJ path instead and need no bloom).
            |PlanShapeSpec asserts this shape plus result parity with the
            |filter disabled, and the o5_runtime_bloom_join driver gate
            |runs the same shape under the DuckDB oracle with an in-gate
            |require on the injected BloomFilterMightContain — a Spark
            |upgrade that stops injecting turns the gate red.""".stripMargin,
          spark.read.parquet(s"$dir/lineitem.parquet")
            .join(spark.read.parquet(s"$dir/orders.parquet")
                .filter(col("o_orderpriority") === "1-URGENT"),
              col("l_orderkey") === col("o_orderkey"))
            .agg(count(lit(1)).as("cnt")), clip = 70)
      }
    }

    // Rounds append hand-written plan analyses below the marker;
    // regeneration must rewrite only the generated prefix above it (a
    // round-14 full rewrite silently dropped ~120 hand sections once).
    val marker =
      "<!-- hand-maintained below: graft.Plans preserves everything after this line -->"
    val out = Paths.get("PLANS.md")
    val preserved =
      if (Files.exists(out)) {
        val old = Files.readString(out)
        val at = old.indexOf(marker)
        require(at >= 0,
          "PLANS.md exists but has no hand-maintained marker — refusing a " +
            "full rewrite; re-add the marker line before regenerating")
        old.substring(at)
      } else marker + "\n"
    Files.writeString(out, sb.result() + "\n" + preserved)
    println(s"[plans] wrote PLANS.md")
    spark.stop()
  }
}
