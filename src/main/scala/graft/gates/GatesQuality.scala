package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphBuilder, GraphStore, PropertyGraph}

/** Data-quality / eval / temporal-join gates (profiling, outliers, quantile sketches, ROC, as-of/interval joins).
  *
  * Split from the former single-object SparkEntry (round 14) — a pure
  * refactor: every entry body is byte-identical, gate names and oracle
  * SQL unchanged; [[SparkEntry]] composes the family maps back together.
  */
private[graft] object GatesQuality extends GateFamily {
  import GateSupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact distinct count per group.
    "cd1_count_distinct" -> ((s, dir) => {
      t(s, dir, "customer").groupBy(col("c_mktsegment").as("segment"))
        .agg(countDistinct(col("c_nationkey")).as("n_nations"))
    }),

    // Approximate distinct (HLL++), SELF-EVALUATING (the cd7 pattern):
    // HLL register content is engine-specific, so the raw estimate can
    // never hash-match a foreign oracle — instead the exact count rides
    // the same row and the gate emits the error-bound VERDICT. hll_ok
    // flips (and the hash breaks) if the sketch drifts past 5% relative
    // (5x its configured 1% rsd) or 5 absolute for tiny groups; the
    // oracle recomputes the exact counts and asserts the verdict true.
    "cd2_approx_distinct" -> ((s, dir) => {
      t(s, dir, "orders").groupBy(col("o_orderpriority").as("priority"))
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("__approx"),
          countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("priority"), col("exact_customers"),
          (abs(col("__approx") - col("exact_customers")) <=
            greatest(col("exact_customers") / 20, lit(5L))).as("hll_ok"))
    }),

    // KMV distinct sketch: engine-portable approximate distinct (md5 order
    // statistics + IEEE arithmetic) — the oracled twin of cd2's HLL. Runs
    // the bounded-state Aggregator (k longs per group map-side); the
    // declarative window form in Sketch.kmvDistinct is its spec'd equal.
    "cd3_kmv_distinct" -> ((s, dir) => {
      operators.Sketch.kmvDistinctAgg(
        t(s, dir, "orders").select(col("o_orderpriority").as("priority"), col("o_custkey")),
        "priority", "o_custkey", k = 64)
    }),

    // Engine-portable table checksums (XOR of md5 row hashes): the
    // one-number-per-table comparison a migration validation needs.
    "cd4_row_checksum" -> ((s, dir) => {
      def ck(table: String, cols: Seq[String]) =
        operators.Sketch.rowChecksum(t(s, dir, table), cols)
          .select(lit(table).as("tbl"), col("checksum"))
      ck("nation", Seq("n_nationkey", "n_name", "n_regionkey"))
        .unionByName(ck("region", Seq("r_regionkey", "r_name")))
        .unionByName(ck("part", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")))
    }),

    // Count-min-sketch heavy hitters over the corpus word stream: depth=4
    // x width=16 cells (width deliberately smaller than the vocabulary so
    // collisions — the sketch's one-sided error — are visible), words
    // whose estimate reaches 1000 occurrences, exact count joined in.
    // md5-celled, so the whole sketch hash-matches cross-engine.
    "cd5_countmin_heavy" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(operators.Dedup.tokens(col("text"))).as("word"))
      operators.Sketch.countMinHeavy(words, "word", threshold = 1000L,
        depth = 4, width = 16)
    }),

    // Exact ROC-AUC (Mann–Whitney with midrank ties) of the Flesch
    // readability score as an is-English detector — "does this quality
    // signal actually rank the target class higher", fully rational.
    "ev1_roc_auc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = operators.TextAnalysis.readability(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          Seq("doc_id"))
      operators.Eval.rocAuc(scored, "flesch_micro", "is_en")
    }),

    // Reciprocal rank of BM25 retrieval: four single-term corpus-word
    // queries, relevance = a "title match" (the term among the doc's
    // first 5 words — deterministic and independent of the ranker's own
    // score), first relevant rank in the top-20 → rr_micro. The
    // ranking-quality eval over the t_bm25 machinery.
    "ev3_mrr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("spark", "join", "window", "batch")
      val ranked = terms.map { term =>
        operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
            query = Seq(term), k = 20)
          .withColumn("query", lit(term))
      }.reduce(_ unionByName _)
      val rel = docs.select(col("doc_id"),
          explode(array_distinct(slice(
            operators.TextAnalysis.tokens(col("text")), 1, 5))).as("query"))
        .filter(col("query").isin(terms.map(x => x: Any): _*))
      operators.Eval.mrr(ranked, rel, "query", "doc_id", "rank")
    }),

    // Precision@20 / recall@20 over the same four BM25 queries and the
    // same title-match relevance — the set-overlap eval next to ev3's
    // rank eval, all integer ratios.
    "ev4_precision_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("spark", "join", "window", "batch")
      val ranked = terms.map { term =>
        operators.TextAnalysis.bm25TopK(docs, "doc_id", "text",
            query = Seq(term), k = 20)
          .withColumn("query", lit(term))
      }.reduce(_ unionByName _)
      val rel = docs.select(col("doc_id"),
          explode(array_distinct(slice(
            operators.TextAnalysis.tokens(col("text")), 1, 5))).as("query"))
        .filter(col("query").isin(terms.map(x => x: Any): _*))
      operators.Eval.precisionRecallAtK(ranked, rel, "query", "doc_id", k = 20)
    }),

    // Decile lift/gains of the Flesch readability score as an is-English
    // ranker — ev1 asks "does the score order the class correctly"
    // (AUC), this asks the deployment question "if I keep only the top
    // k/10 of the corpus by this score, how much of the target class do
    // I capture": per-decile lift and cumulative gain, all integer
    // ratios over one deterministic ntile split.
    "ev5_lift_deciles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = operators.TextAnalysis.readability(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          Seq("doc_id"))
      operators.Eval.liftDeciles(scored, "flesch_micro", "is_en", "doc_id")
    }),

    // Per-class precision/recall/F1 of the n-gram language identifier
    // against the labeled lang column — the class-resolved view of
    // ev2's single-number kappa over the same confusion cells; F1's
    // 2pr/(p+r) reduces to 2tp/(2tp+fp+fn), so every figure is one
    // integer division.
    "ev6_f1_per_class" -> ((s, dir) => {
      val cells = operators.TextAnalysis.langConfusion(
        t(s, dir, "documents"), "doc_id", "text", "lang")
      operators.Eval.f1PerClass(cells, "lang", "pred_lang", "cnt")
    }),

    // Cohen's κ between the langid heuristic and the labeled lang column
    // — chance-corrected agreement over the t_lang_confusion cells,
    // integer sufficient statistics + one sign-explicit micro division.
    "ev2_cohens_kappa" -> ((s, dir) => {
      operators.Eval.cohenKappa(
        operators.TextAnalysis.langConfusion(
          t(s, dir, "documents"), "doc_id", "text", "lang"),
        "lang", "pred_lang", "cnt")
    }),

    // As-of join: for each click, the most recent purchase at-or-before it
    // by the same user. Spark-first plan: union both sides and take the
    // last non-null purchase in one event-time window pass — ONE shuffle
    // on user_id, instead of the O(n·m) inequality join Spark would plan
    // as a broadcast nested loop. Purchases sort before clicks at equal
    // ts (is_l tiebreak) to get <= semantics.
    "z1_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click").select(
        col("user_id"), col("event_id"), col("ts"), lit(1).as("is_l"),
        lit(null).cast("timestamp").as("p_ts"), lit(null).cast("double").as("p_val"))
      val buys = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), lit(null).cast("long").as("event_id"), col("ts"), lit(0).as("is_l"),
        col("ts").as("p_ts"), col("value").as("p_val"))
      // p_val as the final sort key: if a user ever had two purchases at
      // the same ts, last() deterministically takes the max value (the
      // oracle dedups to max(value) per (user, ts) for the same reason).
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("is_l"), col("p_val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(buys)
        .withColumn("purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .withColumn("purchase_value", last(col("p_val"), ignoreNulls = true).over(w))
        .filter(col("is_l") === 1)
        .select(col("user_id"), col("event_id"), col("ts").as("click_ts"),
          col("purchase_ts"), col("purchase_value"))
    }),

    // Range join: events against a tiny value-band dimension. The bands
    // table is broadcast, so the inequality join is a broadcast nested
    // loop over 5 rows — the correct 100 TB plan (no shuffle of events).
    "z2_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        (0L, 0.0, 100.0), (1L, 100.0, 200.0), (2L, 200.0, 300.0),
        (3L, 300.0, 400.0), (4L, 400.0, 1.0e9)).toDF("band_id", "lo", "hi")
      events(s, dir)
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("cnt"),
          money(sumExact(cents(col("value"))), 100L).as("sum_value"))
    }),

    // Interval × interval overlap join with BOTH sides data-sized (what
    // z2's broadcast cannot cover): per-user daily activity intervals ×
    // per-event-type daily intervals, bin-blocked on the hour so the
    // overlap predicate runs as a hash equi-join, never a nested loop.
    "z3_interval_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      val a = ev.groupBy(col("user_id"), to_date(col("ts")).cast("string").as("day"))
        .agg(min(unix_micros(col("ts"))).as("start"), max(unix_micros(col("ts"))).as("end"))
      val b = ev.groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day2"))
        .agg(min(unix_micros(col("ts"))).as("start2"), max(unix_micros(col("ts"))).as("end2"))
      operators.IntervalJoin.overlapJoin(a, b, binWidth = 3600L * 1000000L)
        .select(col("user_id"), col("day"), col("event_type"),
          (least(col("end"), col("end2")) - greatest(col("start"), col("start2")))
            .as("overlap_micros"))
    }),

    // Point-in-time join: every (doc, as-of version) probe fetches the
    // fingerprint that was valid THEN from the SCD-2 history — the
    // feature-store lookup that makes training reproducible (no leakage
    // from later versions). Equi-join on the key, interval filter on the
    // ≤3-row-per-key history; absent rows = deleted at that version.
    "z4_pit_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val slice = graft.functions.Hashing.md5Long(col("doc_id")) % 100
      def fp(c: Column) = graft.functions.Hashing.md5Long(
        concat(length(c).cast("string"), lit(":"), c))
      val t2 = when(slice.between(40, 49), concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text"))
      val t3 = when(slice.between(20, 29), concat(col("text"), lit(" [rev3]")))
        .otherwise(t2)
      val v1 = docs.select(col("doc_id"), lit(1L).as("version"), fp(col("text")).as("fp"))
      val v2 = docs.filter(slice < 95)
        .select(col("doc_id"), lit(2L).as("version"), fp(t2).as("fp"))
      val v3 = docs.select(col("doc_id"), lit(3L).as("version"), fp(t3).as("fp"))
      val hist = operators.Dedup.scdHistory(
        v1.unionByName(v2).unionByName(v3), "doc_id", "version", "fp", latest = 3L)
      // deterministic probes: every doc asked as-of version (hash % 3) + 1;
      // a probe landing in a deletion gap keeps its row with fp_then NULL
      // (the entity did not exist then — that IS the answer)
      val probes = docs.select(col("doc_id"),
        (graft.functions.Hashing.md5Long(concat(col("doc_id").cast("string"),
          lit("#asof"))) % 3 + 1).as("as_of"))
      val h = hist.select(col("doc_id").as("h_id"), col("fp"),
        col("valid_from"), col("valid_to"))
      probes.join(h, col("doc_id") === col("h_id") &&
          col("as_of").between(col("valid_from"), col("valid_to")), "left")
        .select(col("doc_id"), col("as_of"), col("fp").as("fp_then"))
    }),

    // Data-quality expectations sweep (Deequ-style, one aggregation
    // pass): per-rule measured value + pass verdict over lineitem —
    // completeness, range, uniqueness, set-membership.
    "dq1_expectations" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val metrics = li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)).as("qty_out_of_range"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("bad_returnflag"),
        (count(lit(1)) - count_distinct(struct(col("l_orderkey"), col("l_linenumber"))))
          .as("dup_pk"))
      metrics.select(explode(array(
        struct(lit("null_orderkey").as("rule"), col("null_orderkey").as("violations"),
          (col("null_orderkey") === 0).as("passes")),
        struct(lit("qty_in_1_50").as("rule"), col("qty_out_of_range").as("violations"),
          (col("qty_out_of_range") === 0).as("passes")),
        struct(lit("returnflag_in_set").as("rule"), col("bad_returnflag").as("violations"),
          (col("bad_returnflag") === 0).as("passes")),
        struct(lit("pk_unique").as("rule"), col("dup_pk").as("violations"),
          (col("dup_pk") === 0).as("passes")))).as("r"))
        .select(col("r.rule").as("rule"), col("r.violations").as("violations"),
          col("r.passes").as("passes"))
    }),

    // Referential-integrity audit: orphaned foreign keys counted by
    // anti-joins along the star schema — the load-validation gate.
    "dq2_ref_integrity" -> ((s, dir) => {
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String) =
        fact.select(col(fk)).join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as("orphans"))
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val li = t(s, dir, "lineitem"); val p = t(s, dir, "part"); val su = t(s, dir, "supplier")
      orphans(o, "o_custkey", c, "c_custkey").select(lit("orders->customer").as("edge"), col("orphans"))
        .unionByName(orphans(li, "l_orderkey", o, "o_orderkey")
          .select(lit("lineitem->orders").as("edge"), col("orphans")))
        .unionByName(orphans(li, "l_partkey", p, "p_partkey")
          .select(lit("lineitem->part").as("edge"), col("orphans")))
        .unionByName(orphans(li, "l_suppkey", su, "s_suppkey")
          .select(lit("lineitem->supplier").as("edge"), col("orphans")))
    }),

    // CD8 — sample-quantile sketch next to its exact value: bottom-1024-
    // by-hash uniform sample (one TakeOrdered pass) read at the same
    // ceil-rank rule as the exact refiner; deterministic sample ⇒ the
    // ESTIMATE itself is oracled, and the in-row abs_err shows the
    // O(1/√k) sketch quality (the cd7 carry-exact pattern).
    // Bloom-filter cardinality (Swamidass & Baldi): distinct count
    // estimated from the FILL of an m-bit array with k seeded md5
    // positions — n̂ = −(m/k)·ln(1 − X/m). The linear-sketch counter
    // whose state (m bits) is mergeable by OR across partitions/streams,
    // next to cd2's HLL and cd3's KMV. Self-evaluating (the cd7
    // pattern): the exact distinct count rides in-row and bloom_ok
    // asserts the estimate lands within 10% — bit positions and fill are
    // exact integers any engine reproduces.
    // CountSketch (Charikar–Chen–Farach-Colton): the UNBIASED frequency
    // sketch next to cd5's count-min (which only over-estimates) —
    // signed hashing cancels collision noise in expectation, and the
    // median of d=3 signed cells is exact integer algebra
    // (median-of-3 = sum − max − min). Estimates for cd5's 16 heaviest
    // keys ride next to their exact counts; everything is md5-derived,
    // so both engines build the identical sketch.
    "cd10_countsketch" -> ((s, dir) => {
      val w = 1024L
      // CountSketch is LINEAR, so sketch(corpus) = sketch of the per-key
      // count vector: ONE corpus aggregate (map-side-combined), then all
      // hashing happens on the |keys|-row table — the first cut sketched
      // raw rows (3 unioned corpus scans, 13.8 s at sf1), this form is
      // one aggregate + O(|keys|) work. In a stream you'd feed
      // per-micro-batch partial counts the same way (sw14's pattern).
      // One md5 per key; buckets are disjoint 10-bit fields and signs
      // disjoint single bits of the same 60-bit value.
      // cut: the tiny per-key table feeds 7 branches (3 cell
      // selects, top, 3 probe selects) — uncut, EACH replays the corpus
      // aggregate (measured 14.9 s at sf1; cut: one corpus pass)
      val counted = Cuts.cut(t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("string").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("exact"))
        .withColumn("h", functions.Hashing.md5Long(col("k"))))
      def hb(i: Int) = shiftright(col("h"), 10 * (i - 1)) % w
      def sg(i: Int) = when(
        shiftright(col("h"), 40 + i) % 2 === 0, 1L).otherwise(-1L)
      val cells = (1 to 3).map(i =>
          counted.select(lit(i).as("i"), hb(i).as("b"),
            (sg(i) * col("exact")).as("s")))
        .reduce(_ unionByName _)
        .groupBy(col("i"), col("b")).agg(sum(col("s")).as("c"))
      val top = counted.orderBy(col("exact").desc, col("k")).limit(16)
      val probes = (1 to 3).map(i =>
          top.select(col("k"), col("exact"), lit(i).as("i"),
            hb(i).as("b"), sg(i).as("s")))
        .reduce(_ unionByName _)
      probes.join(cells, Seq("i", "b"))
        .select(col("k"), col("exact"), (col("s") * col("c")).as("est_i"))
        .groupBy(col("k"), col("exact"))
        .agg((sum(col("est_i")) - max(col("est_i")) - min(col("est_i")))
          .as("est"))
        .withColumn("err", col("est") - col("exact"))
    }),

    // Datasketches HLL with PERSISTABLE, MERGEABLE state — the fourth
    // distinct-count design point (cd2 approx_count_distinct: one-shot;
    // cd3 KMV: mergeable order stats; cd9 bloom: fill-based) and the one
    // production actually stores: per-day sketches land as binary columns,
    // and "distinct users any date range" is hll_union_agg over the
    // range's rows — no recount of raw events, ever. The raw estimates
    // are Datasketches-internal (not replayable in the DuckDB oracle), so
    // the gate hash-pins what IS exact — day count, exact distinct — and
    // self-evaluates both estimate paths in-row at 3σ for lgK=12
    // (|est − exact| ≤ 5%·exact): the whole-corpus sketch AND the
    // union-of-daily-sketches must both land inside the bound, proving
    // the merge path loses nothing a user would notice. Deterministic
    // data ⇒ deterministic booleans.
    "cd11_hll_union" -> ((s, dir) => {
      val ev = events(s, dir).select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val merged = daily.agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("est_merged"))
      val whole = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("est_whole"),
        countDistinct(col("user_id")).as("n_exact"))
      merged.crossJoin(whole).select(
        col("n_days"), col("n_exact"),
        (abs(col("est_whole") - col("n_exact")) * 20 <= col("n_exact")).as("whole_ok"),
        (abs(col("est_merged") - col("n_exact")) * 20 <= col("n_exact")).as("merged_ok"))
    }),

    "cd9_bloom_cardinality" -> ((s, dir) => {
      val m = 65536L
      val vals = t(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("v")).distinct()
      val pos = (1 to 3).map(i =>
          vals.select((functions.Hashing.md5Long(col("v"), i) % m).as("pos")))
        .reduce(_ unionByName _).distinct()
      vals.agg(count(lit(1)).as("n_exact"))
        .crossJoin(pos.agg(count(lit(1)).as("bits_set")))
        .select(lit(m).as("m"), lit(3L).as("k"), col("bits_set"), col("n_exact"),
          floor(lit(-m.toDouble / 3.0)
            * log(lit(1.0) - col("bits_set").cast("double") / lit(m.toDouble))
            * 1000).cast("long").as("est_milli"))
        .withColumn("bloom_ok",
          abs(col("est_milli") - col("n_exact") * 1000) * 10
            <= col("n_exact") * 1000)
    }),

    "cd8_sample_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("lid"))
      val bps = Seq(2500, 5000, 7500, 9000, 9900)
      val est = operators.Sketch.sampleQuantiles(li, "cents", "lid", bps, k = 1024)
      val exact = operators.Sketch.exactQuantiles(li.select(col("cents")), "cents", bps)
        .select(col("bp"), col("value").as("exact"))
      est.join(exact, Seq("bp"))
        .select(col("bp"), col("sample_rank"), col("est"), col("exact"),
          abs(col("est") - col("exact")).as("abs_err"))
    }),

    // KMV sketch set algebra: distinct of A, B, A∪B, A∩B from two k-min
    // sketches (theta-sketch intersection rule, integer math) with the
    // exact four counts riding along — sketch-level set operations, the
    // capability that replaces re-scanning raw sets.
    "cd7_kmv_setops" -> ((s, dir) => {
      val keys = t(s, dir, "lineitem").select(col("l_orderkey").as("key"))
      // slice by a SEEDED hash so membership is independent of the
      // sketch's own hash values (same-hash slicing would bias the k-mins)
      val slice = graft.functions.Hashing.md5Long(col("key"), 9) % 100
      operators.Sketch.kmvSetOps(
        keys.filter(slice < 60), keys.filter(slice >= 40), "key", k = 256)
    }),

    // EXACT percentiles with NO global sort: iterative power-of-two range
    // refinement (Sketch.exactQuantiles) — each pass is one bucketized
    // aggregation scan, all five targets ride the same passes. The
    // orderBy-free answer to "p50/p99 of a 100 TB column".
    "cd6_quantiles_nosort" -> ((s, dir) => {
      val cents = t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      operators.Sketch.exactQuantiles(cents, "cents", Seq(2500, 5000, 7500, 9000, 9900))
    }),

    // Column-profile report over lineitem's numeric measures (the
    // dataset-card statistic block next to dq1's expectations): per
    // column, rows / nulls / distincts / min / max / sum — all in exact
    // cents. One scan, four map-side-combinable aggregates unioned.
    "dq3_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def prof(name: String): DataFrame = {
        val cents = floor(col(name) * 100 + 0.5).cast("long")
        li.agg(
          count(lit(1)).as("n_rows"),
          sum(col(name).isNull.cast("long")).as("n_null"),
          countDistinct(cents).as("n_distinct"),
          min(cents).as("min_cents"),
          max(cents).as("max_cents"),
          sum(cents).as("sum_cents"))
          .select(lit(name).as("column"), col("*"))
      }
      prof("l_quantity").unionByName(prof("l_extendedprice"))
        .unionByName(prof("l_discount")).unionByName(prof("l_tax"))
    }),

    // Pearson correlation of quantity (units) vs discount (cents), exact
    // integer sufficient statistics; the single float op is ONE
    // correctly-rounded IEEE sqrt (bit-identical cross-engine, unlike a
    // float Σ), so the floor is engine-exact. Sums stay inside int64 to
    // ~10⁸ rows at these magnitudes ((Σx)² is the binding product);
    // larger corpora shift the statistic to per-partition deltas first.
    "dq5_correlation" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("varx_num"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("vary_num"))
        .withColumn("corr_micro",
          when(col("varx_num") <= 0 || col("vary_num") <= 0, lit(0L))
            .otherwise(floor(lit(1000000d) * col("cov_num").cast("double")
              / sqrt(col("varx_num").cast("double") * col("vary_num").cast("double")))
              .cast("long")))
    }),

    // PSI drift between 1996- and 1997-shipped price distributions over
    // 10 fixed $10k buckets — dataset-shift detection between snapshots.
    // Counts exact; the term is one mirrored IEEE expression (two exact
    // divides and one ln of an exact-integer ratio, t_bm25 convention).
    "dq7_psi" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(year(col("l_shipdate")).as("yr"),
          expr("least(9L, cast(floor(l_extendedprice * 100 + 0.5) as bigint) div 1000000)")
            .as("bucket"))
        .filter(col("yr").isin(1996, 1997))
      val agg = base.groupBy(col("bucket")).agg(
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("p"),
        sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("q"))
      val tots = agg.agg(sum(col("p")).as("np"), sum(col("q")).as("nq"))
      agg.crossJoin(broadcast(tots))
        .filter(col("p") > 0 && col("q") > 0)
        .select(col("bucket"), col("p"), col("q"),
          floor(lit(1000000d)
            * (col("p").cast("double") / col("np").cast("double")
              - col("q").cast("double") / col("nq").cast("double"))
            * log((col("p") * col("nq")).cast("double")
              / (col("q") * col("np")).cast("double")))
            .cast("long").as("psi_term_micro"))
    }),

    // Functional-dependency audit: for each declared A→B, how many A
    // values map to >1 distinct B (violations) and the worst fan-out —
    // the schema-inference / key-discovery primitive next to dq2's
    // referential check. Each FD is one two-level aggregate (map-side
    // partial per (A, B), then per-A distinct count); nothing joins.
    "dq8_fd_check" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      def fd(df: DataFrame, name: String, a: String, b: String) =
        df.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"))
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating_lhs"),
            max(col("nb")).as("max_rhs_distinct"))
          .select(lit(name).as("fd"), col("n_lhs"),
            col("n_violating_lhs"), col("max_rhs_distinct"))
      fd(li, "l_orderkey->l_linestatus", "l_orderkey", "l_linestatus")
        .unionByName(fd(li, "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
        .unionByName(fd(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionByName(fd(ords, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
    }),

    // Median-absolute-deviation outlier screen over extendedprice cents —
    // the robust alternative to dq1's fixed-range expectations (a mean±3σ
    // rule moves with the outliers it is hunting; two exact medians do
    // not). Both medians come from the sort-free quantile refiner, the
    // 3·1.4826 normal-consistency cut is the exact rational 44478/10000,
    // so no float enters and both engines count identical outliers.
    "dq9_mad_outliers" -> ((s, dir) => {
      val cents = t(s, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      operators.Sketch.madOutliers(cents, "cents")
    }),

    // Join-cardinality statistic (what a cost-based optimizer estimates
    // from per-key histograms, here computed exactly): |A ⋈ B| =
    // Σ_k cnt_A(k)·cnt_B(k) from two tiny per-key aggregates — then
    // self-proved against the actual join count in the same row. The
    // 100 TB use is running the PREDICTION side only: two aggregates
    // instead of materializing a join you may not afford.
    "dq11_join_size" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      val lc = li.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
      val oc = ords.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
      val pred = lc.join(oc, Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("predicted"))
      val actual = li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("actual"))
      pred.crossJoin(actual)
        .withColumn("stat_exact", col("predicted") === col("actual"))
    }),

    // k-anonymity audit over quasi-identifiers (nation, market
    // segment): any combination shared by fewer than k=5 customers is a
    // re-identification risk — the privacy gate a training-data release
    // runs next to t_redact's PII scrub. Per-cell census with the
    // at-risk verdict in-row; one map-side-combinable aggregate.
    "dq12_k_anonymity" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5)
    }),

    // Shannon entropy profile of the categorical columns — the
    // class-balance statistic next to dq3's numeric block (a collapsed
    // enum shows up as entropy ≈ 0 long before a referential check
    // fails). Deterministic integer form: each value's surprise
    // ⌊10⁶·ln(n/cnt)⌋ floors FIRST, the weighted sum and final div are
    // exact — a ≤1e-6-per-term lower bound both engines compute
    // identically (the t_bm25 ln discipline).
    "dq10_entropy" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      def ent(df: DataFrame, name: String): DataFrame = {
        val cnts = df.groupBy(col(name).cast("string").as("v"))
          .agg(count(lit(1)).as("cnt"))
        val tot = cnts.agg(sum(col("cnt")).as("n"),
          count(lit(1)).as("n_distinct"))
        cnts.crossJoin(broadcast(tot))
          .select(col("n"), col("n_distinct"),
            (col("cnt") * floor(log(col("n").cast("double")
              / col("cnt").cast("double")) * 1000000).cast("long")).as("term"))
          .groupBy(col("n"), col("n_distinct"))
          .agg(sum(col("term")).as("mass"))
          .select(lit(name).as("column"), col("n"), col("n_distinct"),
            expr("mass div n").as("entropy_micro"))
      }
      ent(li, "l_linestatus").unionByName(ent(li, "l_returnflag"))
        .unionByName(ent(ords, "o_orderstatus"))
        .unionByName(ent(ords, "o_orderpriority"))
    }),

    // Benford first-digit audit over extendedprice cents: observed
    // frequency vs the log-law expectation per digit — the fraud/synthetic-
    // data smell test next to dq1's expectations.
    "dq6_benford" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val digits = t(s, dir, "lineitem")
        .select(substring(cents.cast("string"), 1, 1).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
      val tot = digits.agg(sum(col("observed")).as("n"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("observed"),
          expr("observed * 1000000L div n").as("obs_micro"),
          floor(lit(1000000d)
            * log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            / log(lit(10.0))).cast("long").as("benford_micro"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "z4_pit_join" ->
      s"""$SCD2_CTES,
         |pr AS (SELECT doc_id,
         |  ${md5i("CAST(doc_id AS VARCHAR) || '#asof'")} % 3 + 1 AS as_of FROM documents)
         |SELECT pr.doc_id, CAST(pr.as_of AS BIGINT) AS as_of, h.fp AS fp_then
         |FROM pr LEFT JOIN hist h ON h.doc_id = pr.doc_id
         |  AND pr.as_of BETWEEN h.valid_from AND h.valid_to""".stripMargin,

    "dq1_expectations" ->
      """WITH m AS (SELECT count(*) AS n_rows,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_orderkey,
        |  sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS qty_out_of_range,
        |  sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS bad_returnflag,
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk
        |  FROM lineitem)
        |SELECT 'null_orderkey' AS rule, CAST(null_orderkey AS BIGINT) AS violations,
        |  null_orderkey = 0 AS passes FROM m
        |UNION ALL SELECT 'qty_in_1_50', CAST(qty_out_of_range AS BIGINT), qty_out_of_range = 0 FROM m
        |UNION ALL SELECT 'returnflag_in_set', CAST(bad_returnflag AS BIGINT), bad_returnflag = 0 FROM m
        |UNION ALL SELECT 'pk_unique', CAST(dup_pk AS BIGINT), dup_pk = 0 FROM m""".stripMargin,

    "dq2_ref_integrity" ->
      """SELECT 'orders->customer' AS edge, CAST(count(*) AS BIGINT) AS orphans
        |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'lineitem->orders', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT)
        |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)""".stripMargin,

    // Identical single-md5 bit-field cells; median-of-3 as sum−max−min.
    "cd10_countsketch" -> {
      def b(i: Int) = s"(h >> ${10 * (i - 1)}) % 1024"
      def sgn(i: Int) = s"(CASE WHEN (h >> ${40 + i}) % 2 = 0 THEN 1 ELSE -1 END)"
      val cellRows = (1 to 3).map(i =>
        s"SELECT $i AS i, ${b(i)} AS b, ${sgn(i)} * exact AS s FROM counted")
        .mkString("\nUNION ALL\n")
      val probeRows = (1 to 3).map(i =>
        s"SELECT k, exact, $i AS i, ${b(i)} AS b, ${sgn(i)} AS s FROM top")
        .mkString("\nUNION ALL\n")
      s"""WITH counted AS (SELECT k, exact, ${md5i("k")} AS h FROM (
         |  SELECT CAST(l_suppkey AS VARCHAR) AS k, count(*) AS exact
         |  FROM lineitem GROUP BY 1)),
         |cells AS (SELECT i, b, sum(s) AS c FROM (
         |$cellRows
         |) GROUP BY i, b),
         |top AS (SELECT k, h, exact FROM counted
         |  ORDER BY exact DESC, k LIMIT 16),
         |probes AS (
         |$probeRows
         |),
         |e AS (SELECT probes.k, probes.exact, probes.s * cells.c AS est_i
         |  FROM probes JOIN cells ON cells.i = probes.i AND cells.b = probes.b)
         |SELECT k, CAST(exact AS BIGINT) AS exact,
         |  CAST(sum(est_i) - max(est_i) - min(est_i) AS BIGINT) AS est,
         |  CAST(sum(est_i) - max(est_i) - min(est_i) - exact AS BIGINT) AS err
         |FROM e GROUP BY k, exact""".stripMargin
    },

    // The Datasketches estimates are not replayable in SQL; the oracle
    // pins the exact columns and asserts the in-row 3σ self-evaluations
    // hold (a broken merge or estimator flips a pinned boolean).
    "cd11_hll_union" ->
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS whole_ok, TRUE AS merged_ok
        |FROM events""".stripMargin,

    // Fill and exact count are both integers; the one double (ln of an
    // exact rational) lands identically, same discipline as t_bm25's ln.
    "cd9_bloom_cardinality" ->
      """WITH vals AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders),
        |pos AS (SELECT DISTINCT ('0x' || substr(md5(v || '|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 65536 AS pos
        |  FROM vals CROSS JOIN (VALUES (1), (2), (3)) t(i)),
        |st AS (SELECT (SELECT count(*) FROM vals) AS n_exact,
        |  (SELECT count(*) FROM pos) AS bits_set),
        |es AS (SELECT n_exact, bits_set,
        |  CAST(floor(-(65536.0/3.0) * ln(1.0 - CAST(bits_set AS DOUBLE)/65536.0) * 1000) AS BIGINT) AS est_milli
        |  FROM st)
        |SELECT CAST(65536 AS BIGINT) AS m, CAST(3 AS BIGINT) AS k,
        |  CAST(bits_set AS BIGINT) AS bits_set, CAST(n_exact AS BIGINT) AS n_exact,
        |  est_milli,
        |  (abs(est_milli - n_exact * 1000) * 10 <= n_exact * 1000) AS bloom_ok
        |FROM es""".stripMargin,

    "cd8_sample_quantiles" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        |    ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS p
        |  FROM lineitem),
        |smp AS (SELECT v FROM v ORDER BY p, v LIMIT 1024),
        |sc AS (SELECT count(*) AS ns FROM smp),
        |c AS (SELECT count(*) AS n FROM v),
        |t AS (SELECT CAST(bp AS BIGINT) AS bp
        |  FROM (VALUES (2500), (5000), (7500), (9000), (9900)) q(bp)),
        |r AS (SELECT bp, CAST((bp * ns + 9999) // 10000 AS BIGINT) AS sample_rank,
        |    CAST((bp * n + 9999) // 10000 AS BIGINT) AS xrank
        |  FROM t CROSS JOIN sc CROSS JOIN c),
        |ss AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM smp),
        |xs AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        |SELECT bp, sample_rank, ss.v AS est, xs.v AS exact, abs(ss.v - xs.v) AS abs_err
        |FROM r JOIN ss ON ss.rn = r.sample_rank JOIN xs ON xs.rn = r.xrank""".stripMargin,

    "cd7_kmv_setops" -> {
      val estOf = (src: String, out: String) =>
        s"""(SELECT CASE WHEN n < 256 THEN CAST(n AS BIGINT)
           |  ELSE CAST(floor(255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)) AS BIGINT) END AS $out
           |  FROM (SELECT count(*) AS n, max(h) AS hk FROM $src))""".stripMargin
      s"""WITH keys AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
         |sl AS (SELECT key, ${md5i("CAST(key AS VARCHAR) || '|9'")} % 100 AS sl FROM keys),
         |a AS (SELECT key FROM sl WHERE sl < 60),
         |b AS (SELECT key FROM sl WHERE sl >= 40),
         |ha AS (SELECT DISTINCT ${md5i("CAST(key AS VARCHAR)")} AS h FROM a),
         |hb AS (SELECT DISTINCT ${md5i("CAST(key AS VARCHAR)")} AS h FROM b),
         |sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 256),
         |sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 256),
         |su AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
         |  (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb))) WHERE rn <= 256),
         |ni AS (SELECT count(*) AS n_inter FROM su
         |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
         |SELECT ea.est_a, eb.est_b, eu.est_union,
         |  CAST(CASE WHEN (SELECT count(*) FROM su) < 256 THEN ni.n_inter
         |       ELSE ni.n_inter * eu.est_union // 256 END AS BIGINT) AS est_inter,
         |  (SELECT count(*) FROM a) AS exact_a,
         |  (SELECT count(*) FROM b) AS exact_b,
         |  (SELECT count(*) FROM (SELECT key FROM a UNION SELECT key FROM b)) AS exact_union,
         |  (SELECT count(*) FROM a WHERE key IN (SELECT key FROM b)) AS exact_inter
         |FROM ${estOf("sa", "est_a")} ea, ${estOf("sb", "est_b")} eb,
         |  ${estOf("su", "est_union")} eu, ni""".stripMargin
    },

    "cd6_quantiles_nosort" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v FROM lineitem),
        |c AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT CAST(bp AS BIGINT) AS bp,
        |  CAST((bp * n + 9999) // 10000 AS BIGINT) AS rank
        |  FROM (VALUES (2500), (5000), (7500), (9000), (9900)) t(bp) CROSS JOIN c),
        |s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
        |SELECT bp, rank, s.v AS value FROM r JOIN s ON s.rn = r.rank""".stripMargin,

    // The t_readability flesch CTEs feed the rank statistic: per distinct
    // score its count/positive-count, a cumulative strictly-less window,
    // then the doubled-midrank Mann–Whitney numerator — all integer.
    "ev1_roc_auc" ->
      """WITH m AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
        |  greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    s -> trim(s) <> '')), 1) AS n_sents
        |FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(n_sents AS BIGINT) AS n_sents,
        |  CAST(coalesce(list_sum(list_transform(w, x ->
        |    len(list_filter(string_split(regexp_replace(lower(x), '[^aeiouy]+', ' ', 'g'), ' '),
        |      p -> p <> '')))), 0) AS BIGINT) AS n_syllables
        |FROM m WHERE len(w) > 0),
        |f AS (SELECT doc_id,
        |  206835000 - CAST(floor(1015000.0 * n_words / n_sents) AS BIGINT)
        |            - CAST(floor(84600000.0 * n_syllables / n_words) AS BIGINT) AS flesch_micro
        |FROM s),
        |lab AS (SELECT f.flesch_micro AS sc,
        |  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
        |per AS (SELECT sc, count(*) AS cnt, sum(pos) AS p FROM lab GROUP BY sc),
        |rk AS (SELECT sc, cnt, p, coalesce(sum(cnt) OVER (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_less FROM per),
        |ag AS (SELECT sum(p) AS n_pos, sum(cnt - p) AS n_neg,
        |  sum(p * (2 * c_less + cnt + 1)) AS rank2_sum FROM rk)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(rank2_sum AS BIGINT) AS rank2_sum,
        |  CAST(CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN (rank2_sum - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg)
        |    ELSE 0 END AS BIGINT) AS auc_micro
        |FROM ag""".stripMargin,

    // The t_bm25 scoring replayed per single-term query (same corpus
    // stats, same df — the 4-term filter yields each term's own document
    // frequency), per-term rank window, relevance = term among the doc's
    // first 5 words. Queries whose term appears in no document drop on
    // BOTH sides (Spark's ranked-distinct ≡ the dfq membership filter).
    "ev3_mrr" ->
      s"""$WORDS_CTE,
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |u AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM u
         |  WHERE term IN ('spark', 'join', 'window', 'batch')
         |  GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
         |    * 1000000) AS BIGINT) AS score_micro
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |top AS (SELECT * FROM (SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term
         |      ORDER BY score_micro DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 20),
         |fr AS (SELECT top.term AS query, min(top.rank) AS first_rank
         |  FROM top JOIN t ON top.doc_id = t.doc_id
         |    AND list_contains(t.w[1:5], top.term)
         |  GROUP BY top.term)
         |SELECT q.term AS query, CAST(coalesce(fr.first_rank, 0) AS BIGINT) AS first_rank,
         |  CAST(CASE WHEN coalesce(fr.first_rank, 0) > 0
         |    THEN 1000000 // fr.first_rank ELSE 0 END AS BIGINT) AS rr_micro
         |FROM dfq q LEFT JOIN fr ON fr.query = q.term""".stripMargin,

    // ev3's ranking replay, reduced to set overlaps: hits = |rel ∩ top20|
    // per term, n_rel from the corpus-side title-match table.
    "ev4_precision_recall" ->
      s"""$WORDS_CTE,
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |u AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM u
         |  WHERE term IN ('spark', 'join', 'window', 'batch')
         |  GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term,
         |  CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
         |    * 1000000) AS BIGINT) AS score_micro
         |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
         |top AS (SELECT * FROM (SELECT term, doc_id,
         |    row_number() OVER (PARTITION BY term
         |      ORDER BY score_micro DESC, doc_id) AS rank FROM sc)
         |  WHERE rank <= 20),
         |rel AS (SELECT q.term, t.doc_id FROM dfq q
         |  JOIN t ON list_contains(t.w[1:5], q.term)),
         |nr AS (SELECT term, count(*) AS n_rel FROM rel GROUP BY term),
         |ht AS (SELECT top.term, count(*) AS hits
         |  FROM top JOIN rel ON top.term = rel.term AND top.doc_id = rel.doc_id
         |  GROUP BY top.term)
         |SELECT q.term AS query,
         |  CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
         |  CAST(coalesce(ht.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(ht.hits, 0) * 1000000 // 20 AS BIGINT) AS p_at_k_micro,
         |  CAST(CASE WHEN coalesce(nr.n_rel, 0) > 0
         |    THEN coalesce(ht.hits, 0) * 1000000 // nr.n_rel
         |    ELSE 0 END AS BIGINT) AS recall_micro
         |FROM dfq q LEFT JOIN nr ON nr.term = q.term
         |LEFT JOIN ht ON ht.term = q.term""".stripMargin,

    // ev1's flesch scoring replayed, then a deterministic ntile(10) over
    // (score DESC, doc_id) — the doc_id tie-break makes both engines
    // assign identical buckets.
    "ev5_lift_deciles" ->
      """WITH m AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w,
        |  greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
        |    s -> trim(s) <> '')), 1) AS n_sents
        |FROM documents),
        |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(n_sents AS BIGINT) AS n_sents,
        |  CAST(coalesce(list_sum(list_transform(w, x ->
        |    len(list_filter(string_split(regexp_replace(lower(x), '[^aeiouy]+', ' ', 'g'), ' '),
        |      p -> p <> '')))), 0) AS BIGINT) AS n_syllables
        |FROM m WHERE len(w) > 0),
        |f AS (SELECT doc_id,
        |  206835000 - CAST(floor(1015000.0 * n_words / n_sents) AS BIGINT)
        |            - CAST(floor(84600000.0 * n_syllables / n_words) AS BIGINT) AS flesch_micro
        |FROM s),
        |lab AS (SELECT f.doc_id, f.flesch_micro AS sc,
        |  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM f JOIN documents d ON f.doc_id = d.doc_id),
        |b AS (SELECT pos, ntile(10) OVER (ORDER BY sc DESC, doc_id) AS bucket FROM lab),
        |g AS (SELECT bucket, count(*) AS n, sum(pos) AS n_pos FROM b GROUP BY bucket),
        |tt AS (SELECT sum(n) AS n_total, sum(n_pos) AS p_total FROM g),
        |c AS (SELECT bucket, n, n_pos, sum(n_pos) OVER (ORDER BY bucket
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos FROM g)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(CASE WHEN p_total > 0
        |    THEN n_pos * n_total * 1000000 // (n * p_total) ELSE 0 END AS BIGINT) AS lift_micro,
        |  CAST(CASE WHEN p_total > 0
        |    THEN cum_pos * 1000000 // p_total ELSE 0 END AS BIGINT) AS cum_gain_micro
        |FROM c CROSS JOIN tt""".stripMargin,

    // t_lang_confusion's cells replayed, reduced to per-true-class
    // tp/fp/fn and the integral F1 = 2tp/(2tp+fp+fn).
    "ev6_f1_per_class" -> {
      val scores = Seq(
        "en" -> Seq("the", "and", "of", "a", "is"),
        "de" -> Seq("der", "die", "und", "das", "ist"),
        "es" -> Seq("el", "la", "de", "y", "es"),
        "fr" -> Seq("le", "la", "et", "les", "est")).map { case (lang, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"CAST(len(list_filter(w, x -> x IN ($inList))) AS BIGINT) AS s_$lang"
      }.mkString(",\n ")
      s"""$WORDS_CTE,
         |sc AS (SELECT doc_id,
         | $scores
         | FROM t),
         |pr AS (SELECT doc_id,
         | CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |      WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
         |      WHEN s_fr > 0 THEN 'fr'
         |      ELSE 'und' END AS pred_lang
         |FROM sc),
         |cells AS (SELECT d.lang AS truth, pr.pred_lang AS pred, count(*) AS cnt
         |  FROM pr JOIN documents d ON pr.doc_id = d.doc_id
         |  GROUP BY d.lang, pr.pred_lang),
         |tn AS (SELECT truth AS clazz, sum(cnt) AS truth_n FROM cells GROUP BY truth),
         |pn AS (SELECT pred AS clazz, sum(cnt) AS pred_n FROM cells GROUP BY pred),
         |tpx AS (SELECT truth AS clazz, sum(cnt) AS tp FROM cells
         |  WHERE truth = pred GROUP BY truth),
         |j AS (SELECT tn.clazz, coalesce(tpx.tp, 0) AS tp,
         |  coalesce(pn.pred_n, 0) - coalesce(tpx.tp, 0) AS fp,
         |  tn.truth_n - coalesce(tpx.tp, 0) AS fn
         |  FROM tn LEFT JOIN tpx ON tpx.clazz = tn.clazz
         |  LEFT JOIN pn ON pn.clazz = tn.clazz)
         |SELECT clazz, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CAST(CASE WHEN tp + fp > 0 THEN tp * 1000000 // (tp + fp) ELSE 0 END AS BIGINT) AS prec_micro,
         |  CAST(CASE WHEN tp + fn > 0 THEN tp * 1000000 // (tp + fn) ELSE 0 END AS BIGINT) AS rec_micro,
         |  CAST(CASE WHEN 2 * tp + fp + fn > 0
         |    THEN 2 * tp * 1000000 // (2 * tp + fp + fn) ELSE 0 END AS BIGINT) AS f1_micro
         |FROM j""".stripMargin
    },

    // The t_lang_confusion cells reduced to κ's sufficient statistics:
    // marginal row/col masses joined on the class key, one global
    // aggregate, the sign-explicit micro division.
    "ev2_cohens_kappa" -> {
      val scores = operators.TextAnalysis.LangMarkers.map { case (lang, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"CAST(len(list_filter(w, x -> x IN ($inList))) AS BIGINT) AS s_$lang"
      }.mkString(",\n ")
      s"""$WORDS_CTE,
         |sc AS (SELECT doc_id,
         | $scores
         | FROM t),
         |pr AS (SELECT doc_id,
         | CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |      WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
         |      WHEN s_fr > 0 THEN 'fr'
         |      ELSE 'und' END AS pred_lang
         |FROM sc),
         |cells AS (SELECT d.lang AS a, pr.pred_lang AS b, count(*) AS n
         |  FROM pr JOIN documents d ON pr.doc_id = d.doc_id GROUP BY 1, 2),
         |rw AS (SELECT a AS k, sum(n) AS row_n FROM cells GROUP BY a),
         |cl AS (SELECT b AS k, sum(n) AS col_n FROM cells GROUP BY b),
         |ch AS (SELECT coalesce(sum(row_n * col_n), 0) AS chance_num
         |  FROM rw JOIN cl USING (k)),
         |tt AS (SELECT sum(n) AS n_total,
         |  sum(CASE WHEN a = b THEN n ELSE 0 END) AS agree FROM cells)
         |SELECT CAST(n_total AS BIGINT) AS n_total, CAST(agree AS BIGINT) AS agree,
         |  CAST(chance_num AS BIGINT) AS chance_num,
         |  CAST(n_total * agree - chance_num AS BIGINT) AS kappa_num,
         |  CAST(n_total * n_total - chance_num AS BIGINT) AS kappa_den,
         |  CAST(CASE WHEN n_total * n_total - chance_num = 0 THEN 0
         |    WHEN n_total * agree - chance_num >= 0
         |      THEN (n_total * agree - chance_num) * 1000000
         |        // (n_total * n_total - chance_num)
         |    ELSE -((chance_num - n_total * agree) * 1000000
         |        // (n_total * n_total - chance_num)) END AS BIGINT) AS kappa_micro
         |FROM tt CROSS JOIN ch""".stripMargin
    },

    "cd1_count_distinct" ->
      """SELECT c_mktsegment AS segment, count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    // Self-evaluating HLL gate: the oracle recomputes the exact counts
    // and asserts the in-row error-bound verdict constant-true.
    "cd2_approx_distinct" ->
      """SELECT o_orderpriority AS priority,
        |  count(DISTINCT o_custkey) AS exact_customers, true AS hll_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "cd3_kmv_distinct" ->
      s"""WITH hashed AS (SELECT DISTINCT o_orderpriority AS grp,
         |  ${md5i("CAST(o_custkey AS VARCHAR)")} AS h FROM orders),
         |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hashed),
         |a AS (SELECT grp, max(rn) AS n_seen, max(CASE WHEN rn = 64 THEN h END) AS hk
         |      FROM r WHERE rn <= 64 GROUP BY grp)
         |SELECT grp AS priority,
         |  CASE WHEN n_seen < 64 THEN CAST(n_seen AS BIGINT)
         |       ELSE CAST(floor(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)) AS BIGINT)
         |  END AS est_distinct
         |FROM a""".stripMargin,

    "cd4_row_checksum" -> {
      // mirrors Sketch.rowChecksum: per-column md5 tokens ("null" for NULL)
      // -> row hash -> (row hash, count) pairs -> XOR of their hashes
      def ck(table: String, cols: Seq[String]) = {
        val tokens = cols.map(c =>
          s"coalesce(CAST(${md5i(s"CAST($c AS VARCHAR)")} AS VARCHAR), 'null')").mkString(", ")
        s"""SELECT '$table' AS tbl,
           |  bit_xor(${md5i("CAST(rh AS VARCHAR) || ':' || CAST(cnt AS VARCHAR)")}) AS checksum
           |FROM (SELECT rh, count(*) AS cnt FROM (
           |  SELECT ${md5i(s"concat_ws('|', $tokens)")} AS rh FROM $table) GROUP BY rh)""".stripMargin
      }
      Seq(
        ck("nation", Seq("n_nationkey", "n_name", "n_regionkey")),
        ck("region", Seq("r_regionkey", "r_name")),
        ck("part", Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size")))
        .mkString("\nUNION ALL ")
    },

    // mirrors Sketch.countMinHeavy: seeded-md5 cells, min-of-depth
    // estimate, exact count only for sketch-flagged candidates.
    "cd5_countmin_heavy" -> {
      // Kirsch–Mitzenmacher cells from ONE md5 per key: (h1 + r·h2) % 16
      // with h1 = h mod 2^30 and h2 = (h >> 30) | 1 — mirrors Sketch.
      val cellOf = s"(hh % 1073741824 + r * ((hh // 1073741824) | 1)) % 16"
      s"""WITH u AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS k
         |  FROM documents),
         |hh0 AS (SELECT k, ${md5i("k")} AS hh FROM u),
         |cells AS (SELECT k, r, $cellOf AS b
         |  FROM hh0 CROSS JOIN generate_series(0, 3) g(r)),
         |sk AS (SELECT r, b, count(*) AS c FROM cells GROUP BY r, b),
         |probe AS (SELECT DISTINCT k, r, $cellOf AS b
         |  FROM hh0 CROSS JOIN generate_series(0, 3) g(r)),
         |est AS (SELECT probe.k, min(sk.c) AS est_count FROM probe
         |  JOIN sk ON probe.r = sk.r AND probe.b = sk.b GROUP BY probe.k),
         |cand AS (SELECT k, est_count FROM est WHERE est_count >= 1000),
         |ex AS (SELECT u.k, count(*) AS exact_count FROM u
         |  JOIN cand ON u.k = cand.k GROUP BY u.k)
         |SELECT cand.k AS word, est_count, exact_count
         |FROM cand JOIN ex ON cand.k = ex.k""".stripMargin
    },

    "z1_asof_join" ->
      """SELECT l.user_id AS user_id, l.event_id AS event_id, l.ts AS click_ts,
        |  r.ts AS purchase_ts, r.value AS purchase_value
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN
        |  (SELECT user_id, ts, max(value) AS value FROM events
        |   WHERE event_type = 'purchase' GROUP BY user_id, ts) r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts""".stripMargin,

    "z3_interval_overlap" ->
      """WITH a AS (SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day2,
        |  epoch_us(min(ts)) AS s2, epoch_us(max(ts)) AS e2 FROM events GROUP BY 1, 2)
        |SELECT a.user_id, a.day, b.event_type,
        |  least(a.e, b.e2) - greatest(a.s, b.s2) AS overlap_micros
        |FROM a JOIN b ON a.s <= b.e2 AND b.s2 <= a.e""".stripMargin,

    "z2_range_join" ->
      s"""WITH b(band_id, lo, hi) AS (VALUES
        |  (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 300.0),
        |  (3, 300.0, 400.0), (4, 400.0, 1e9))
        |SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS cnt,
        |  CAST(sum(${centsSql("value")}) AS DOUBLE) / 100 AS sum_value
        |FROM events JOIN b ON value >= lo AND value < hi
        |GROUP BY band_id""".stripMargin,

    "dq3_profile" -> {
      def prof(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT CAST(floor($c * 100 + 0.5) AS BIGINT)) AS BIGINT) AS n_distinct,
           |  CAST(min(CAST(floor($c * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
           |  CAST(max(CAST(floor($c * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents,
           |  CAST(sum(CAST(floor($c * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(prof).mkString("\nUNION ALL\n")
    },

    "dq5_correlation" ->
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y FROM lineitem),
        |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM b)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS varx_num,
        |  CAST(n * syy - sy * sy AS BIGINT) AS vary_num,
        |  CAST(CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN 0
        |    ELSE floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE)))
        |    END AS BIGINT) AS corr_micro
        |FROM a""".stripMargin,

    "dq7_psi" ->
      """WITH b AS (SELECT year(CAST(l_shipdate AS DATE)) AS yr,
        |  least(9, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 1000000) AS bucket
        |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)),
        |a AS (SELECT bucket, sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS p,
        |  sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS q FROM b GROUP BY bucket),
        |tt AS (SELECT sum(p) AS np, sum(q) AS nq FROM a)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(p AS BIGINT) AS p,
        |  CAST(q AS BIGINT) AS q,
        |  CAST(floor(1000000.0
        |    * (CAST(p AS DOUBLE) / np - CAST(q AS DOUBLE) / nq)
        |    * ln(CAST(p * nq AS DOUBLE) / CAST(q * np AS DOUBLE))) AS BIGINT)
        |    AS psi_term_micro
        |FROM a CROSS JOIN tt WHERE p > 0 AND q > 0""".stripMargin,

    "dq8_fd_check" -> {
      def fd(tbl: String, a: String, b: String) =
        s"""SELECT '$a->$b' AS fd, CAST(count(*) AS BIGINT) AS n_lhs,
           |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
           |  CAST(max(nb) AS BIGINT) AS max_rhs_distinct
           |FROM (SELECT $a, count(DISTINCT $b) AS nb FROM $tbl GROUP BY $a)""".stripMargin
      Seq(fd("lineitem", "l_orderkey", "l_linestatus"),
        fd("lineitem", "l_orderkey", "l_returnflag"),
        fd("lineitem", "l_partkey", "l_suppkey"),
        fd("orders", "o_custkey", "o_orderpriority")).mkString("\nUNION ALL\n")
    },

    "dq12_k_anonymity" ->
      """SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
        |  count(*) AS n, (count(*) < 5) AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "dq11_join_size" ->
      """WITH lc AS (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
        |oc AS (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1),
        |p AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS predicted
        |  FROM lc JOIN oc ON lc.k = oc.k),
        |a AS (SELECT count(*) AS actual FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey)
        |SELECT predicted, CAST(actual AS BIGINT) AS actual,
        |  (predicted = actual) AS stat_exact FROM p CROSS JOIN a""".stripMargin,

    // Surprise floors per value BEFORE the weighted sum — integer from
    // there on, so the profile is engine-exact.
    "dq10_entropy" -> {
      // sum(BIGINT) → HUGEINT in DuckDB: cast n and the floored quotient
      // back to BIGINT to match Spark's LongType hash.
      def ent(tbl: String, c: String) =
        s"""SELECT '$c' AS "column", CAST(n AS BIGINT) AS n, n_distinct,
           |  CAST(mass // n AS BIGINT) AS entropy_micro FROM (
           |  SELECT sum(cnt) AS n, CAST(count(*) AS BIGINT) AS n_distinct,
           |    sum(cnt * CAST(floor(ln(CAST((SELECT count(*) FROM $tbl) AS DOUBLE) / cnt)
           |      * 1000000) AS BIGINT)) AS mass
           |  FROM (SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt FROM $tbl GROUP BY 1))""".stripMargin
      Seq(("lineitem", "l_linestatus"), ("lineitem", "l_returnflag"),
        ("orders", "o_orderstatus"), ("orders", "o_orderpriority"))
        .map { case (t, c) => ent(t, c) }.mkString("\nUNION ALL\n")
    },

    // Both medians via the cd6 rank convention (rank = ⌈bp·n/10⁴⌉, the
    // rank-th smallest), then the exact-rational 44478/10000 cut.
    "dq9_mad_outliers" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v FROM lineitem),
        |c AS (SELECT count(*) AS n FROM v),
        |medr AS (SELECT CAST((5000 * n + 9999) // 10000 AS BIGINT) AS rank FROM c),
        |s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
        |med AS (SELECT s.v AS med FROM medr JOIN s ON s.rn = medr.rank),
        |ad AS (SELECT abs(v.v - med.med) AS ad, med.med FROM v CROSS JOIN med),
        |s2 AS (SELECT ad, row_number() OVER (ORDER BY ad) AS rn FROM ad),
        |mad AS (SELECT s2.ad AS mad FROM medr JOIN s2 ON s2.rn = medr.rank)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(ad.med) AS BIGINT) AS median,
        |  CAST(min(mad.mad) AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN ad.ad * 10000 > 44478 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN ad.ad * 10000 > 44478 * mad.mad THEN 1 ELSE 0 END)
        |    * 1000000 // count(*) AS BIGINT) AS outlier_ppm
        |FROM ad CROSS JOIN mad""".stripMargin,

    "dq6_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS digit FROM lineitem),
        |o AS (SELECT digit, count(*) AS observed FROM d GROUP BY digit),
        |tt AS (SELECT sum(observed) AS n FROM o)
        |SELECT digit, CAST(observed AS BIGINT) AS observed,
        |  CAST(observed * 1000000 // n AS BIGINT) AS obs_micro,
        |  CAST(floor(1000000.0 * ln(1.0 + 1.0 / CAST(digit AS DOUBLE))
        |    / ln(10.0)) AS BIGINT) AS benford_micro
        |FROM o CROSS JOIN tt""".stripMargin,
  )
}
