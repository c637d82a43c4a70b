package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphBuilder, GraphStore, PropertyGraph}

/** Deduplication gates (exact, MinHash/LSH, SimHash, n-gram Jaccard, substring/decontamination, incremental, clustering).
  *
  * Split from the former single-object SparkEntry (round 14) — a pure
  * refactor: every entry body is byte-identical, gate names and oracle
  * SQL unchanged; [[SparkEntry]] composes the family maps back together.
  */
private[graft] object GatesDedup extends GateFamily {
  import GateSupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // M6 — document fingerprint (md5) + exact-dup group size.
    "d_exact_dup_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("h"))
      val groups = d.groupBy(col("h")).agg(count(lit(1)).as("dup_count"))
      d.join(groups, "h").select(col("doc_id"), col("h"), col("dup_count"))
    }),

    // ------------------------------------------- M6 training-data pipeline ops

    // MinHash signatures (4 hashes over word 3-gram shingles).
    "d_minhash_sig" -> ((s, dir) => {
      operators.Dedup.minhashSignature(t(s, dir, "documents"), "text", k = 4)
        .select(col("doc_id"), col("h1"), col("h2"), col("h3"), col("h4"))
    }),

    // MinHash + LSH banding: candidate near-dup pairs (4 bands x 2 rows).
    // Oracle parity note (also d_ngram_jaccard, d_dup_clusters): the
    // DuckDB oracles mirror the UNCAPPED pipeline; equivalence is exact
    // below the 8192 hot-bucket cap, which gate corpora never reach
    // (sf0.1 has 5000 docs). The capped path is OperatorsSpec-covered.
    "d_minhash_lsh" -> ((s, dir) => {
      operators.Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text")
    }),

    // 16-bit SimHash fingerprint per document.
    "d_simhash" -> ((s, dir) => {
      operators.Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
    }),

    // SimHash hamming-ball near-dup join (Manku et al. WWW'07): 60-bit
    // fingerprints, 4 pigeonhole bands of 15 bits (lossless blocking —
    // a pair within Hamming 3 agrees exactly on some band), popcount
    // exact filter. The bitwise sibling of d_minhash_lsh's probabilistic
    // banding. 60 bits, not the operator's 48 default: the low-entropy
    // word-salad corpus clusters fingerprints, and wider bands keep the
    // band buckets thin (the cap stays as the backstop).
    "d_simhash_neardup" -> ((s, dir) => {
      operators.Dedup.simhashNearDup(t(s, dir, "documents"), "doc_id", "text", bits = 60)
    }),

    // Exact 3-gram Jaccard on 1-hash-prefiltered candidate pairs.
    "d_ngram_jaccard" -> ((s, dir) => {
      operators.Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text")
    }),

    // EXACT θ=0.8 shingle-Jaccard self-join with NO false negatives:
    // prefix filtering (AllPairs/PPJoin) under a rarest-shingle-first
    // global order — the deterministic complement of d_minhash_lsh's
    // probabilistic banding. The oracle is the brute-force all-pairs
    // join, so a hash match PROVES the lossless-blocking claim.
    "d_prefix_join" -> ((s, dir) => {
      operators.Dedup.prefixFilterJoin(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Asymmetric containment (|A∩B|/|A|, |A∩B|/|B|) over the same
    // candidate pairs — the quote/excerpt detector symmetric Jaccard
    // systematically under-scores.
    "d_ngram_containment" -> ((s, dir) => {
      operators.Dedup.ngramContainment(t(s, dir, "documents"), "doc_id", "text")
    }),

    // The 100 TB containment path: signature-only estimate (k longs + one
    // set-size scalar per doc cross the verification join, never the
    // shingle sets) — m/k agreement inverted through inclusion-exclusion.
    "d_containment_est" -> ((s, dir) => {
      operators.Dedup.containmentEstimate(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Estimator-quality audit (the e10 pattern for containment): the
    // signature estimate against the exact verifier on the pairs both
    // surface, reduced to one (n_pairs, mae, max-error) row in exact
    // 1e-4 integer units — the number that says whether the scale path
    // is trustworthy.
    "d_containment_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val est = operators.Dedup.containmentEstimate(docs, "doc_id", "text")
      val exact = operators.Dedup.ngramContainment(docs, "doc_id", "text")
      est.join(exact, Seq("id_a", "id_b"))
        .select(round(col("cont_ab_est") * 10000).cast("long").as("eu"),
          round(col("cont_ab") * 10000).cast("long").as("xu"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(abs(eu - xu)) div count(1)").as("mae_x10000"),
          max(abs(col("eu") - col("xu"))).as("max_x10000"))
    }),

    // LSH candidate-quality audit: exact Jaccard over every d_minhash_lsh
    // pair, reduced to one (n_candidates, n_true, precision) row at
    // threshold 0.5 — the number the band/row configuration is tuned by.
    "d_lsh_precision" -> ((s, dir) => {
      operators.Dedup.lshPrecision(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Round-8 quality pipeline, composed in ONE plan: corpus LM ->
    // per-doc coverage -> percentile cutoff (drop the bottom quintile by
    // coverage) -> exclude docs carrying any cross-document duplicated
    // 8-token span. Every stage is separately oracled (t_lm_coverage,
    // t_quality_cut shape, d_substring_spans); this gate verifies the
    // CHAIN, one row per document.
    "d_pipeline_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = operators.TextAnalysis.ngramLm(docs, "text")
      val cov = operators.TextAnalysis.lmCoverage(docs, lm, "doc_id", "text")
        .select(col("doc_id"), col("coverage"))
      val cut = operators.Dedup.percentileCut(cov, "coverage", 0.2, exact = true)
      val dup = operators.Dedup.substringSpans(docs, "doc_id", "text")
        .select(col("doc_id")).distinct().withColumn("__dup", lit(true))
      cut.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("coverage"), col("kept"),
          coalesce(col("__dup"), lit(false)).as("dup_doc"),
          (col("kept") && !coalesce(col("__dup"), lit(false))).as("final_keep"))
    }),

    // Deterministic pre-training shuffle: md5-ordered shard + position
    // assignment (reproducible on any engine/partitioning — no rand()).
    "d_shuffle_shard" -> ((s, dir) => {
      operators.Dedup.shuffleShard(t(s, dir, "documents"), "doc_id")
    }),

    // Auto-sized twin: nShards DERIVED from the corpus count
    // (max(minShards, ceil(n / maxShardRows))) — the production entry
    // point for un-sized corpora. maxShardRows=40 puts the 500-doc gate
    // corpus at 13 shards, so the gate proves the derivation, not the
    // minShards floor.
    "d_shuffle_shard_auto" -> ((s, dir) => {
      operators.Dedup.shuffleShardAuto(t(s, dir, "documents"), "doc_id",
        maxShardRows = 40L, minShards = 2)
    }),

    // Overflow audit twin: shards whose realized size exceeds the
    // caller's plan. nShards=2/maxShardRows=200 deliberately undersizes
    // the 500-doc corpus so the report is NON-empty — the gate proves
    // the audit fires, not that it stays silent.
    "d_shard_overflow" -> ((s, dir) => {
      operators.Dedup.shardOverflow(t(s, dir, "documents"), "doc_id",
        nShards = 2, maxShardRows = 200L)
    }),

    // Domain-mixture epoch realization (DoReMi-style): src0 upsampled
    // 2.5x, src1 downsampled 0.25x, everything else 1.0 — epochs by
    // deterministic md5 coin per (doc, epoch); pure projection+explode.
    "d_mixture" -> ((s, dir) => {
      operators.Dedup.mixtureSample(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25))
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // Balanced per-domain quota: the 5 docs per source with smallest
    // (md5, id) — a deterministic stratified eval head.
    "d_stratified_head" -> ((s, dir) => {
      operators.Dedup.stratifiedHead(t(s, dir, "documents"), "doc_id", "source", n = 5)
        .select(col("doc_id"), col("source"))
    }),

    // Temperature-scaled mixture weights (UniMax τ=1/2): w_d ∝ √n_d,
    // normalized — micro-unit integer sum so the normalization is exact
    // and order-independent; one tiny agg, corpus never re-shuffles.
    "d_temperature_mix" -> ((s, dir) => {
      operators.Dedup.temperatureWeights(t(s, dir, "documents"), "source")
    }),

    // Bloom-bitset decontamination screen: 1024-bit filter, 3 md5 hashes,
    // benchmark = every 25th doc's text. bloom_hit is the constant-space
    // map-side flag; exact_hit the ground truth — the result exhibits the
    // no-false-negative invariant and the tunable false positives.
    "d_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Dedup.bloomDecontaminate(
        docs, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text",
        mBits = 1024, kHashes = 3)
    }),

    // End-to-end pipeline composition: Gopher quality gate → exact-dup
    // canonicalization → 90/5/5 split → per-split doc/token totals.
    // Each stage is an already-oracled operator; this verifies the CHAIN.
    "d_pipeline_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val kept = docs.join(
        operators.TextAnalysis.gopherQuality(docs, "doc_id", "text")
          .filter(col("passes")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      // Window-min canonicalization, ONE pass over `kept` — the
      // groupBy+self-semi-join form would evaluate the regex-heavy
      // quality gate twice (same shape as d_exact_dup_fingerprint).
      val deduped = kept
        .withColumn("__mn", min(col("doc_id"))
          .over(Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("__mn")).drop("__mn")
      operators.Dedup.trainValTestSplit(deduped, "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(operators.TextAnalysis.tokens(col("text"))).cast("long"))
            .as("total_tokens"))
    }),

    // Sparse-vector nearest neighbors: TF-IDF cosine top-3 per document
    // via an inverted-index self-join on term — the lexical candidate
    // generator (vs e1's dense brute-force and e2's LSH).
    "d_sparse_neighbors" -> ((s, dir) => {
      operators.TextAnalysis.sparseCosineTopK(
        t(s, dir, "documents"), "doc_id", "text", r = 5, k = 3)
    }),

    // Deterministic 10% hash sample of the corpus.
    "d_hash_sample" -> ((s, dir) => {
      operators.Dedup.hashSample(t(s, dir, "documents"), "doc_id", pct = 10)
        .select(col("doc_id"), col("bucket"))
    }),

    // Incremental snapshot dedup: a deterministic 20% hash-slice of the
    // corpus plays the "new crawl snapshot", the other 80% the existing
    // corpus; each delta doc keeps only if no verified (Jaccard >= 0.5)
    // near-dup already exists in base. The per-ingest production pattern
    // — the delta probes the corpus's band-bucket index, never self-joins
    // the corpus (see Dedup.incrementalDedup).
    // First-claim novelty score: a doc's distinct shingles that NO
    // earlier doc (smaller doc_id) contains — the contribution metric a
    // curriculum/data-valuation pass ranks sources by ("how much new
    // text does this feed add"), and the per-doc view of what
    // d_exact_dup_fingerprint decides wholesale. Shingles travel as
    // 60-bit md5 hashes; text never crosses an exchange.
    "d_novelty" -> ((s, dir) => {
      val ds = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          operators.Dedup.shingles(col("text")))).as("sh"))
        // distinct AFTER hashing so a (theoretical) 60-bit collision
        // collapses the same way the oracle's DISTINCT-on-hash does
        .select(col("doc_id"), functions.Hashing.md5Long(col("sh")).as("g"))
        .distinct()
      val own = ds.groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
      ds.join(own, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum((col("owner") === col("doc_id")).cast("long")).as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000L div n_shingles"))
    }),

    "d_incremental_dedup" -> ((s, dir) => {
      val slice = graft.functions.Hashing.md5Long(col("doc_id")) % 100
      val docs = t(s, dir, "documents")
      operators.Dedup.incrementalDedup(
        docs.filter(slice >= 20), docs.filter(slice < 20),
        "doc_id", "text", tau = 0.5)
    }),

    // Snapshot change detection (crawl-over-crawl audit): snapshot A is
    // the corpus minus its top-10% hash slice, snapshot B minus the
    // bottom-10% with the 40s slice rewritten — so all four verdicts
    // (added / removed / changed / same) occur deterministically. Only
    // (key, 60-bit fingerprint) pairs reach the full-outer join; text
    // never shuffles (Dedup.snapshotDiff).
    "d_snapshot_diff" -> ((s, dir) => {
      val slice = graft.functions.Hashing.md5Long(col("doc_id")) % 100
      val docs = t(s, dir, "documents")
      val snapA = docs.filter(slice < 90).select(col("doc_id"), col("text"))
      val snapB = docs.filter(slice >= 10).select(col("doc_id"),
        when(slice.between(40, 49), concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      operators.Dedup.snapshotDiff(snapA, snapB, "doc_id", Seq("text"))
        .select(col("key").as("doc_id"), col("status"), col("old_fp"), col("new_fp"))
    }),

    // SCD-2 history: three deterministic snapshot versions (v2 rewrites
    // the 40s slice and deletes the 95+ slice; v3 also rewrites the 20s
    // slice and restores the deleted docs) collapsed to per-key validity
    // intervals — deletion closes a run, reappearance opens a new one.
    "d_scd2_history" -> ((s, dir) => {
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
      operators.Dedup.scdHistory(
        v1.unionByName(v2).unionByName(v3), "doc_id", "version", "fp", latest = 3L)
    }),

    // Deterministic 90/5/5 train/val/test split (same shard anywhere).
    "d_train_split" -> ((s, dir) => {
      operators.Dedup.trainValTestSplit(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("split"))
    }),

    // Stratified EXACT-proportion 80/10/10 split per language —
    // d_train_split's per-row hash hits proportions only in expectation
    // (a small stratum can miss a split entirely); the eval-set builder
    // wants them exact per stratum. Deterministic (md5, id) order inside
    // each stratum.
    "d_stratified_split" -> ((s, dir) => {
      operators.Dedup.stratifiedSplit(
        t(s, dir, "documents"), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("split"))
    }),

    // MinHash calibration: estimated Jaccard (signature agreement share,
    // exact basis points — matches·10000/8) next to the exact n-gram
    // Jaccard on the SAME candidate pairs — the sketch-quality eval that
    // says whether 8 hashes are enough for this corpus.
    "d_minhash_estimate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // LAZY cut (optimization round 17): the signature feeds
      // BOTH sides of the self-join below, and without the cut each side
      // re-pays the full shingle + 8×md5-per-shingle pass (the gate's
      // dominant compute — measured ~3.2 s, two signature subtrees in the
      // plan). Lazily checkpointed, it materializes once inside the
      // gate's single action; blocks release with the frame.
      val sig = Cuts.cut(operators.Dedup.minhashSignature(docs, "text", k = 8)
        .select(col("doc_id") +: (1 to 8).map(i => col(s"h$i")): _*), eager = false)
      val a = sig.toDF("id_a" +: (1 to 8).map(i => s"a$i"): _*)
      val b = sig.toDF("id_b" +: (1 to 8).map(i => s"b$i"): _*)
      val matches = (1 to 8).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
      val est = a.join(b, col("a1") === col("b1") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), (matches * 1250L).as("est_bp"))
      operators.Dedup.ngramJaccard(docs, "doc_id", "text")
        .join(est, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("est_bp"), col("jaccard"))
    }),

    // Deterministic weighted sampling (8 draws, P ∝ token count, exact):
    // ticket/min-hash form — the per-row ticket minimum folds in codegen,
    // the global argmin is a struct-min aggregate; no float pow.
    "d_weighted_sample" -> ((s, dir) => {
      val weighted = t(s, dir, "documents").select(col("doc_id"),
        size(operators.Dedup.tokens(col("text"))).cast("long").as("w"))
      operators.Dedup.weightedSample(weighted, "doc_id", "w", draws = 8)
    }),

    // Cross-source contamination matrix: exact Jaccard of shingle SETS
    // between every source pair — "which ingestion feeds overlap". The
    // per-source set sizes and pairwise intersections come from one
    // distinct (source, shingle) table; the self-join's per-shingle
    // fan-out is bounded by #sources², not corpus size.
    "d_source_overlap" -> ((s, dir) => {
      val ss = t(s, dir, "documents")
        .select(col("source"),
          explode(operators.Dedup.shingles(col("text"))).as("sh"))
        .distinct()
      val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      ss.join(ss.select(col("source").as("source_b"), col("sh")), Seq("sh"))
        .filter(col("source") < col("source_b"))
        .groupBy(col("source").as("source_a"), col("source_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("source").as("source_a"), col("sz").as("sz_a")),
          Seq("source_a"))
        .join(sizes.select(col("source").as("source_b"), col("sz").as("sz_b")),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("inter"),
          col("sz_a"), col("sz_b"),
          expr("inter * 1000000L div (sz_a + sz_b - inter)").as("jaccard_micro"))
    }),

    // Fuzzy entity-key join: Levenshtein ≤ 1 customer-name pairs via
    // deletion-neighborhood blocking (FastSS) — candidates share a
    // deletion variant, exact levenshtein verifies candidates ONLY;
    // the corpus is never cross-joined (the oracle, being SQL, is).
    "d_fuzzy_join" -> ((s, dir) => {
      operators.Dedup.editNeighbors(t(s, dir, "customer"), "c_custkey", "c_name")
    }),

    // End-to-end near-dup CLUSTERING: LSH candidate pairs -> undirected
    // transitive closure -> canonical (minimum) doc per dup cluster. The
    // "keep one per cluster" pass every training-data dedup ends with,
    // composed from the capped LSH join and the cycle-safe fixpoint
    // (clusters are symmetric graphs — cycles by construction).
    "d_dup_clusters" -> ((s, dir) => {
      // Min-id label propagation (state O(vertices)), NOT the all-pairs
      // transitive closure: a web-scale boilerplate cluster of 10⁵-10⁶
      // near-identical docs would make the closure materialize 10¹⁰-10¹²
      // (origin, node) rows, while the label column stays one row per doc.
      // min-over-closure ≡ min label, so the WITH RECURSIVE oracle is
      // unchanged. NOTE the oracle mirrors the UNCAPPED pipeline: parity
      // holds below the 8192 hot-bucket cap (guaranteed at gate scales —
      // sf docs < 8192); the capped path is spec-covered instead.
      val pairs = operators.Dedup.lshCandidates(t(s, dir, "documents"), "doc_id", "text")
      graph.Traversal.minLabel(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("doc_id"), col("label").as("canonical"))
    }),

    // Quality-aware canonical: d_dup_clusters' cluster labels with the
    // representative chosen by MAX quality score (tie → min id) instead
    // of min id — the keep-the-cleanest-copy rule production dedup
    // applies. Singletons (docs in no pair) are their own cluster and
    // keep themselves. Argmax is two hash aggregates, not a per-cluster
    // sort window (see Dedup.keepBest). Same oracle-parity note as
    // d_dup_clusters: the WITH RECURSIVE oracle mirrors the uncapped
    // pair join, exact below the 8192 hot-bucket cap; quality values
    // are the floor4-quantized engine-exact t_quality_score numbers,
    // so cross-engine argmax agreement is exact, not approximate.
    "d_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = operators.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val pairs = operators.Dedup.lshCandidates(docs, "doc_id", "text")
      val clusters = graph.Traversal.minLabel(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val members = docs.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
      operators.Dedup.keepBest(members, q, "doc_id", "cluster", "quality")
    }),

    // The dedup pipeline END-TO-END, one plan: LSH candidate pairs →
    // min-label clustering → quality-aware keep-best → the CANONICAL
    // CORPUS itself — one row per surviving document with the cluster it
    // represents, how many members it absorbed, and its token count (the
    // numbers a corpus card reports after dedup). The dedup twin of
    // d_pipeline_quality's chain gate: every stage is separately oracled
    // (d_minhash_lsh, d_dup_clusters, d_keep_best); this verifies the
    // composition. Same uncapped-oracle parity note as d_dup_clusters.
    "d_pipeline_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = operators.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val pairs = operators.Dedup.lshCandidates(docs, "doc_id", "text")
      val clusters = graph.Traversal.minLabel(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      val members = docs.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
      val kb = operators.Dedup.keepBest(members, q, "doc_id", "cluster", "quality")
      val sizes = kb.groupBy(col("canonical")).agg(count(lit(1)).as("n_members"))
      kb.filter(col("keep"))
        .join(sizes, Seq("canonical"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("canonical"), col("quality"), col("n_members"),
          size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    }),

    // SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs (e3's
    // IVF-style label blocking) → min-id label propagation → canonical
    // representative per embedding-similarity cluster — the
    // embedding-space twin of d_dup_clusters' lexical MinHash pipeline.
    // Same oracle-parity note as d_dup_clusters: the WITH RECURSIVE
    // oracle mirrors the uncapped pair join, exact below the 8192 cap.
    "d_semantic_dup" -> ((s, dir) => {
      val pairs = operators.Similarity.cosineNearDup(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        threshold = 0.3, native = true)
      graph.Traversal.minLabel(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id").as("vec_id"), col("label").as("canonical"))
    }),

    // Train<->benchmark contamination: shared distinct 3-gram counts for
    // pairs over the threshold; bench = the deterministic 10% hash sample,
    // train = the rest (the pre-training decontamination pass).
    "d_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = operators.Dedup.hashSample(docs, "doc_id", 10).drop("bucket")
      val train = docs.join(bench.select("doc_id"), Seq("doc_id"), "left_anti")
      operators.Dedup.contamination(train, bench, "doc_id", "text")
    }),

    // Exact substring-duplication spans (Lee et al. 2021 shape): 8-token
    // windows whose hash recurs in >= 2 docs, one row per flagged span.
    "d_substring_spans" -> ((s, dir) => {
      operators.Dedup.substringSpans(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Span-level decontamination: 8-token windows of the train split
    // (doc_id % 10 != 0) that appear verbatim anywhere in the held-out
    // probe split (doc_id % 10 = 0) — the cross-corpus twin of
    // d_substring_spans, finding the LEAKED SPAN at its position where
    // d_contamination can only flag the whole document.
    "d_cross_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Dedup.crossSpans(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    }),

    // Merged duplicated-span cut list: gaps-and-islands union of the
    // flagged 8-token windows into maximal per-doc token intervals.
    "d_span_intervals" -> ((s, dir) => {
      operators.Dedup.spanIntervals(
        operators.Dedup.substringSpans(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", k = 8)
    }),

    // Cross-corpus decontamination END-TO-END in one plan: train spans
    // that leak from the probe split (crossSpans) → merged intervals
    // (spanIntervals) → train docs rebuilt with the leaked spans cut out
    // (applyCuts). Each stage is separately oracled (d_cross_spans,
    // d_span_intervals, d_apply_cuts); this gate verifies the CHAIN —
    // the decontamination twin of d_pipeline_quality's composition.
    "d_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val leaks = operators.Dedup.crossSpans(
        train, docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      operators.Dedup.applyCuts(train,
        operators.Dedup.spanIntervals(leaks, "doc_id", k = 8), "doc_id", "text")
    }),

    // The apply half of substring dedup end-to-end: recurring 8-token
    // windows → merged intervals → documents rebuilt with the intervals
    // cut out (clean_text + removed-token count, uncut docs unchanged).
    "d_apply_cuts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      operators.Dedup.applyCuts(docs,
        operators.Dedup.spanIntervals(
          operators.Dedup.substringSpans(docs, "doc_id", "text"), "doc_id", k = 8),
        "doc_id", "text")
    }),

    // Content-defined chunking dedup (FastCDC at token granularity):
    // boundaries after md5≡0 (mod 8) words, per-doc share of chunks that
    // recur anywhere in the corpus — catches shared boilerplate BLOCKS
    // that whole-doc fingerprints and fixed-stride windows both miss,
    // position-shift-proof because boundaries are content-local.
    "d_cdc_chunks" -> ((s, dir) => {
      operators.Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "d_weighted_sample" -> {
      val tick = md5i("CAST(doc_id AS VARCHAR) || '#t' || CAST(tk AS VARCHAR) || '#d' || CAST(d.draw AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id,
         |  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
         |  FROM documents),
         |d AS (SELECT unnest(generate_series(1, 8)) AS draw),
         |h AS (SELECT CAST(d.draw AS BIGINT) AS draw, t.doc_id,
         |  min($tick) AS h
         |  FROM t CROSS JOIN d, unnest(generate_series(1, w)) AS g(tk)
         |  WHERE w >= 1 GROUP BY 1, 2)
         |SELECT draw, doc_id FROM (
         |  SELECT draw, doc_id, row_number() OVER (PARTITION BY draw ORDER BY h, doc_id) AS rn
         |  FROM h) WHERE rn = 1""".stripMargin
    },

    "d_snapshot_diff" -> {
      val fp = md5i("CAST(length(text) AS VARCHAR) || ':' || text")
      s"""WITH s AS (SELECT doc_id, text,
         |  ${md5i("CAST(doc_id AS VARCHAR)")} % 100 AS sl FROM documents),
         |a AS (SELECT doc_id, $fp AS old_fp FROM s WHERE sl < 90),
         |b0 AS (SELECT doc_id,
         |  CASE WHEN sl BETWEEN 40 AND 49 THEN text || ' [rev2]' ELSE text END AS text
         |  FROM s WHERE sl >= 10),
         |b AS (SELECT doc_id, $fp AS new_fp FROM b0)
         |SELECT doc_id,
         |  CASE WHEN old_fp IS NULL THEN 'added'
         |       WHEN new_fp IS NULL THEN 'removed'
         |       WHEN old_fp = new_fp THEN 'same'
         |       ELSE 'changed' END AS status,
         |  old_fp, new_fp
         |FROM a FULL JOIN b USING (doc_id)""".stripMargin
    },

    "d_scd2_history" ->
      s"""$SCD2_CTES
         |SELECT doc_id, fp, valid_from, valid_to, is_current FROM hist""".stripMargin,

    "d_minhash_estimate" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(",\n  ")
      val agree = (1 to 8).map(i =>
        s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""$SHINGLE_CTES,
         |base AS (SELECT doc_id, list_distinct(sh) AS shd,
         |  $hs FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(($agree) * 1250 AS BIGINT) AS est_bp,
         |  floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |    / len(list_distinct(a.shd || b.shd)) * 10000) / 10000 AS jaccard
         |FROM base a JOIN base b ON a.h1 = b.h1 AND a.doc_id < b.doc_id""".stripMargin
    },

    "d_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,

    "d_sparse_neighbors" ->
      s"""$WORDS_CTE,
         |u AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM u GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |wt AS (SELECT doc_id, term,
         |  CAST(floor(tf * ln((n + 1.0) / (df + 1.0)) * 1000000) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nn),
         |pr AS (SELECT doc_id, term, w FROM (
         |  SELECT doc_id, term, w,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS r FROM wt)
         |  WHERE r <= 5 AND w > 0),
         |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nn2 FROM pr GROUP BY doc_id),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(sum(a.w * b.w) AS BIGINT) AS num
         |  FROM pr a JOIN pr b USING (term) WHERE a.doc_id <> b.doc_id GROUP BY 1, 2),
         |sc AS (SELECT doc_a, doc_b,
         |  CAST(floor(CAST(num AS DOUBLE)
         |    / (sqrt(CAST(na.nn2 AS DOUBLE)) * sqrt(CAST(nb.nn2 AS DOUBLE)))
         |    * 1000000) AS BIGINT) AS cos_micro
         |  FROM dots JOIN nrm na ON dots.doc_a = na.doc_id
         |            JOIN nrm nb ON dots.doc_b = nb.doc_id)
         |SELECT doc_a, doc_b, cos_micro,
         |  CAST(row_number() OVER (PARTITION BY doc_a ORDER BY cos_micro DESC, doc_b) AS INTEGER) AS rank
         |FROM sc QUALIFY rank <= 3""".stripMargin,

    "d_exact_dup_fingerprint" ->
      """SELECT doc_id, md5(text) AS h,
        |count(*) OVER (PARTITION BY md5(text)) AS dup_count FROM documents""".stripMargin,

    // Identical boundary rule (md5 of the word ≡ 0 mod 8, final word
    // always closes), identical chunk reconstruction, identical md5
    // chunk identity — the corpus-wide counts must agree row for row.
    "d_cdc_chunks" ->
      s"""$WORDS_CTE,
         |nz AS (SELECT doc_id, w FROM t WHERE len(w) > 0),
         |c0 AS (SELECT doc_id, w, list_filter(generate_series(1, len(w)),
         |    i -> ${md5i("w[i]")} % 8 = 0) AS c FROM nz),
         |c1 AS (SELECT doc_id, w,
         |  CASE WHEN len(c) > 0 AND c[-1] = len(w) THEN c
         |       ELSE list_append(c, len(w)) END AS cuts FROM c0),
         |ch AS (SELECT doc_id, md5(array_to_string(list_slice(w,
         |    CAST(CASE WHEN k.k = 1 THEN 1 ELSE cuts[CAST(k.k - 1 AS INTEGER)] + 1 END AS INTEGER),
         |    CAST(cuts[CAST(k.k AS INTEGER)] AS INTEGER)), ' ')) AS h
         |  FROM c1, UNNEST(generate_series(1, len(cuts))) AS k(k)),
         |cc AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h)
         |SELECT ch.doc_id AS id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN cc.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(1000000 * sum(CASE WHEN cc.cnt > 1 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS dup_micro
         |FROM ch JOIN cc ON ch.h = cc.h GROUP BY ch.doc_id""".stripMargin,

    "d_minhash_sig" -> {
      val hs = (1 to 4).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(",\n ")
      s"""$SHINGLE_CTES
         |SELECT doc_id,
         | $hs
         |FROM s""".stripMargin
    },

    "d_minhash_lsh" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""$SHINGLE_CTES,
         |sig AS (SELECT doc_id, $hs FROM s),
         |b AS ($bands)
         |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id""".stripMargin
    },

    "d_dup_clusters" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""WITH RECURSIVE ${SHINGLE_CTES.stripPrefix("WITH ")},
         |sig AS (SELECT doc_id, $hs FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(origin, node) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.origin, e2.dst FROM reach r JOIN e e2 ON r.node = e2.src
         |)
         |SELECT origin AS doc_id, least(min(node), origin) AS canonical
         |FROM reach GROUP BY origin""".stripMargin
    },

    // d_dup_clusters' recursive-closure clustering + t_quality_score's
    // floor4 quality, argmax per cluster (max quality, tie min doc_id),
    // singletons self-canonical via LEFT JOIN.
    "d_keep_best" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""WITH RECURSIVE ${SHINGLE_CTES.stripPrefix("WITH ")},
         |sig AS (SELECT doc_id, $hs FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(origin, node) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.origin, e2.dst FROM reach r JOIN e e2 ON r.node = e2.src
         |),
         |cl AS (SELECT origin AS doc_id, least(min(node), origin) AS canonical
         |  FROM reach GROUP BY origin),
         |q0 AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  floor(least(greatest(0.4 * least(CAST(len(w) AS BIGINT) / 100.0, 1.0)
         |    + 0.3 * (1.0 - (CAST(length(text) AS DOUBLE)
         |        - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / CAST(length(text) AS DOUBLE))
         |    + 0.3 * least((CAST(list_reduce(list_transform(w, x -> CAST(length(x) AS BIGINT)),
         |        (a,b) -> a + b) AS DOUBLE) / greatest(len(w), 1)) / 8.0, 1.0), 0.0), 1.0)
         |    * 10000) / 10000 AS quality
         |  FROM q0),
         |m AS (SELECT d.doc_id, coalesce(cl.canonical, d.doc_id) AS canonical, q.quality
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |  JOIN q ON d.doc_id = q.doc_id),
         |best AS (SELECT canonical, max(quality) AS bq FROM m GROUP BY 1),
         |w2 AS (SELECT m.canonical, min(m.doc_id) AS keep_id
         |  FROM m JOIN best ON m.canonical = best.canonical AND m.quality = best.bq
         |  GROUP BY 1)
         |SELECT m.doc_id, m.canonical, m.quality, m.doc_id = w2.keep_id AS keep
         |FROM m JOIN w2 ON m.canonical = w2.canonical""".stripMargin
    },

    // d_keep_best's WITH RECURSIVE closure + argmax, then the canonical
    // corpus: winners only, cluster sizes, whitespace token counts.
    "d_pipeline_dedup" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""WITH RECURSIVE ${SHINGLE_CTES.stripPrefix("WITH ")},
         |sig AS (SELECT doc_id, $hs FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(origin, node) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.origin, e2.dst FROM reach r JOIN e e2 ON r.node = e2.src
         |),
         |cl AS (SELECT origin AS doc_id, least(min(node), origin) AS canonical
         |  FROM reach GROUP BY origin),
         |q0 AS (SELECT doc_id, text,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  floor(least(greatest(0.4 * least(CAST(len(w) AS BIGINT) / 100.0, 1.0)
         |    + 0.3 * (1.0 - (CAST(length(text) AS DOUBLE)
         |        - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / CAST(length(text) AS DOUBLE))
         |    + 0.3 * least((CAST(list_reduce(list_transform(w, x -> CAST(length(x) AS BIGINT)),
         |        (a,b) -> a + b) AS DOUBLE) / greatest(len(w), 1)) / 8.0, 1.0), 0.0), 1.0)
         |    * 10000) / 10000 AS quality
         |  FROM q0),
         |m AS (SELECT d.doc_id, coalesce(cl.canonical, d.doc_id) AS canonical, q.quality
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |  JOIN q ON d.doc_id = q.doc_id),
         |best AS (SELECT canonical, max(quality) AS bq FROM m GROUP BY 1),
         |w2 AS (SELECT m.canonical, min(m.doc_id) AS keep_id
         |  FROM m JOIN best ON m.canonical = best.canonical AND m.quality = best.bq
         |  GROUP BY 1),
         |sz AS (SELECT canonical, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY 1)
         |SELECT m.doc_id, m.canonical, m.quality, sz.n_members,
         |  CAST(len(q0.w) AS BIGINT) AS n_tokens
         |FROM m JOIN w2 ON m.canonical = w2.canonical AND m.doc_id = w2.keep_id
         |JOIN sz ON m.canonical = sz.canonical
         |JOIN q0 ON m.doc_id = q0.doc_id""".stripMargin
    },

    "d_simhash" -> {
      val votes = (0 until 16).map(b =>
        s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n ")
      val fp = (0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""$WORDS_CTE,
         |u AS (SELECT doc_id, unnest(w) AS word FROM t),
         |hh AS (SELECT doc_id, ${md5i(s"word")} AS hv FROM u),
         |v AS (SELECT doc_id,
         | $votes
         | FROM hh GROUP BY doc_id)
         |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v""".stripMargin
    },

    // d_simhash's vote fold at 60 bits, then the pigeonhole band join +
    // exact popcount filter (DuckDB xor/bit_count on the same BIGINT fp).
    "d_simhash_neardup" -> {
      val votes = (0 until 60).map(b =>
        s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n ")
      val fp = (0 until 60).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      val bands = (0 to 3).map(b =>
        s"SELECT doc_id, fp, $b AS band, (fp >> ${b * 15}) & 32767 AS bval FROM f").mkString("\nUNION ALL ")
      s"""$WORDS_CTE,
         |u AS (SELECT doc_id, unnest(w) AS word FROM t),
         |hh AS (SELECT doc_id, ${md5i(s"word")} AS hv FROM u),
         |v AS (SELECT doc_id,
         | $votes
         | FROM hh GROUP BY doc_id),
         |f AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM v),
         |b AS ($bands)
         |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
         |FROM b a JOIN b b2 ON a.band = b2.band AND a.bval = b2.bval AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.fp, b2.fp)) <= 3""".stripMargin
    },

    "d_ngram_jaccard" ->
      s"""$SHINGLE_CTES,
         |base AS (SELECT doc_id, list_distinct(sh) AS shd,
         |  list_min(list_transform(sh, x -> ${md5i(s"x || '|1'")})) AS h1 FROM s)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         | floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |   / len(list_distinct(a.shd || b.shd)) * 10000) / 10000 AS jaccard
         |FROM base a JOIN base b ON a.h1 = b.h1 AND a.doc_id < b.doc_id""".stripMargin,

    // brute-force all-pairs exact Jaccard at θ=0.8 — deliberately NOT a
    // mirror of the prefix-filter plan, so a hash match proves the
    // blocking is lossless (no false negatives), not just self-consistent.
    "d_prefix_join" ->
      s"""$SHINGLE_CTES,
         |base AS (SELECT doc_id, list_distinct(sh) AS shd FROM s WHERE len(sh) > 0),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.shd, b.shd)) AS BIGINT) AS inter,
         |  CAST(len(a.shd) AS BIGINT) + CAST(len(b.shd) AS BIGINT) AS szsum
         |  FROM base a JOIN base b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, inter, szsum - inter AS uni,
         |  inter * 1000000 // (szsum - inter) AS jaccard_micro
         |FROM p WHERE inter * 10 >= (szsum - inter) * 8""".stripMargin,

    // same candidate pairs, asymmetric containment normalizations.
    "d_ngram_containment" ->
      s"""$SHINGLE_CTES,
         |base AS (SELECT doc_id, list_distinct(sh) AS shd,
         |  list_min(list_transform(sh, x -> ${md5i(s"x || '|1'")})) AS h1 FROM s)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         | floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |   / len(a.shd) * 10000) / 10000 AS cont_ab,
         | floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |   / len(b.shd) * 10000) / 10000 AS cont_ba
         |FROM base a JOIN base b ON a.h1 = b.h1 AND a.doc_id < b.doc_id""".stripMargin,

    // signature agreement m of 8, inverted to an intersection estimate in
    // exact integer division, normalized by the exact per-doc set sizes.
    "d_containment_est" -> {
      val k = 8
      val hs = (1 to k).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      val m = (1 to k).map(i => s"CASE WHEN a.h$i = b2.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$SHINGLE_CTES,
         |sig AS (SELECT doc_id, $hs, len(list_distinct(sh)) AS sz FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |j AS (SELECT p.id_a, p.id_b, CAST($m AS BIGINT) AS matches,
         |  CAST(a.sz AS BIGINT) AS sa, CAST(b2.sz AS BIGINT) AS sb
         |  FROM p JOIN sig a ON p.id_a = a.doc_id JOIN sig b2 ON p.id_b = b2.doc_id)
         |SELECT id_a, id_b, matches,
         |  floor(CAST(matches * (sa + sb) // ($k + matches) AS DOUBLE) / sa * 10000) / 10000 AS cont_ab_est,
         |  floor(CAST(matches * (sa + sb) // ($k + matches) AS DOUBLE) / sb * 10000) / 10000 AS cont_ba_est
         |FROM j""".stripMargin
    },

    // est-vs-exact containment on the pairs both candidate generators
    // surface; errors in exact 1e-4 integer units.
    "d_containment_eval" -> {
      val k = 8
      val hs = (1 to k).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      val m = (1 to k).map(i => s"CASE WHEN a.h$i = b2.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""$SHINGLE_CTES,
         |sig AS (SELECT doc_id, $hs, len(list_distinct(sh)) AS sz FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |je0 AS (SELECT p.id_a, p.id_b, CAST($m AS BIGINT) AS mm,
         |  CAST(a.sz AS BIGINT) AS sa, CAST(b2.sz AS BIGINT) AS sb
         |  FROM p JOIN sig a ON p.id_a = a.doc_id JOIN sig b2 ON p.id_b = b2.doc_id),
         |je AS (SELECT id_a, id_b,
         |  CAST(floor(CAST(mm * (sa + sb) // ($k + mm) AS DOUBLE) / sa * 10000) AS BIGINT) AS eu
         |  FROM je0),
         |base AS (SELECT doc_id, list_distinct(sh) AS shd,
         |  list_min(list_transform(sh, x -> ${md5i(s"x || '|1'")})) AS h1 FROM s),
         |jx AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |    / len(a.shd) * 10000) AS BIGINT) AS xu
         |  FROM base a JOIN base b ON a.h1 = b.h1 AND a.doc_id < b.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(abs(eu - xu)) // count(*) AS BIGINT) AS mae_x10000,
         |  CAST(max(abs(eu - xu)) AS BIGINT) AS max_x10000
         |FROM je JOIN jx USING (id_a, id_b)""".stripMargin
    },

    // d_minhash_lsh's candidate pairs + d_ngram_jaccard's exact floored
    // Jaccard, reduced to one audit row at threshold 0.5.
    "d_lsh_precision" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""$SHINGLE_CTES,
         |sig AS (SELECT doc_id, $hs FROM s),
         |b AS ($bands),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
         |base AS (SELECT doc_id, list_distinct(sh) AS shd FROM s),
         |j AS (SELECT floor(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
         |    / len(list_distinct(a.shd || b.shd)) * 10000) / 10000 AS jaccard
         |  FROM p JOIN base a ON p.id_a = a.doc_id JOIN base b ON p.id_b = b.doc_id),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true FROM j)
         |SELECT n_candidates, n_true,
         |  CASE WHEN n_candidates > 0
         |    THEN floor(CAST(n_true AS DOUBLE) / n_candidates * 10000) / 10000
         |    ELSE 0.0 END AS "precision"
         |FROM agg""".stripMargin
    },

    // Embedding-space dedup clustering: e3's pair join + WITH RECURSIVE
    // closure, canonical = min id over the component (≡ minLabel).
    "d_semantic_dup" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, label, embedding AS e FROM embeddings),
         |sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(${cosSql("a.e", "b.e")}, 6) AS cos
         | FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
         |p AS (SELECT id_a, id_b FROM sc WHERE cos >= 0.3),
         |eg AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |reach(origin, node) AS (
         |  SELECT src, dst FROM eg
         |  UNION
         |  SELECT r.origin, e2.dst FROM reach r JOIN eg e2 ON r.node = e2.src
         |)
         |SELECT origin AS vec_id, least(min(node), origin) AS canonical
         |FROM reach GROUP BY origin""".stripMargin,

    // Composed quality pipeline: the t_lm_coverage CTEs (coverage per
    // doc), quantile_cont p20 threshold, and the d_substring_spans CTEs
    // (dup-doc set) stitched exactly as the Spark chain composes them.
    "d_pipeline_quality" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
         |  FROM documents),
         |s AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 1, 0)),
         |  i -> w[i] || ' ' || w[i+1]) AS sh FROM t),
         |g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
         |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1),
         |r AS (SELECT gram, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS INTEGER) AS rank FROM c),
         |lm AS (SELECT gram, cnt FROM r WHERE rank <= 1000),
         |a AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(count(lm.cnt) AS BIGINT) AS n_known
         |  FROM g LEFT JOIN lm USING (gram) GROUP BY 1),
         |cov AS (SELECT d.doc_id,
         |  CASE WHEN coalesce(a.n_grams, 0) > 0
         |    THEN floor(CAST(a.n_known AS DOUBLE) / a.n_grams * 10000) / 10000
         |    ELSE 0.0 END AS coverage
         |  FROM documents d LEFT JOIN a USING (doc_id)),
         |th AS (SELECT quantile_cont(coverage, 0.2) AS threshold FROM cov),
         |w8 AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM t),
         |g8 AS (SELECT doc_id,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM w8),
         |f8 AS (SELECT span_hash FROM g8 GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
         |dup AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN f8 ON g8.span_hash = f8.span_hash)
         |SELECT cov.doc_id, cov.coverage, cov.coverage >= th.threshold AS kept,
         |  dup.doc_id IS NOT NULL AS dup_doc,
         |  (cov.coverage >= th.threshold AND dup.doc_id IS NULL) AS final_keep
         |FROM cov CROSS JOIN th LEFT JOIN dup ON dup.doc_id = cov.doc_id""".stripMargin,

    "d_hash_sample" ->
      s"""SELECT doc_id, bucket FROM (
         |  SELECT doc_id, ${md5i("CAST(doc_id AS VARCHAR)")} % 100 AS bucket FROM documents)
         |WHERE bucket < 10""".stripMargin,

    // distinct shingles per doc, min-doc_id owner per shingle hash, the
    // owner==self count — all exact integers.
    "d_novelty" ->
      s"""$SHINGLE_CTES,
         |u AS (SELECT DISTINCT doc_id, ${md5i("g")} AS g
         |  FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
         |own AS (SELECT g, min(doc_id) AS owner FROM u GROUP BY g)
         |SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN own.owner = u.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN own.owner = u.doc_id THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS novelty_ppm
         |FROM u JOIN own ON own.g = u.g GROUP BY u.doc_id""".stripMargin,

    // mirrors Dedup.incrementalDedup over the 20/80 hash slice: delta
    // band-buckets probe base band-buckets, collisions verified by exact
    // floored n-gram Jaccard, verdict per delta doc.
    "d_incremental_dedup" -> {
      val hs = (1 to 8).map(i =>
        s"list_min(list_transform(sh, x -> ${md5i(s"x || '|$i'")})) AS h$i").mkString(", ")
      val bands = (0 until 4).map { b =>
        val (l, r) = (s"h${2 * b + 1}", s"h${2 * b + 2}")
        s"SELECT doc_id, slice, $b AS band, ${md5i(s"CAST($l AS VARCHAR) || '_' || CAST($r AS VARCHAR)")} AS bucket FROM sig"
      }.mkString("\nUNION ALL ")
      s"""$SHINGLE_CTES,
         |sp AS (SELECT doc_id, sh, ${md5i("CAST(doc_id AS VARCHAR)")} % 100 AS slice FROM s),
         |sig AS (SELECT doc_id, slice, list_distinct(sh) AS shd, $hs FROM sp),
         |b AS ($bands),
         |cand AS (SELECT DISTINCT d.doc_id AS delta_id, e.doc_id AS base_id
         |  FROM b d JOIN b e ON d.band = e.band AND d.bucket = e.bucket
         |  WHERE d.slice < 20 AND e.slice >= 20),
         |ver AS (SELECT delta_id, base_id,
         |    floor(CAST(len(list_intersect(sd.shd, sb.shd)) AS DOUBLE)
         |      / len(list_distinct(sd.shd || sb.shd)) * 10000) / 10000 AS j
         |  FROM cand
         |  JOIN sig sd ON sd.doc_id = cand.delta_id
         |  JOIN sig sb ON sb.doc_id = cand.base_id),
         |dup AS (SELECT delta_id, min(base_id) AS dup_of, max(j) AS max_jaccard
         |  FROM ver WHERE j >= 0.5 GROUP BY delta_id)
         |SELECT d.doc_id AS doc_id, dup.dup_of, dup.max_jaccard,
         |  dup.dup_of IS NULL AS keep
         |FROM (SELECT doc_id FROM sp WHERE slice < 20) d
         |LEFT JOIN dup ON d.doc_id = dup.delta_id""".stripMargin
    },

    "d_train_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${md5i("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM documents)""".stripMargin,

    // End-to-end pipeline composition: Gopher quality gate → exact-dup
    // canonicalization (min id per md5(text)) → 90/5/5 split → per-split
    // doc and token totals. Every stage is an already-oracled operator;
    // this gate verifies they COMPOSE (the switch-over story: a user
    // chains these, not one at a time).
    "d_pipeline_e2e" ->
      s"""$GOPHER_CTES,
         |pass AS (SELECT doc_id FROM m WHERE $GOPHER_PASS),
         |kept AS (SELECT d.doc_id, d.text FROM documents d JOIN pass USING (doc_id)),
         |canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
         |dd AS (SELECT kept.doc_id, kept.text FROM kept JOIN canon USING (doc_id)),
         |sp AS (SELECT doc_id, text,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text, ${md5i("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM dd))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens
         |FROM sp GROUP BY split""".stripMargin,

    // Overflow audit: same md5 shard assignment, undersized on purpose.
    "d_shard_overflow" ->
      s"""WITH h AS (SELECT ${md5i("CAST(doc_id AS VARCHAR)")} % 2 AS shard FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS sz FROM h
         |GROUP BY 1 HAVING count(*) > 200""".stripMargin,

    // Deterministic shuffle-shard: md5 total order within md5-assigned
    // shards; h is non-negative (60-bit) so % == pmod.
    "d_shuffle_shard" ->
      s"""WITH h AS (SELECT doc_id, ${md5i("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) - 1 AS pos
         |FROM h""".stripMargin,

    // Auto-sized twin: the shard count is greatest(minShards,
    // ceil(n/maxShardRows)) computed with the SAME integer arithmetic as
    // Spark's (n + maxShardRows - 1) / maxShardRows — no IEEE ceil.
    "d_shuffle_shard_auto" ->
      s"""WITH n AS (SELECT greatest(2, (count(*) + 39) // 40) AS k FROM documents),
         |h AS (SELECT doc_id, ${md5i("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |SELECT doc_id, h % k AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % k ORDER BY h, doc_id) AS BIGINT) - 1 AS pos
         |FROM h, n""".stripMargin,

    // Mixture epochs: rate quantized to basis points as floor(x + 0.5) —
    // bare floor of the IEEE product puts 0.3 at 2999 bp in Spark vs
    // 3000 in DuckDB's decimal literals, and round() tie modes differ
    // across engines; floor(x+0.5) is identical IEEE arithmetic in both.
    // The CAST AS DOUBLE forces DuckDB off its DECIMAL literal onto the
    // same IEEE product Spark computes.
    "d_mixture" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25 ELSE 1.0 END AS rate
         |  FROM documents),
         |f AS (SELECT doc_id, source,
         |  CAST(CAST(floor(CAST(rate AS DOUBLE) * 10000 + 0.5) AS BIGINT) // 10000 AS INT) AS efull,
         |  CAST(floor(CAST(rate AS DOUBLE) * 10000 + 0.5) AS BIGINT) % 10000 AS fbp FROM d),
         |fe AS (SELECT doc_id, source, CAST(unnest(generate_series(0, efull - 1)) AS INT) AS epoch
         |  FROM f WHERE efull >= 1),
         |ex AS (SELECT doc_id, source, efull AS epoch FROM f
         |  WHERE ${md5i("CAST(doc_id AS VARCHAR) || '#' || CAST(efull AS VARCHAR)")} % 10000 < fbp)
         |SELECT doc_id, source, epoch FROM fe
         |UNION ALL SELECT doc_id, source, epoch FROM ex""".stripMargin,

    "d_stratified_head" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source ORDER BY ${md5i("CAST(doc_id AS VARCHAR)")}, doc_id) AS r
         |  FROM documents) WHERE r <= 5""".stripMargin,

    // Temperature weights: micro-unit-quantized sqrt BEFORE the integer
    // normalization sum (order-independent), then one IEEE division —
    // sqrt is correctly rounded per IEEE 754 in both engines (pow isn't,
    // which is why τ is pinned to 1/2).
    "d_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |q AS (SELECT source, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS qu FROM c),
        |t AS (SELECT CAST(sum(qu) AS DOUBLE) AS tot FROM q)
        |SELECT source, n_docs,
        |  floor(CAST(qu AS DOUBLE) / tot * 1000000) / 1000000 AS weight
        |FROM q CROSS JOIN t""".stripMargin,

    // Bloom probe: identical md5-seeded bit positions on both engines;
    // bloom_hit = all 3 positions set, exact_hit = the equi-join truth.
    "d_bloom_decontaminate" ->
      s"""WITH bench AS (SELECT DISTINCT text FROM documents WHERE doc_id % 25 = 0),
         |seeds AS (SELECT unnest(generate_series(0, 2)) AS i),
         |bits AS (SELECT DISTINCT ${md5i("text || '|' || CAST(i AS VARCHAR)")} % 1024 AS bit
         |  FROM bench CROSS JOIN seeds),
         |p AS (SELECT doc_id, text,
         |  ${md5i("text || '|0'")} % 1024 AS p0,
         |  ${md5i("text || '|1'")} % 1024 AS p1,
         |  ${md5i("text || '|2'")} % 1024 AS p2 FROM documents)
         |SELECT doc_id,
         |  (p0 IN (SELECT bit FROM bits) AND p1 IN (SELECT bit FROM bits)
         |    AND p2 IN (SELECT bit FROM bits)) AS bloom_hit,
         |  (text IN (SELECT text FROM bench)) AS exact_hit
         |FROM p""".stripMargin,

    "d_contamination" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |  list_transform(generate_series(1, greatest(len(w) - 2, 0)), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
         |  x -> ${md5i("x")})) AS hs FROM w),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
         |hot AS (SELECT h FROM e GROUP BY h HAVING count(*) > 8192),
         |e2 AS (SELECT e.doc_id, e.h FROM e ANTI JOIN hot ON e.h = hot.h),
         |b AS (SELECT doc_id, h FROM e2 WHERE ${md5i("CAST(doc_id AS VARCHAR)")} % 100 < 10),
         |tr AS (SELECT doc_id, h FROM e2 WHERE ${md5i("CAST(doc_id AS VARCHAR)")} % 100 >= 10)
         |SELECT tr.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
         |FROM tr JOIN b ON tr.h = b.h
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // Substring-duplication spans: 8-token windows, 1-based starts, md5
    // span hashes; df = distinct docs per hash, flagged at df >= 2.
    "d_substring_spans" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM w),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM s),
         |f AS (SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM g GROUP BY span_hash)
         |SELECT g.doc_id, g.start, g.span_hash, f.df
         |FROM g JOIN f ON g.span_hash = f.span_hash WHERE f.df >= 2""".stripMargin,

    // Same window CTEs; probe-side distinct-doc counts from the held-out
    // split, train-side windows joined against them.
    "d_cross_spans" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM w),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM s),
         |p AS (SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_probe_docs
         |  FROM g WHERE doc_id % 10 = 0 GROUP BY span_hash)
         |SELECT g.doc_id, g.start, g.span_hash, p.n_probe_docs
         |FROM g JOIN p ON g.span_hash = p.span_hash
         |WHERE g.doc_id % 10 <> 0""".stripMargin,

    // Interval union of the flagged spans: same window CTEs, then
    // gaps-and-islands (break where the start gap exceeds k=8).
    "d_span_intervals" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM w),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM s),
         |f AS (SELECT span_hash FROM g GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (SELECT g.doc_id, g.start FROM g JOIN f ON g.span_hash = f.span_hash),
         |br AS (SELECT doc_id, start,
         |  CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
         |    OR start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
         |    THEN 1 ELSE 0 END AS brk FROM fl),
         |isl AS (SELECT doc_id, start,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br)
         |SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
         |  CAST(max(start) + 7 AS BIGINT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_windows
         |FROM isl GROUP BY doc_id, island""".stripMargin,

    // The d_cross_spans probe join, then the island/cut/rebuild CTEs of
    // d_apply_cuts over the train split only — the chain stitched exactly
    // as the Spark composition runs it.
    "d_decontaminate" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM w),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM s),
         |p AS (SELECT DISTINCT span_hash FROM g WHERE doc_id % 10 = 0),
         |fl AS (SELECT g.doc_id, g.start FROM g JOIN p ON g.span_hash = p.span_hash
         |  WHERE g.doc_id % 10 <> 0),
         |br AS (SELECT doc_id, start,
         |  CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
         |    OR start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
         |    THEN 1 ELSE 0 END AS brk FROM fl),
         |isl AS (SELECT doc_id, start,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br),
         |iv AS (SELECT doc_id, min(start) AS s, max(start) + 7 AS e
         |  FROM isl GROUP BY doc_id, island),
         |cuts AS (SELECT doc_id,
         |  flatten(list(generate_series(s, e))) AS cut FROM iv GROUP BY doc_id)
         |SELECT w.doc_id,
         |  coalesce(array_to_string(list_filter(w.w,
         |    (x, i) -> NOT list_contains(coalesce(cuts.cut, []), i)), ' '), '') AS clean_text,
         |  CAST(len(w.w) - len(list_filter(w.w,
         |    (x, i) -> NOT list_contains(coalesce(cuts.cut, []), i))) AS BIGINT) AS n_removed
         |FROM w LEFT JOIN cuts ON w.doc_id = cuts.doc_id
         |WHERE w.doc_id % 10 <> 0""".stripMargin,

    // d_span_intervals' island CTEs, then per-doc cut positions flattened
    // and the token list filtered by 1-based index (DuckDB index lambda),
    // re-joined with single spaces exactly as the Spark side does.
    "d_apply_cuts" ->
      s"""WITH w AS (SELECT doc_id,
         |  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w FROM documents),
         |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS i, w FROM w),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |  ${md5i("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]")} AS span_hash
         |  FROM s),
         |f AS (SELECT span_hash FROM g GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (SELECT g.doc_id, g.start FROM g JOIN f ON g.span_hash = f.span_hash),
         |br AS (SELECT doc_id, start,
         |  CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
         |    OR start - lag(start) OVER (PARTITION BY doc_id ORDER BY start) > 8
         |    THEN 1 ELSE 0 END AS brk FROM fl),
         |isl AS (SELECT doc_id, start,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island FROM br),
         |iv AS (SELECT doc_id, min(start) AS s, max(start) + 7 AS e
         |  FROM isl GROUP BY doc_id, island),
         |cuts AS (SELECT doc_id,
         |  flatten(list(generate_series(s, e))) AS cut FROM iv GROUP BY doc_id)
         |SELECT w.doc_id,
         |  coalesce(array_to_string(list_filter(w.w,
         |    (x, i) -> NOT list_contains(coalesce(cuts.cut, []), i)), ' '), '') AS clean_text,
         |  CAST(len(w.w) - len(list_filter(w.w,
         |    (x, i) -> NOT list_contains(coalesce(cuts.cut, []), i))) AS BIGINT) AS n_removed
         |FROM w LEFT JOIN cuts ON w.doc_id = cuts.doc_id""".stripMargin,

    "d_stratified_split" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  ${md5i("CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         |r AS (SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n FROM h)
         |SELECT doc_id, lang,
         |  CASE WHEN rn * 10000 <= n * 8000 THEN 'train'
         |       WHEN rn * 10000 <= n * 9000 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM r""".stripMargin,

    "d_source_overlap" ->
      s"""$SHINGLE_CTES,
         |ss AS (SELECT DISTINCT d.source, unnest(s.sh) AS g
         |  FROM s JOIN documents d ON s.doc_id = d.doc_id),
         |sz AS (SELECT source, count(*) AS sz FROM ss GROUP BY source),
         |iv AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
         |  FROM ss a JOIN ss b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
         |  CAST(za.sz AS BIGINT) AS sz_a, CAST(zb.sz AS BIGINT) AS sz_b,
         |  CAST(inter * 1000000 // (za.sz + zb.sz - inter) AS BIGINT) AS jaccard_micro
         |FROM iv JOIN sz za ON za.source = iv.source_a
         |JOIN sz zb ON zb.source = iv.source_b""".stripMargin,
  )
}
