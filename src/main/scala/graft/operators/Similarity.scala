package graft.operators

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact, O(|Q|·|N|) dot products —
  * fine when the query set is small or as ground truth). Scale path:
  * random-hyperplane LSH bucketing, which cuts the candidate set to
  * same-signature vectors before scoring.
  *
  * All math is done in double (embeddings cast up first) with sequential
  * array folds, so any engine that folds left-to-right reproduces the
  * exact same floating-point results.
  *
  * Scale notes (100 TB): the brute-force form broadcasts the query set and
  * streams the corpus (one pass, no shuffle beyond the final top-k); the
  * LSH form shuffles only (signature, id) pairs and joins per bucket. For
  * a real IVF, replace the signature with a coarse-quantizer cluster id —
  * the plumbing (bucket join + per-bucket rescore + windowed top-k) is
  * identical.
  */
object Similarity {

  /** Cast an array<float> column to array<double> for stable math. */
  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Cosine similarity between two array<float>/array<double> columns.
    * Composable built-in form — portable to any session. */
  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Fused native form ([[graft.functions.CosineSimilarity]]): one loop,
    * no intermediate arrays, whole-stage codegen. Requires the session to
    * carry [[graft.GraftExtensions]] (spark.sql.extensions). Bit-identical
    * results to [[cosine]] — both accumulate left-to-right in double. */
  def cosineNative(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  private def cosineBy(native: Boolean)(a: Column, b: Column): Column =
    if (native) cosineNative(a, b) else cosine(a, b)

  /** Shared scorer: every (query, corpus) pair except self, with the
    * 6dp-rounded cosine — queries broadcast, one corpus pass. Both
    * [[bruteForceTopK]] and [[hardNegatives]] rank over this, so scorer
    * fixes (casting, broadcast strategy, tie handling) land once. */
  private def scoredPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, native: Boolean): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos"))
  }

  /** Per-query top-k over a (query_id, neighbor_id, cos) table: rank by
    * cos desc, neighbor_id as the deterministic tiebreak. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force exact top-k neighbors for each query vector.
    * Returns (query_id, neighbor_id, cos, rank). Query set should be small
    * (it is broadcast against the corpus). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, native: Boolean = false): DataFrame =
    topKByCos(scoredPairs(corpus, queries, idCol, vecCol, native), k)

  /** Random-hyperplane LSH signature: `bits` sign bits, hyperplane
    * component (j, d) = ±1 derived from md5 — deterministic and
    * reproducible in any engine with md5. */
  def hyperplaneSignature(vec: Column, bits: Int): Column = {
    val v = asDouble(vec)
    val bitCols = (0 until bits).map { j =>
      val proj = aggregate(
        zip_with(v, sequence(lit(1), size(v)), (x, d) =>
          x * when(md5Long(concat(lit(j.toString), lit("_"), d)) % 2 === 0, lit(1.0))
            .otherwise(lit(-1.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** NN-descent (Dong, Moses & Li, WWW'11): the GRAPH-BASED ANN family —
    * the design point HNSW occupies — complementing the bucket-probed
    * families here (LSH [[lshTopK]], IVF [[ivfTopK]]). No index is probed;
    * every corpus vector holds a k-NN list and IMPROVES it from its
    * neighbors' neighbors, converging because a neighbor of a neighbor is
    * likely a neighbor.
    *
    * Seed: `seedings` INDEPENDENT md5 blockings (deterministic,
    * engine-reproducible), exact top-k within each block of each.
    * Two or more blockings are load-bearing, not a tuning knob: a single
    * blocking yields a BLOCK-DIAGONAL seed graph — every edge stays
    * inside its block, so the 2-hop expansion can never leave a block
    * and refinement is a fixpoint at round 0 (measured: 0/40 nodes
    * improvable on a clustered corpus). Differently-seeded blockings cut
    * across each other, which is the deterministic stand-in for the
    * paper's random-graph init. One refinement round: candidates(u) =
    * the undirected 2-hop neighborhood of u in the current graph (own
    * list ∪ reverse lists ∪ their lists), rescored exactly, windowed
    * top-k keeps the best k.
    *
    * Scale notes (100 TB): per-round work is O(N·k²) cosines — never the
    * O(N²) of all-pairs — and the expansion joins move only (id, id)
    * edges; vectors enter once per round, at scoring. Rounds needed grow
    * ~log N (empirically, per the paper). This is the all-pairs-free path
    * to a FULL corpus k-NN graph, which the query-time-probing families
    * don't give you; the seed-block size (N/blocks) bounds the one
    * all-pairs step. Returns (query_id, neighbor_id, cos, rank) with
    * every corpus vector as a query, rank ≤ k by (cos desc, id asc). */
  def nnDescentTopK(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int = 5, blocks: Int = 16, rounds: Int = 1,
                    seedings: Int = 2, native: Boolean = false): DataFrame = Cuts.released {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && blocks >= 1 && rounds >= 0 && seedings >= 1,
      s"need k>=1, blocks>=1, rounds>=0, seedings>=1: " +
        s"got k=$k blocks=$blocks rounds=$rounds seedings=$seedings")
    val v = Cuts.cut(vecs.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")),
      eager = false)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    // Rescore a distinct (query_id, neighbor_id) candidate table and keep
    // each query's top-k. Rounding BEFORE ranking (the scoredPairs
    // convention) so ties resolve identically in any engine.
    def topk(pairs: DataFrame): DataFrame =
      pairs
        .join(v.select(col("id").as("query_id"), col("v").as("qv")), Seq("query_id"))
        .join(v.select(col("id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    val seedPairs = (1 to seedings).map { r =>
      val blocked = v.select(col("id"), (md5Long(col("id"), r) % blocks).as("blk"))
      blocked.select(col("blk"), col("id").as("query_id"))
        .join(blocked.select(col("blk"), col("id").as("neighbor_id")), Seq("blk"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _).distinct()
    var g = topk(seedPairs)
    for (_ <- 1 to rounds) {
      // Cut the round's graph: the undirected view reads it twice and
      // the 2-hop join twice more — recomputing would re-run the scoring
      // join per consumer.
      val gp = Cuts.cut(g.select(col("query_id"), col("neighbor_id")), eager = false)
      val und = gp.select(col("query_id").as("u"), col("neighbor_id").as("w"))
        .unionByName(gp.select(col("neighbor_id").as("u"), col("query_id").as("w")))
        .distinct()
      val two = und.select(col("u"), col("w").as("mid"))
        .join(und.select(col("u").as("mid"), col("w")), Seq("mid"))
        .filter(col("u") =!= col("w"))
        .select(col("u"), col("w"))
      val cand = und.unionByName(two).distinct()
        .select(col("u").as("query_id"), col("w").as("neighbor_id"))
      g = topk(cand)
    }
    g
  }

  /** LSH-bucketed approximate top-k: candidates share the hyperplane
    * signature, then exact cosine + windowed top-k within the bucket. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 4, native: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = (df: DataFrame) => df.withColumn("sig", hyperplaneSignature(col(vecCol), bits))
    val q = sig(queries).select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("sig"))
    val c = sig(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"), col("sig"))
    val scored = c.join(q, Seq("sig")).filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-style approximate top-k: k-means-lite coarse quantizer over the
    * corpus (`nlist` cells), queries probe their `nprobe` nearest cells and
    * rescore with exact cosine inside them. The 100 TB shape: the inverted
    * lists shuffle once at build time; each query touches nprobe/nlist of
    * the corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 8, nprobe: Int = 2, iters: Int = 2,
              native: Boolean = false): DataFrame = {
    val (centroids, lists) = buildIvfIndex(corpus, idCol, vecCol, nlist, iters)
    ivfQueryIndex(centroids, lists, queries, idCol, vecCol, k, nprobe, native)
  }

  /** Build an IVF index in its PERSISTABLE form: two plain tables —
    * centroids (cid, cvec array<double>) and inverted lists (cid, id,
    * vec array<double>) — that round-trip losslessly through parquet
    * (array<double> is exact). At 100 TB the lists are written
    * `partitionBy("cid")` (or bucketed by cid): a query's nprobe cells
    * then prune to nprobe directories before a byte is read — the
    * STORAGE LAYOUT is the index; no ANN server, just tables any Spark
    * session can scan. Build cost is the k-means pass; amortize it by
    * building once and serving every query session from the tables
    * (see the e17 gate / [[ivfQueryIndex]]). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 8, iters: Int = 2): (DataFrame, DataFrame) = {
    val (assigned, centroids) = Clustering.kmeansLite(corpus, idCol, vecCol, nlist, iters)
    (centroids.select(col("cid"), col("cvec")),
      assigned.select(col("cid"), col("vid").as("id"), col("vec")))
  }

  /** Query an IVF index in its table form ([[buildIvfIndex]]'s output,
    * fresh or reloaded from storage): each query probes its `nprobe`
    * nearest centroids (broadcast nlist-row table), candidates in those
    * cells rescore with exact cosine, windowed top-k. Bit-identical to
    * [[ivfTopK]] on the same index — the round trip through parquet
    * changes nothing, which the e17 gate proves against the e4b oracle. */
  def ivfQueryIndex(centroids: DataFrame, lists: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int, nprobe: Int = 2,
                    native: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("__d"), col("cid"))
    val probes = qv.crossJoin(broadcast(centroids))
      .withColumn("__d", call_function("l2_sq", col("qv"), col("cvec")))
      .withColumn("__r", row_number().over(probeW)).filter(col("__r") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    val rescored = probes.join(
        lists.select(col("cid"), col("id").as("neighbor_id"), col("vec").as("nv")),
        Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs within coarse clusters: compares
    * only vectors sharing `clusterCol` (IVF-style blocking), keeps pairs
    * with cosine ≥ threshold. A hot cluster (near-duplicate flood) is
    * capped at `maxBucket` members via [[Skew.capBuckets]] — exact below
    * the bound, deterministic sample above it. */
  def cosineNearDup(vecs: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, threshold: Double,
                    native: Boolean = false, maxBucket: Int = 8192): DataFrame = {
    val capped = Skew.capBuckets(vecs, Seq(clusterCol), idCol, maxBucket)
    val l = capped.select(col(clusterCol).as("cl"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = capped.select(col(clusterCol).as("cl"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    l.join(r, Seq("cl")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(cosineBy(native)(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Sign-bit binary quantization: dimension i collapses to the single
    * bit (v[i] ≥ 0), Horner-packed into ⌈dim/32⌉ non-negative longs (32
    * bits per word keeps every intermediate far from the sign bit, so
    * Spark and any SQL oracle agree without unsigned types). float32 →
    * 1 bit is the 32× memory cut that lets a 100 TB embedding corpus hold
    * its candidate-generation index in RAM; angles survive because
    * P[sign bits differ] = θ/π per dimension (the hyperplane-LSH bound
    * with axis-aligned planes). Purely built-in expressions — codegen'd,
    * no UDF. */
  def signWords(vec: Column, dim: Int): Seq[Column] = {
    require(dim >= 1, s"signWords needs dim >= 1, got $dim")
    val v = asDouble(vec)
    (0 until (dim + 31) / 32).map { b =>
      val width = math.min(32, dim - b * 32)
      aggregate(slice(v, b * 32 + 1, width), lit(0L),
        (acc, x) => acc * 2 + when(x >= 0, lit(1L)).otherwise(lit(0L)))
    }
  }

  /** Two-stage binary ANN: Hamming distance over [[signWords]] picks
    * `candidates` per query (cheap — popcounts on packed longs, never the
    * float vectors), then the exact 6dp cosine reranks the survivors to
    * top `k`. The recall/cost dial is `candidates`: the float vectors are
    * touched for |queries|·candidates rows only, so at corpus scale the
    * scan is integer-only and the rerank is a bounded broadcast join.
    * Returns (query_id, neighbor_id, hamming, cos, rank) — hamming kept
    * in-row so a recall audit can see WHY a truth neighbor was missed. */
  def hammingRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, dim: Int, candidates: Int, k: Int,
                    native: Boolean = false): DataFrame = {
    require(candidates >= k && k >= 1,
      s"need candidates >= k >= 1, got candidates=$candidates k=$k")
    import org.apache.spark.sql.expressions.Window
    def packed(df: DataFrame, id: String, vec: String) = {
      val ws = signWords(col(vecCol), dim)
      df.select(col(idCol).as(id) +: col(vecCol).as(vec) +:
        ws.zipWithIndex.map { case (w, i) => w.as(s"${vec}_w$i") }: _*)
    }
    val nWords = (dim + 31) / 32
    val c = packed(corpus, "neighbor_id", "nv")
    val q = packed(queries, "query_id", "qv")
    val ham = (0 until nWords)
      .map(i => expr(s"bit_count(nv_w$i ^ qv_w$i)"))
      .reduce(_ + _).cast("long")
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val cand = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", ham)
      .withColumn("hrank", row_number().over(wh))
      .filter(col("hrank") <= candidates)
    topKByCos(
      cand.select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos")),
      k).select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cos"), col("rank"))
  }

  /** Product-quantization codes (Jégou et al. 2011): split each vector
    * into `m` contiguous subspaces and store, per subspace, the id of the
    * nearest of `k` codebook centroids — 64 dims of float32 become m=4
    * bytes, the compression that makes exhaustive candidate scoring
    * affordable at corpus scale (see [[ivfPqTopK]] for the ADC search
    * half).
    *
    * The codebook is DETERMINISTIC: centroid (s, c) is subspace `s` of the
    * c-th seed vector, seeds being the `k` corpus vectors with smallest
    * (md5(id), id) — the same iters=0 convention as the e4b coarse
    * quantizer, so codes are integers any engine reproduces exactly (no
    * float k-means means). Swap a Lloyd-refined codebook in for recall at
    * the cost of cross-engine exactness.
    *
    * Plan shape: corpus explodes to m rows per vector (subvectors), joins
    * the BROADCAST m·k-row codebook, argmin per (vector, subspace) via
    * window, reassembles with one groupBy — one shuffle of (id, sub,
    * code) triples; the full vectors never shuffle. */
  def pqCodes(vecs: DataFrame, idCol: String, vecCol: String,
              m: Int = 4, k: Int = 16): DataFrame =
    pqCodesFlat(vecs, idCol, vecCol, m, k)
      .groupBy(col(idCol))
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** [[pqCodes]] in its pre-assembly shape: one (id, sub, code) row per
    * (vector, subspace). This is the layout downstream joins and the
    * correctness harness want — scalar columns sort/compare everywhere,
    * and the ADC search path consumes exactly these triples before its
    * own reassembly. */
  def pqCodesFlat(vecs: DataFrame, idCol: String, vecCol: String,
                  m: Int = 4, k: Int = 16): DataFrame = {
    val v = pqNormalize(vecs, idCol, vecCol, m)
    val codebook = codebookOf(seedVecs(v, k), m)
    pqAssign(v, codebook, m)
      .select(col("vid").as(idCol), col("sub"), col("cid").as("code"))
  }

  /** IVF + PQ approximate top-k — the FAISS IVFADC shape: queries probe
    * their `nprobe` nearest coarse cells (iters=0 quantizer, as [[ivfTopK]]
    * with iters=0 / e4b), and candidates in those cells are scored by
    * ASYMMETRIC DISTANCE (ADC): the exact query subvector against each
    * candidate's reconstructed codebook centroid, summed over subspaces in
    * subspace order (deterministic double fold). Returns (query_id,
    * neighbor_id, adist, rank) with rank by ascending reconstructed L2².
    *
    * 100 TB shape: candidate vectors are never touched at query time —
    * only their m-byte codes move; the codebook and query set broadcast;
    * per-query work is nprobe/nlist of the corpus times an m-term table
    * lookup. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                kTop: Int, nlist: Int = 8, nprobe: Int = 2,
                m: Int = 4, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE md5 pass + ONE global top-k over the corpus supplies both the
    // coarse centroids (first nlist seeds — identical to kmeansLite with
    // iters = 0) and the PQ codebook (first k seeds); cut because the
    // max(nlist, k)-row seed table feeds three consumers.
    val v = pqNormalize(corpus, idCol, vecCol, m)
    val seeds = Cuts.cut(seedVecs(v, math.max(nlist, k)))
    val centroids = seeds.filter(col("cid") < nlist)
      .select(col("cid"), col("vec").as("cvec"))
    val codebook = codebookOf(seeds.filter(col("cid") < k), m)
    val probeW = Window.partitionBy(col("vid")).orderBy(col("__d"), col("cid"))
    val assigned = v.crossJoin(broadcast(centroids))
      .withColumn("__d", l2sq(col("vec"), col("cvec")))
      .withColumn("__r", row_number().over(probeW)).filter(col("__r") === 1)
      .select(col("vid"), col("cid"))
    val codes = pqAssign(v, codebook, m)
      .groupBy(col("vid"))
      .agg(transform(sort_array(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("codes"))
    val lists = assigned.select(col("cid"), col("vid").as("neighbor_id"))
      .join(codes.select(col("vid").as("neighbor_id"), col("codes")), Seq("neighbor_id"))
    val q = pqNormalize(queries, idCol, vecCol, m)
      .select(col("vid").as("query_id"), col("vec").as("qv"))
    val qProbeW = Window.partitionBy(col("query_id")).orderBy(col("__d"), col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("__d", l2sq(col("qv"), col("cvec")))
      .withColumn("__r", row_number().over(qProbeW)).filter(col("__r") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))
    // ADC: explode candidate codes by subspace, join the (sub, cid)
    // codebook entry, score against the query's subvector, and fold the
    // m per-subspace terms IN SUBSPACE ORDER so the double sum is
    // engine-reproducible.
    val cand = probes.join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qv"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val scored = cand
      .join(broadcast(codebook.withColumnRenamed("cid", "code")), Seq("sub", "code"))
      .withColumn("__t", l2sq(element_at(subvecs(col("qv"), m), col("sub") + 1)
        .getField("svec"), col("cvec")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(round(aggregate(transform(sort_array(collect_list(struct(col("sub"), col("__t")))),
        s => s.getField("__t")), lit(0.0), (a, x) => a + x), 6).as("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= kTop)
  }

  /** (vid, vec double) projection with the PQ divisibility contract
    * ENFORCED: a vector whose length m does not divide would silently
    * lose its tail dimensions to integer slice arithmetic — raise
    * instead. */
  private def pqNormalize(vecs: DataFrame, idCol: String, vecCol: String,
                          m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    vecs.select(col(idCol).as("vid"),
      when(size(col(vecCol)) % m === 0, transform(col(vecCol), x => x.cast("double")))
        .otherwise(raise_error(concat(
          lit(s"pq: vector length must be divisible by m=$m, got "),
          size(col(vecCol)).cast("string")))).as("vec"))
  }

  /** The n corpus vectors with smallest (md5(id), id) as (cid 0..n-1,
    * vec) — plans as one TakeOrderedAndProject, O(n) driver state. */
  private def seedVecs(v: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"seed count must be >= 1, got $n")
    val seedW = Window.orderBy(col("__h"), col("vid"))
    v.withColumn("__h", md5Long(col("vid")))
      .withColumn("__rn", row_number().over(seedW)).filter(col("__rn") <= n)
      .select((col("__rn") - 1).cast("int").as("cid"), col("vec"))
  }

  /** Broadcastable (sub, cid, cvec) PQ codebook: subspace slices of the
    * seed vectors. */
  private def codebookOf(seeds: DataFrame, m: Int): DataFrame =
    seeds.select(col("cid"), explode(subvecs(col("vec"), m)).as("e"))
      .select(col("e.sub").as("sub"), col("cid"), col("e.svec").as("cvec"))

  /** Per-(vector, subspace) nearest codebook centroid: (vid, sub, cid). */
  private def pqAssign(v: DataFrame, codebook: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = v.select(col("vid"), explode(subvecs(col("vec"), m)).as("e"))
      .select(col("vid"), col("e.sub").as("sub"), col("e.svec").as("svec"))
    val w = Window.partitionBy(col("vid"), col("sub")).orderBy(col("__d"), col("cid"))
    ex.join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", l2sq(col("svec"), col("cvec")))
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("vid"), col("sub"), col("cid"))
  }

  /** PQ reconstruction distortion: per vector, the squared L2 error
    * between the vector and its codebook reconstruction — Σ over
    * subspaces of the ASSIGNED (= minimum) centroid distance. The
    * quantization-quality eval that closes the PQ loop (codes → search →
    * how much information the codes actually lost); compare distortion
    * across m/k to size a codebook. Per-subspace minima are order-free;
    * the cross-subspace sum folds in fixed subspace order (left
    * association), and the result ships floor-truncated in micro units —
    * deterministic in any IEEE engine. Requires m = 4 (the fold is
    * explicit). */
  def pqDistortion(vecs: DataFrame, idCol: String, vecCol: String,
                   k: Int = 16): DataFrame = {
    val m = 4
    val v = pqNormalize(vecs, idCol, vecCol, m)
    val codebook = codebookOf(seedVecs(v, k), m)
    val ex = v.select(col("vid"), explode(subvecs(col("vec"), m)).as("e"))
      .select(col("vid"), col("e.sub").as("sub"), col("e.svec").as("svec"))
    val dsub = ex.join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", l2sq(col("svec"), col("cvec")))
      .groupBy(col("vid"), col("sub")).agg(min(col("__d")).as("dsub"))
    // one non-null element per conditional sum ⇒ exact; explicit
    // left-fold keeps the cross-subspace addition order fixed
    val bySub = (0 until m).map(s =>
      sum(when(col("sub") === s, col("dsub"))).as(s"d$s"))
    dsub.groupBy(col("vid")).agg(bySub.head, bySub.tail: _*)
      .select(col("vid").as(idCol),
        floor((((col("d0") + col("d1")) + col("d2")) + col("d3")) * 1000000)
          .cast("long").as("err_micro"))
  }

  /** Array of m (sub, svec) structs: contiguous equal slices of `vec`.
    * Divisibility is enforced upstream in [[pqNormalize]]. */
  private def subvecs(vec: Column, m: Int): Column = {
    val sl = (size(vec) / m).cast("int")
    array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(vec, sl * lit(s) + 1, sl).as("svec"))): _*)
  }

  /** Native fused squared-L2 (see [[graft.functions.L2SqDistance]]) —
    * bit-identical to the sequential fold it replaced. */
  private def l2sq(a: Column, b: Column): Column =
    call_function("l2_sq", a, b)

  /** Matryoshka truncation: keep the first `dims` dimensions and
    * L2-renormalize — the MRL serving trick (use a prefix of the
    * embedding at a fraction of the cost; Kusupati et al. 2022). Zero
    * prefixes stay zero vectors. Single codegen'd projection, no
    * shuffle; values floor-truncated to 6dp so any engine reproduces
    * them (.5-tie rounding differs across engines). Contract: every
    * vector must have >= `dims` elements — a shorter vector yields a
    * shorter output prefix rather than NULL-padding (matryoshka models
    * are trained at fixed dims; validate upstream for ragged corpora). */
  def matryoshka(vecs: DataFrame, idCol: String, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val prefix = slice(transform(col(vecCol), x => x.cast("double")), 1, dims)
    val nrm = sqrt(aggregate(prefix, lit(0.0), (acc, x) => acc + x * x))
    vecs.select(col(idCol),
      when(nrm === 0, transform(prefix, _ => lit(0.0)))
        .otherwise(transform(prefix, x => floor(x / nrm * 1000000) / 1000000))
        .as("mvec"))
  }

  /** Matryoshka funnel search (the MRL coarse-to-fine serving pattern,
    * Kusupati et al. 2022): stage 1 scores every query-corpus pair on the
    * FIRST `dims` dimensions only — valid because matryoshka-trained
    * embeddings pack most of the signal into the prefix — and keeps the
    * top `coarseK` per query; stage 2 rescores only those survivors with
    * the full-dimension cosine and emits the exact top `k` among them.
    * Returns (query_id, neighbor_id, cos, rank) with `cos` the FULL-dim
    * score, directly comparable to [[bruteForceTopK]] for recall evals.
    *
    * Scale: stage 1 is one corpus pass with the query set broadcast —
    * dims/D of the brute-force multiply work, and in a real deployment
    * the prefix lives in its own (narrower) column/file so the scan
    * shrinks by the same factor; the coarse top-k window shuffles only
    * (query_id, neighbor_id, ccos) triples, never vectors. Stage 2
    * broadcasts the coarseK·|queries| survivor list back against the
    * corpus — full vectors are read map-side a second time but never
    * shuffled. Both stages round to 6dp before ranking (ties broken by
    * neighbor_id), so the result is bit-reproducible cross-engine. */
  def mrlFunnel(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dims: Int, coarseK: Int, k: Int,
                native: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(k >= 1 && coarseK >= k, s"need coarseK >= k >= 1, got coarseK=$coarseK k=$k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val coarse = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineBy(native)(slice(col("qv"), 1, dims), slice(col("nv"), 1, dims)), 6)
          .as("ccos"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("neighbor_id"))
    val survivors = coarse.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= coarseK)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = c.join(
        broadcast(survivors.join(q, Seq("query_id"))), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineBy(native)(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * data-prep step): per query, the top `k` corpus vectors by cosine
    * INSIDE the band [floor, ceil) — similar enough to carry gradient
    * signal, not so similar they are suspected positives/leakage. Pairs
    * with cos ≥ ceil (near-dup/positive territory) and cos < floor (easy
    * negatives, no signal) are both excluded, self too. Returns
    * (query_id, neighbor_id, cos, rank), rank 1 = hardest; a query with
    * no in-band neighbor yields no rows (callers union an easy-negative
    * fallback if their loss needs a fixed count).
    *
    * Plan shape = [[bruteForceTopK]] with the band filter applied BEFORE
    * the top-k window: queries broadcast, one corpus pass, and the
    * window's shuffle carries only in-band (query, neighbor, cos)
    * triples — at 100 TB the floor is the lever (a floor at the p90
    * cosine drops ~90% of pairs pre-shuffle). For corpus-sized query
    * sets swap the scorer for [[lshTopK]]/[[ivfTopK]]; the band filter
    * and window compose unchanged. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, floor: Double, ceil: Double,
                    native: Boolean = false): DataFrame = {
    require(k >= 1, s"hardNegatives needs k >= 1, got $k")
    require(floor < ceil, s"need floor < ceil, got [$floor, $ceil)")
    topKByCos(scoredPairs(corpus, queries, idCol, vecCol, native)
      .filter(col("cos") >= floor && col("cos") < ceil), k)
  }

  /** Recall@k of an approximate ANN result against the exact ranking —
    * the evaluation every ANN rollout runs before swapping the index in:
    * both inputs are top-k result tables shaped (query_id, neighbor_id,
    * ...) (e.g. [[lshTopK]] vs [[bruteForceTopK]] over the same queries);
    * output is one row per query: (query_id, n_exact, n_hit, recall) with
    * recall = |approx ∩ exact| / |exact| floor-truncated to 4dp. Queries
    * whose approximate side returned nothing (empty LSH bucket) still
    * appear, with n_hit = 0 — silent row loss would overstate recall.
    *
    * Both sides are deduped on (query_id, neighbor_id) first: ranked
    * top-k tables are already distinct, but a caller passing a table with
    * repeats would otherwise inflate n_exact or n_hit (and recall past
    * 1.0) — the dedup is free at this size and makes the contract hold
    * for any input.
    *
    * Scale: both sides are ≤ k·|queries| rows — result-table sized, never
    * corpus sized; one shuffle each on (query_id, neighbor_id) (the
    * dedup's exchange, reused by the join), then a map-side-combinable
    * per-query count. */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
        .withColumn("__hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .withColumn("recall",
        floor(col("n_hit").cast("double") / col("n_exact") * 10000) / 10000)

  /** kNN classifier evaluation: predict each eval vector's label by the
    * majority label of its k nearest corpus neighbors (exact cosine,
    * self excluded) and report per-true-label accuracy — the standard
    * embedding-quality probe (a good embedding space clusters labels, so
    * kNN accuracy is a training-free proxy for representation quality).
    *
    * Majority vote tiebreak is deterministic: vote count desc, then
    * smaller label id. Output (label, n_eval, n_correct) — exact BIGINTs.
    *
    * Plan shape: the eval set rides [[bruteForceTopK]]'s broadcast (the
    * corpus is scanned once, map-side, never shuffled); neighbor labels
    * arrive by an id-equi-join against the 2-column (id, label)
    * projection of the corpus — broadcast at eval scale, co-partitioned
    * at 100 TB; votes and accuracy are two small hash aggregates over
    * k·|eval| rows. Eval sets are sample-sized by design — the operator
    * never materializes corpus×corpus. */
  def knnClassify(corpus: DataFrame, eval: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int = 5,
                  native: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nbrs = bruteForceTopK(corpus, eval, idCol, vecCol, k, native)
    val nbrLabels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nlabel"))
    val votes = nbrs.join(nbrLabels, "neighbor_id")
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nlabel"))
    val pred = votes.withColumn("__r", row_number().over(wVote))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("nlabel").as("pred"))
    eval.select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(pred, "query_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("label") === col("pred"), 1L).otherwise(0L)).as("n_correct"))
  }

  /** Symmetric per-vector int8 quantization: q_i = floor(x_i · 127 / max|x|),
    * scale = max|x| / 127 (6dp floor-truncated) — the compression pass an
    * embedding store applies before ANN serving (4x smaller, dot products
    * on int8). floor, not round: .5 ties round differently across engines.
    * Zero vectors quantize to zeros with scale 0. Single codegen'd
    * projection, no shuffle. */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    vecs.withColumn("__mx", mx)
      .select(col(idCol),
        when(col("__mx") === 0, transform(col(vecCol), x => lit(0)))
          .otherwise(transform(col(vecCol),
            x => floor(x.cast("double") * lit(127.0) / col("__mx")).cast("int"))).as("q"),
        when(col("__mx") === 0, lit(0.0))
          .otherwise(floor(col("__mx") / lit(127.0) * 1000000) / 1000000).as("scale"))
  }

  /** Upper-triangle accumulator for [[gramMatrix]]: d·(d+1)/2 exact longs
    * per partition, merged by elementwise add — order-free. */
  case class GramBuf(sums: Seq[Long])

  private class GramAgg(d: Int)
    extends org.apache.spark.sql.expressions.Aggregator[Seq[Int], GramBuf, Seq[Long]] {
    private val size = d * (d + 1) / 2
    override def zero: GramBuf = GramBuf(Vector.fill(size)(0L))
    override def reduce(b: GramBuf, q: Seq[Int]): GramBuf = {
      require(q != null && q.length == d,
        s"gramMatrix: expected dimension $d, got ${if (q == null) "null" else q.length}")
      val a = b.sums.toArray
      var idx = 0
      var i = 0
      while (i < d) {
        val qi = q(i).toLong
        var j = i
        while (j < d) { a(idx) += qi * q(j); idx += 1; j += 1 }
        i += 1
      }
      GramBuf(scala.collection.immutable.ArraySeq.unsafeWrapArray(a))
    }
    override def merge(x: GramBuf, y: GramBuf): GramBuf = {
      val a = x.sums.toArray
      var i = 0
      while (i < a.length) { a(i) += y.sums(i); i += 1 }
      GramBuf(scala.collection.immutable.ArraySeq.unsafeWrapArray(a))
    }
    override def finish(b: GramBuf): Seq[Long] = b.sums
    override def bufferEncoder: org.apache.spark.sql.Encoder[GramBuf] =
      org.apache.spark.sql.Encoders.product[GramBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Exact integer Gram matrix XᵀX over int8 codes in ONE pass — the
    * d²-sized sufficient statistic behind PCA / covariance / whitening,
    * computed without ever materializing a vector pair: a typed
    * Aggregator keeps d·(d+1)/2 exact longs per partition (≤ 17 KB at
    * d = 64) and the exchange carries one such state per task, however
    * many vectors stream through. Integer codes (not floats) make the
    * sums order- and partitioning-invariant — cross-engine exact, where
    * a float Gram is FP-order-dependent. The driver-side eigensolve on
    * the returned d×d matrix is O(d³) trivia; THIS pass is the 100 TB
    * part. Output: (i, j, dot) for the upper triangle i ≤ j. */
  def gramMatrix(codes: DataFrame, codeCol: String, d: Int): DataFrame = {
    require(d >= 1, s"gramMatrix needs d >= 1, got $d")
    val spark = codes.sparkSession
    import spark.implicits._
    val agg = udaf(new GramAgg(d), implicitly[org.apache.spark.sql.Encoder[Seq[Int]]])
    val flat = codes.select(agg(col(codeCol)).as("g"))
      .select(posexplode(col("g")).as(Seq("idx", "dot")))
    val idxMap = spark.range(d).select(col("id").cast("int").as("i"))
      .crossJoin(spark.range(d).select(col("id").cast("int").as("j")))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"),
        (col("i").cast("long") * d - col("i").cast("long") * (col("i") - 1) / 2
          + (col("j") - col("i"))).cast("int").as("idx"))
    flat.join(broadcast(idxMap), Seq("idx"))
      .select(col("i"), col("j"), col("dot"))
  }

  /** Pairwise-cosine histogram over a deterministic md5 sample — the
    * embedding-space QA read-out (a healthy corpus has a unimodal
    * similarity mass well below 1; a spike near 1.0 means near-dup
    * flooding, a mass shifted right means anisotropy worth checking
    * with [[powerIteration]]). Sampling by md5(id) mod `mod` is a
    * property of the ids, not of partitioning — the histogram is a pure
    * function of the corpus, and `mod` is the knob that keeps the
    * sample-pair count ~constant as the corpus grows (pairs = (n/mod)²/2
    * — at 100 TB raise mod so the sampled side stays broadcast-sized).
    * Bins are floor((cos+1)·bins/2) over the 6dp-rounded fused cosine —
    * the same rounded value the top-k gates hash-match, so the bin
    * boundary is engine-exact. */
  def cosineHistogram(vecs: DataFrame, idCol: String, vecCol: String,
                      mod: Int = 4, bins: Int = 20): DataFrame = {
    require(mod >= 1, s"cosineHistogram needs mod >= 1, got $mod")
    require(bins >= 2 && bins % 2 == 0, s"cosineHistogram needs even bins >= 2, got $bins")
    val s = vecs.filter(md5Long(col(idCol)) % mod === 0)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val l = s.select(col("__id").as("id_a"), col("__v").as("va"))
    val r = s.select(col("__id").as("id_b"), col("__v").as("vb"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .select(round(cosineBy(native = true)(col("va"), col("vb")), 6).as("cos"))
      .select(least(floor((col("cos") + lit(1.0d)) * lit(bins / 2.0)),
        lit((bins - 1).toLong)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
  }

  /** Fixed-iteration power method over a [[gramMatrix]] triangle: the
    * dominant principal direction of the embedding corpus in exact
    * integer micro-units — the spectral probe behind PCA whitening and
    * the "is one direction eating the space" anisotropy check (Mu &
    * Viswanath 2018: the top component of contextual embeddings is
    * usually a rogue common direction worth projecting out). v₀ = 1000
    * (milli-units) on every dim; each round multiplies the symmetric
    * Gram by v exactly and max-normalizes with an exact integer floor
    * divide — ⌊1000·w/mx⌋ via the positive-mod identity
    * (a − posmod(a, b)) / b, which never touches floating point (a
    * DOUBLE here costs cross-engine ulp flips: SQL literals like
    * `1000.0` are DECIMAL in some engines) and never disagrees on
    * negative-operand truncation (the subtraction makes the quotient
    * exact). Milli scale keeps 1000·w inside int64 to ~10¹⁰ int8
    * codes; past that, the same plan runs in DECIMAL(38). Ties are
    * impossible (the max is a single scalar), so the iterate is a pure
    * function of the Gram in any engine.
    *
    * Plan: the d²-entry symmetric Gram (expanded from the d(d+1)/2
    * triangle) is corpus-INDEPENDENT in size; each iteration is one
    * broadcast join of the d-row vector against it plus a d-row
    * aggregate — the corpus is touched exactly once, by the Gram pass
    * itself. Output: (i, v_micro) for the final iterate. */
  def powerIteration(gram: DataFrame, iters: Int = 3): DataFrame = Cuts.released {
    require(iters >= 1, s"powerIteration needs iters >= 1, got $iters")
    // Expand the i <= j triangle into the full symmetric matrix.
    val full = Cuts.cut(gram.select(col("i"), col("j"), col("dot"))
      .unionByName(gram.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("dot"))), eager = false)
    var v = gram.select(col("i")).union(gram.select(col("j"))).distinct()
      .select(col("i").as("dim"), lit(1000L).as("v_milli"))
    for (_ <- 1 to iters) {
      val w = full.join(broadcast(v.withColumnRenamed("dim", "j")), Seq("j"))
        .groupBy(col("i").as("dim"))
        .agg(sum(col("dot") * col("v_milli")).as("w"))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      v = w.crossJoin(broadcast(mx))
        .withColumn("a", lit(1000L) * col("w"))
        .select(col("dim"),
          when(col("mx") > 0,
            expr("(a - ((a % mx) + mx) % mx) div mx"))
            .otherwise(lit(0L)).as("v_milli"))
    }
    // Eager cut so the returned frame no longer reads the expanded Gram.
    Cuts.cut(v.select(col("dim"), col("v_milli")))
  }
}
