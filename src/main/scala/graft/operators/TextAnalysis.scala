package graft.operators

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, order-sensitive fingerprinting.
  * All single-pass, codegen'd column expressions — no shuffle, no UDF.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped. */
  def tokens(text: Column): Column = Dedup.tokens(text)

  /** Marker-word dictionaries for the n-gram/stopword language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  private def markerScore(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => markers.map(m => w === lit(m)).reduce(_ || _))).cast("long")

  /** Language-ID heuristic: count marker-word hits per language, pick the
    * max (deterministic tiebreak: earlier entry in [[LangMarkers]] wins). */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = tokens(col(textCol))
    val scored = LangMarkers.foldLeft(docs.withColumn("__w", words)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", markerScore(col("__w"), markers))
    }
    // CASE chain in declaration order = deterministic argmax with priority.
    val pred = LangMarkers.map(_._1) match {
      case langs =>
        langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), els) =>
          val ge = langs.drop(i + 1)
            .map(o => col(s"score_$lang") >= col(s"score_$o"))
            .foldLeft(col(s"score_$lang") > 0)(_ && _)
          when(ge, lit(lang)).otherwise(els)
        }
    }
    scored.select(col(idCol), pred.as("pred_lang"))
  }

  /** Classifier-evaluation confusion table for [[languageId]] against a
    * labeled-language column: one row per (labeled, predicted) pair with
    * its document count — the eval artifact that tells you WHERE the
    * heuristic fails (e.g. every `zh` doc lands in `und` because the
    * marker lists carry no zh evidence), the language-ID twin of
    * `Similarity.annRecall`'s retrieval eval.
    *
    * Scale: the label join is id-to-id with the label side pruned to two
    * columns at the parquet scan (text is read once, on the scoring
    * side), and the output aggregate is |langs|² rows at most — the
    * exchange after scoring carries (id, pred) pairs only. */
  def langConfusion(docs: DataFrame, idCol: String, textCol: String,
                    labelCol: String): DataFrame =
    languageId(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col(labelCol), col("pred_lang"))
      .agg(count(lit(1)).as("cnt"))

  /** floor(x·10⁴)/10⁴ — engine-portable 4-decimal truncation. Plain
    * `round` differs across engines on exact .xxxx5 ties (Spark rounds the
    * decimal rendering half-up; DuckDB rounds the binary double), and
    * ratios of small integers (7/32 = 0.21875) hit those ties routinely. */
  private def floor4(c: Column): Column = floor(c * 10000) / 10000

  /** Quality signals: token count, punctuation ratio, stopword ratio, mean
    * word length, and a blended 0..1 quality score (truncated to 4dp). */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val words = tokens(text)
    val nTok = size(words).cast("long")
    val nChar = length(text).cast("double")
    val punct = (nChar - length(regexp_replace(text, "[.,!?;:]", ""))) / nChar
    val stop = size(filter(words,
      w => Seq("the", "a", "and", "of", "to").map(m => w === lit(m)).reduce(_ || _)))
      .cast("double") / greatest(size(words), lit(1))
    val meanLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
      greatest(size(words), lit(1))
    val quality = least(greatest(
      lit(0.4) * least(nTok / lit(100.0), lit(1.0)) +
        lit(0.3) * (lit(1.0) - punct) +
        lit(0.3) * least(meanLen / lit(8.0), lit(1.0)), lit(0.0)), lit(1.0))
    docs.select(col(idCol), nTok.as("n_tokens"),
      floor4(punct).as("punct_ratio"), floor4(stop).as("stopword_ratio"),
      floor4(meanLen).as("mean_word_len"), floor4(quality).as("quality"))
  }

  /** BPE-ish sub-word tokenization: letter runs, digit runs, and single
    * punctuation marks as separate tokens (the pre-tokenization pass a BPE
    * tokenizer applies before merges). Codegen'd regexp, no UDF. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** The inner loop of BPE TOKENIZER TRAINING at corpus scale: the
    * top-K most frequent adjacent character pairs, weighted by word
    * frequency — what a Sennrich-style trainer computes once per merge.
    *
    * The scale trick is the two-level aggregation: the corpus collapses
    * to a (word, n) VOCABULARY first (one hash agg — corpus-sized
    * exchange of word strings with map-side combine), and the pair
    * explode runs over the vocabulary only, weighted by n. A 100 TB
    * corpus has a ~10⁷-word vocabulary: the expensive explode touches
    * 10⁷ rows, not 10¹³. Output: (pair, cnt, rank), rank 1..topK with
    * (count desc, pair) determinism. */
  def bpePairFreq(docs: DataFrame, textCol: String, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val vocab = docs.select(explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
    val pairs = vocab
      .select(col("n"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      // 1-char words hit Spark's descending sequence(1,0) quirk and emit
      // sub-2-char slices; the exact-length filter drops them.
      .filter(length(col("pair")) === 2)
      .groupBy("pair").agg(sum(col("n")).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    pairs.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
  }

  /** BPE merge LEARNING — the tokenizer-training loop itself (Sennrich et
    * al. 2016), of which [[bpePairFreq]] is one round's count table: start
    * from character-segmented words, and per round (1) count adjacent
    * symbol pairs weighted by word frequency, (2) adopt the most frequent
    * pair as a merge (deterministic tiebreak: count desc, pair asc),
    * (3) rewrite the vocabulary with that merge applied. Merging is the
    * standard greedy left-to-right non-overlapping string replace — Java,
    * DuckDB, and every `replace()` implementation agree on those
    * semantics, so the learned merge table is engine-exact.
    *
    * Scale: the corpus collapses to the (word, n) VOCABULARY before the
    * loop (the one corpus-sized exchange — 10⁷ rows at 100 TB, not 10¹³
    * tokens); every round then runs vocabulary-sized: one pair-explode
    * aggregate, a 1-row argmax broadcast back via cross join, one
    * codegen'd `replace` projection, and an eager cut that
    * keeps the per-round plan flat (an uncut chain would nest each
    * round's argmax subtree inside the next round's scan). Rounds are a
    * fixed hyperparameter (real tokenizers: 30-50k), not a convergence
    * loop.
    *
    * Returns (round, merge_left, merge_right, cnt) — one row per learned
    * merge, in learning order. */
  def bpeLearn(docs: DataFrame, textCol: String, rounds: Int = 5): DataFrame = Cuts.released {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var vocab = Cuts.cut(docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seg"), col("n")))
    var merges: Option[DataFrame] = None
    (1 to rounds).foreach { r =>
      val t = split(trim(col("seg")), " ")
      val pairsArr = when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))
      val best = vocab.select(col("n"), explode(pairsArr).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
      val m = best.select(lit(r).as("round"),
        expr("split_part(pair, ' ', 1)").as("merge_left"),
        expr("split_part(pair, ' ', 2)").as("merge_right"), col("cnt"))
      merges = Some(merges.fold(m)(_.unionByName(m)))
      vocab = Cuts.cut(vocab.crossJoin(broadcast(best.select(col("pair").as("__p"))))
        .select(expr(
          "replace(seg, ' ' || __p || ' ', ' ' || replace(__p, ' ', '') || ' ')").as("seg"),
          col("n")))
    }
    merges.get
  }

  /** Apply learned BPE merges — the TOKENIZE half: segment every word by
    * re-running the merge sequence (greedy left-to-right replace, in
    * learning order — the same deterministic semantics as [[bpeLearn]]),
    * then report per-document character vs BPE token counts, the
    * compression-ratio signal that tells you whether the learned merges
    * fit the corpus.
    *
    * Scale: segmentation runs over the (word, n-per-doc) VOCABULARY — the
    * merge table arrives as `rounds` chained 1-row broadcast cross joins
    * (data-dependent replaces without any driver collect) — and docs get
    * their totals back through one word-equi-join (broadcast at vocab
    * scale, co-partitioned otherwise). The corpus is scanned once. */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               merges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    var seg = words.select(col("w"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seg"))
      .dropDuplicates("w")
    (1 to rounds).foreach { r =>
      val m = merges.filter(col("round") === r)
        .select(concat_ws(" ", col("merge_left"), col("merge_right")).as("__p"))
      seg = seg.crossJoin(broadcast(m))
        .select(col("w"), expr(
          "replace(seg, ' ' || __p || ' ', ' ' || replace(__p, ' ', '') || ' ')").as("seg"))
    }
    val perWord = seg.select(col("w"),
      size(filter(split(trim(col("seg")), " "), t => t =!= "")).cast("long").as("toks"))
    words.join(perWord, "w")
      .groupBy(col(idCol))
      .agg(sum(col("k") * length(col("w"))).as("n_chars"),
        sum(col("k") * col("toks")).as("n_bpe_tokens"))
  }

  private def floor6(c: Column): Column = floor(c * 1000000) / 1000000

  /** TF-IDF top-k terms per document: score = tf · ln((N+1)/(df+1)),
    * truncated to 6dp, term string as deterministic tiebreak. Plan shape:
    * two hash aggregations (tf, then document frequency — both map-side
    * partial) + one join back on term (df table ≪ corpus, broadcast-able)
    * + a per-document top-k window. N rides along as a broadcast 1-row
    * aggregate inside the same plan — no driver-side count() action, so
    * the operator composes lazily in one job. (The plan still reads the
    * corpus twice — once for N, once for tokenization; cache `docs`
    * upstream if that second scan matters.) */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = docs.agg(count(lit(1)).cast("double").as("__n"))
    val terms = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", floor6(col("tf") * log((col("__n") + lit(1.0)) / (col("df") + lit(1.0)))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("score"), col("rank"))
  }

  /** BM25 lexical retrieval: score every document against a fixed query
    * term set and keep the global top-k. Per query term,
    * `idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` with the Robertson
    * `idf = ln((N−df+0.5)/(df+0.5)+1)` floor-truncated to integer
    * micro-units BEFORE the per-document sum — the sum is then BIGINT
    * arithmetic, exact and addition-order-invariant in any engine (a
    * double sum would be partial-aggregation-order-dependent at the
    * rank boundary).
    *
    * Plan shape: the exploded token stream is filtered to the query
    * terms BEFORE the (doc,term) aggregate, so only query-term hits
    * survive the first exchange; document length and the corpus (N,
    * avgdl) scalar ride along as one more hash aggregate + a broadcast
    * 1-row cross join; df over query terms is ≤|query| rows, joined
    * broadcast. Nothing larger than (matching doc, query term) rows
    * ever shuffles — at 100 TB the cost is the scan plus an exchange
    * proportional to query-term postings, the inverted-index access
    * pattern without materializing an index. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty && k >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__w"))
    val dl = toks.select(col(idCol), size(col("__w")).cast("long").as("dl"))
    // One-row corpus stats: exact integer sum/count, divided once — the
    // same double both here and in any replica engine.
    val stats = dl.agg(count(lit(1)).cast("double").as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val tf = toks.select(col(idCol), explode(col("__w")).as("term"))
      .filter(col("term").isin(query.map(lit): _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    // k1+1 and 1−b are spelled as runtime double ADDITIONS, not Scala
    // compile-time constants: an oracle replica writes `(1.2 + 1.0)` and
    // must land on the bit-identical double (round-to-even ties differ
    // between a folded literal and an IEEE add for some k1).
    val tfc = col("tf") * (lit(k1) + lit(1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl")))
    val w = Window.orderBy(col("score_micro").desc, col(idCol))
    tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), floor(idf * tfc * lit(1000000)).cast("long").as("m"))
      .groupBy(col(idCol)).agg(sum(col("m")).as("score_micro"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Sparse-vector nearest neighbors by TF-IDF cosine, via an inverted
    * index — the lexical twin of [[Similarity]]'s dense ANN family and
    * the candidate generator classic near-dup pipelines run before an
    * expensive verify. Each document keeps its top-`r` terms by TF-IDF
    * weight (deterministic tiebreak: weight desc, term asc) — the
    * sparsification that bounds postings per document; pairs sharing ≥1
    * surviving term get `cos = Σw₁w₂ / (‖w₁‖‖w₂‖)` over the PRUNED
    * vectors, and each document keeps its `k` nearest (cos desc, id asc).
    *
    * Exactness: weights are floor-truncated to BIGINT micro-units, so
    * dot products and squared norms are exact integer sums; the final
    * cosine touches doubles only through IEEE-correctly-rounded sqrt /
    * multiply / divide — bit-identical in any engine — and is truncated
    * to micro-units in the output.
    *
    * Plan shape: tf → df (broadcast back) → per-doc top-r window →
    * self-join ON TERM (the inverted index: only docs sharing a term
    * ever meet — never an all-pairs product) → pair aggregate → top-k
    * window. Per-term join buckets are df², the classic posting-list
    * hot spot: real corpora df-prune stop terms first (they carry ~zero
    * TF-IDF weight and dominate bucket size), and hot lists that remain
    * are capped at `maxBucket` members ([[Skew.capBuckets]], the
    * LSH-bucket precedent — deterministic subset, recall loss reported
    * by [[Skew.bucketOverflow]], cap inactive at the oracle SFs where
    * exactness is checked). The synthetic 31-word vocab is the
    * worst case — every term is a stop term, so uncapped pair volume
    * grows ~quadratically with corpus size (measured 27.7 s at sf0.1;
    * capped: bounded at terms·maxBucket² pairs). */
  def sparsePostings(docs: DataFrame, idCol: String, textCol: String,
                     r: Int = 5): DataFrame = {
    require(r >= 1)
    import org.apache.spark.sql.expressions.Window
    val total = docs.agg(count(lit(1)).cast("double").as("__n"))
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col(idCol)).orderBy(col("w").desc, col("term"))
    // The squared norm rides on each posting row via a SECOND window over
    // the SAME per-document partitioning as the top-r rank — Catalyst
    // reuses one exchange+sort for both, so carrying ‖w‖² costs no
    // shuffle, and the norm joins (plus their whole recomputed postings
    // subtrees) disappear from the plan.
    val wNorm = Window.partitionBy(col(idCol))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("term"),
        floor(col("tf") * log((col("__n") + lit(1.0)) / (col("df") + lit(1.0)))
          * lit(1000000)).cast("long").as("w"))
      .withColumn("__r", row_number().over(wRank))
      .filter(col("__r") <= r && col("w") > 0)
      .withColumn("nn", sum(col("w") * col("w")).over(wNorm))
      .select(col(idCol), col("term"), col("w"), col("nn"))
  }

  def sparseCosineTopK(docs: DataFrame, idCol: String, textCol: String,
                       r: Int = 5, k: Int = 3, maxBucket: Int = 256): DataFrame = {
    require(r >= 1 && k >= 1)
    import org.apache.spark.sql.expressions.Window
    // Cut the raw postings (one row per kept (doc, term) — tiny next
    // to the corpus) and join both sides of the term self-join against
    // the cut, as Dedup.lshCandidates does with its bucket table.
    // Hot posting lists are capped (Skew.capBuckets, deterministic member
    // subset) so a stop-term's df² pair fan-out is bounded at any corpus
    // size; Verify audits that the cap is INACTIVE at the oracle SFs
    // (the uncapped oracle stays exact), and Skew.bucketOverflow reports
    // what a capped run dropped.
    val raw = Cuts.cut(sparsePostings(docs, idCol, textCol, r), eager = false)
    val pruned = Skew.capBuckets(raw, Seq("term"), idCol, maxBucket)
    val a = pruned.select(col(idCol).as("doc_a"), col("term"),
      col("w").as("wa"), col("nn").as("nna"))
    val bb = pruned.select(col(idCol).as("doc_b"), col("term"),
      col("w").as("wb"), col("nn").as("nnb"))
    val dots = a.join(bb, "term")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      // nna/nnb are constant within a (doc_a, doc_b) group; min() is the
      // deterministic way to carry them through the aggregate.
      .agg(sum(col("wa") * col("wb")).as("num"),
        min(col("nna")).as("nna"), min(col("nnb")).as("nnb"))
    val wTop = Window.partitionBy(col("doc_a"))
      .orderBy(col("cos_micro").desc, col("doc_b"))
    dots
      .select(col("doc_a"), col("doc_b"),
        floor(col("num").cast("double") /
          (sqrt(col("nna").cast("double")) * sqrt(col("nnb").cast("double")))
          * lit(1000000)).cast("long").as("cos_micro"))
      .withColumn("rank", row_number().over(wTop).cast("int"))
      .filter(col("rank") <= k)
  }

  /** PII-style redaction: emails → `<EMAIL>`, 4+-digit runs → `<NUM>`.
    * Pure codegen'd regexp_replace — the scrub pass a training-data
    * pipeline runs before tokenization. */
  def redact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      regexp_replace(
        regexp_replace(col(textCol), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "\\d{4,}", "<NUM>").as("redacted"))

  /** Order-sensitive document fingerprint: position-weighted word-hash sum
    * (a polynomial rolling hash re-expressed as a commutative sum so it
    * distributes: sum_i (md5(w_i) mod P) * i). Reordering words changes the
    * fingerprint; a bag-of-words hash would not. */
  /** Concat-and-chunk packing: lay the documents of each shard end to
    * end (ordered by id — deterministic) and assign every document the
    * `budget`-token context-window chunk its first token lands in,
    * flagging documents that straddle a chunk boundary — the sequence-
    * packing bookkeeping a pretraining pipeline runs before writing
    * examples. Sharding bounds the window: the running sum partitions by
    * `shards` deterministic md5 buckets, so no global single-reducer
    * ordering exists at any corpus size (within a shard the window is
    * the standard one-shuffle prefix sum). All-BIGINT outputs — exact in
    * any engine. */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
                 budget: Long, shards: Int = 8): DataFrame = {
    require(budget >= 1 && shards >= 1)
    import org.apache.spark.sql.expressions.Window
    val nTok = size(tokens(col(textCol))).cast("long")
    val shard = pmod(md5Long(col(idCol)), lit(shards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    docs.select(col(idCol), shard.as("shard"), nTok.as("n_tokens"))
      .withColumn("offset", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("chunk", floor(col("offset") / budget).cast("long"))
      .withColumn("straddles",
        col("n_tokens") > 0 &&
          floor((col("offset") + col("n_tokens") - 1) / budget).cast("long") > col("chunk"))
  }

  /** Sliding token windows with overlap — the chunking step every
    * RAG / embedding pipeline runs before encoding: each document becomes
    * windows of up to `window` tokens starting every `window - overlap`
    * tokens, so consecutive chunks share `overlap` tokens of context.
    * Output: (id, chunk_idx, chunk_tokens, chunk_text) — zero rows for
    * empty documents. All window arithmetic is integer (starts, index,
    * sizes), so any engine reproduces it exactly.
    *
    * Scale: pure projection + explode — the token array is let-bound once
    * per row (the [[Dedup.shingles]] lesson: a lambda referencing the
    * tokenize subtree re-splits per element), chunks are emitted map-side,
    * and nothing shuffles; downstream encoders see chunk-sized rows
    * instead of document-sized ones. */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 128, overlap: Int = 32): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap for window $window")
    val stride = window - overlap
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"), explode(
        when(size(col("__w")) > 0, sequence(lit(1), size(col("__w")), lit(stride)))
          .otherwise(array().cast("array<int>"))).as("start"))
      .select(col(idCol),
        // (start-1)/stride is an exact integer (starts are 1 + k*stride);
        // floor keeps it integral through Spark's double division.
        floor((col("start") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        least(lit(window), size(col("__w")) - col("start") + 1).cast("long")
          .as("chunk_tokens"),
        concat_ws(" ", slice(col("__w"), col("start"), lit(window))).as("chunk_text"))
  }

  def rollingFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = tokens(col(textCol))
    val weighted = transform(sequence(lit(1), size(w)),
      i => (md5Long(element_at(w, i)) % 1000003L) * i.cast("long"))
    // Guard empty docs: Spark sequence(1,0) is DESCENDING [1,0], not empty.
    docs.select(col(idCol),
      when(size(w) > 0, aggregate(weighted, lit(0L), (acc, x) => acc + x))
        .otherwise(lit(0L)).as("fingerprint"))
  }

  /** Repetition signals (the Gopher repetition filters, Rae et al. 2021
    * §A1.1): per document, the fraction of word occurrences that are
    * repeats, the fraction of word n-gram occurrences that are repeats,
    * and the share of occurrences claimed by the single most frequent
    * n-gram. Boilerplate and spam sit high on all three; a training-data
    * pipeline thresholds them before anything touches a tokenizer.
    *
    * Plan shape: the word-level fraction is an in-row array fold (no
    * shuffle); the n-gram mode/total need per-(doc, gram) counts, which is
    * ONE map-side-combinable explode+aggregate — the (doc_id, gram) key is
    * unique-ish per doc so no reducer hot key exists at any corpus size,
    * and state per doc is one row after the second partial agg. Ratios are
    * floor-truncated to 4dp (engine-portable). Documents shorter than `n`
    * words have no n-grams: fractions are 0 by convention (left join +
    * coalesce, not silent row loss). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val words = tokens(col(textCol))
    val ng = docs.select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol)).agg(sum("cnt").as("__tot"),
        count(lit(1)).as("__dst"), max("cnt").as("__top"))
    docs.select(col(idCol),
        when(size(words) > 0,
          floor4(lit(1.0) - size(array_distinct(words)).cast("double") / size(words)))
          .otherwise(lit(0.0)).as("dup_word_frac"))
      .join(ng, Seq(idCol), "left")
      .select(col(idCol), col("dup_word_frac"),
        coalesce(floor4(lit(1.0) - col("__dst").cast("double") / col("__tot")), lit(0.0))
          .as("dup_ngram_frac"),
        coalesce(floor4(col("__top").cast("double") / col("__tot")), lit(0.0))
          .as("top_ngram_frac"))
  }

  /** Corpus n-gram language-model count table (the KenLM-ingest shape):
    * corpus-wide n-gram counts, their (n-1)-word context totals, and the
    * floor-4dp conditional probability cnt/ctx_cnt — the artifact a
    * perplexity-based quality scorer trains from. Bounded output: the
    * `topK` most frequent n-grams by (cnt desc, gram).
    *
    * Plan shape: one explode + two map-side-combinable aggs (gram counts,
    * then context totals over the far smaller gram table) + a global
    * top-K window (rank pushdown keeps per-partition state at topK rows).
    * Document text shuffles never — only (gram, cnt) pairs move. */
  def ngramLm(docs: DataFrame, textCol: String, n: Int = 2,
              topK: Int = 1000): DataFrame = {
    require(n >= 2, s"n must be >= 2 (contexts are n-1 words), got $n")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .withColumn("ctx", substring_index(col("gram"), " ", n - 1))
    // Context totals as a window over the (small) gram table — ONE pass;
    // a groupBy+join would plant the explode+agg subtree under two
    // branches and evaluate the corpus scan twice.
    val w = Window.orderBy(col("cnt").desc, col("gram"))
    grams
      .withColumn("ctx_cnt", sum(col("cnt")).over(Window.partitionBy(col("ctx"))))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("gram"), col("ctx"), col("cnt"), col("ctx_cnt"),
        floor4(col("cnt").cast("double") / col("ctx_cnt")).as("cond_p"),
        col("rank"))
  }

  /** Per-document coverage against an [[ngramLm]] count table — the
    * scoring half of the LM workflow (counts table → per-doc quality
    * signal): how much of a document's n-gram mass the corpus LM has seen.
    * A perplexity PROXY that stays engine-portable: true log-prob sums
    * hit libm `log` rounding differences across engines, so the score is
    * built from exact pieces only — integer gram/match counts, an integer
    * frequency-weighted hit mass, and ONE floored division at the end
    * (IEEE division is correctly rounded, so both engines truncate the
    * same 4dp value). Low `coverage` ≈ high OOV rate ≈ far from the
    * corpus distribution — the usual keep/drop signal.
    *
    * Output: (id, n_grams, n_known, hit_weight, coverage) — one row per
    * document, zero-filled for docs shorter than `n` words.
    *
    * Scale: `lm` is a top-K table (≤ topK rows) and is broadcast — the
    * corpus never shuffles to meet it; grams explode map-side from the
    * text (`explode_outer` keeps short docs without a restore join);
    * the per-doc agg combines partially map-side, so the one exchange
    * carries (id, three longs) per document, never text. */
  def lmCoverage(docs: DataFrame, lm: DataFrame, idCol: String,
                 textCol: String, n: Int = 2): DataFrame = {
    require(n >= 2, s"n must be >= 2 to match ngramLm grams, got $n")
    docs.select(col(idCol), explode_outer(Dedup.shingles(col(textCol), n)).as("gram"))
      .join(broadcast(lm.select(col("gram"), col("cnt"))), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gram")).as("n_grams"), count(col("cnt")).as("n_known"),
        coalesce(sum(col("cnt")), lit(0L)).cast("long").as("hit_weight"))
      .withColumn("coverage", when(col("n_grams") > 0,
        floor4(col("n_known").cast("double") / col("n_grams"))).otherwise(lit(0.0)))
  }

  /** CCNet-style coverage bucketing (Wenzek et al. 2020): split each
    * language's documents into head / middle / tail by how well a
    * reference LM covers them — CCNet cuts on per-language perplexity
    * terciles; the portable analogue here cuts on [[lmCoverage]] (higher
    * coverage = more in-domain = head), per `groupCol`, at the exact
    * `pLow`/`pHigh` percentiles. Per-GROUP thresholds are the point: a
    * corpus-wide bar would grade low-resourced languages against the
    * dominant one's distribution. Output: one row per document,
    * (id, group, coverage, th_low, th_high, bucket).
    *
    * Scale: the LM is broadcast and coverage aggregates (id, counts) only
    * — text never shuffles ([[lmCoverage]]'s plan); the threshold table
    * is two doubles per group (languages — tens) broadcast back, so the
    * scored corpus is never re-shuffled. `exact = false` swaps in the
    * approx_percentile sketch (mergeable, bounded state) for corpus
    * scale; the exact default is the oracle-able twin. */
  def coverageBuckets(docs: DataFrame, lm: DataFrame, idCol: String,
                      textCol: String, groupCol: String, n: Int = 2,
                      pLow: Double = 0.33, pHigh: Double = 0.67,
                      exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(pLow > 0 && pLow < pHigh && pHigh < 1,
      s"need 0 < pLow < pHigh < 1, got pLow=$pLow pHigh=$pHigh")
    val cov = lmCoverage(docs, lm, idCol, textCol, n)
      .select(col(idCol), col("coverage"))
    val grouped = cov.join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
    def fn(p: Double) = if (exact) s"percentile(coverage, $p)"
                        else s"approx_percentile(coverage, $p, $accuracy)"
    val th = grouped.groupBy(col(groupCol)).agg(
      expr(fn(pLow)).cast("double").as("th_low"),
      expr(fn(pHigh)).cast("double").as("th_high"))
    grouped.join(broadcast(th), Seq(groupCol))
      .withColumn("bucket",
        when(col("coverage") >= col("th_high"), lit("head"))
          .when(col("coverage") >= col("th_low"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(groupCol), col("coverage"),
        col("th_low"), col("th_high"), col("bucket"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each document scored by
    * how much more its n-gram mass resembles a TARGET domain's LM than
    * the BACKGROUND corpus's — the select-data-like-the-target signal a
    * domain-adaptation pipeline resamples by. DSIR's log-likelihood
    * ratio is not engine-portable (libm `log` rounding differs), so the
    * weight is the raw frequency-mass ratio built from exact pieces:
    * integer hit masses against both [[ngramLm]] tables, add-one
    * smoothing on each side, ONE correctly-rounded IEEE division, 6dp
    * floor. Rank order matches the log form (log is monotone); a
    * resampler thresholds or samples ∝ weight either way.
    *
    * Output: (id, n_grams, target_mass, background_mass, weight) — one
    * row per document; docs shorter than `n` words carry zero masses and
    * weight 1.0 (= the smoothed neutral ratio).
    *
    * Scale: both LM tables are top-K (≤ topK rows each) and broadcast;
    * grams explode map-side from the text and meet both LMs before the
    * single per-doc aggregation exchange, which carries (id, three
    * longs) per document — the corpus text never shuffles, exactly
    * [[lmCoverage]]'s plan with a second broadcast hash join in the
    * same stage. */
  def dsirWeight(docs: DataFrame, targetLm: DataFrame, backgroundLm: DataFrame,
                 idCol: String, textCol: String, n: Int = 2): DataFrame = {
    require(n >= 2, s"n must be >= 2 to match ngramLm grams, got $n")
    docs.select(col(idCol), explode_outer(Dedup.shingles(col(textCol), n)).as("gram"))
      .join(broadcast(targetLm.select(col("gram"), col("cnt").as("t_cnt"))),
        Seq("gram"), "left")
      .join(broadcast(backgroundLm.select(col("gram"), col("cnt").as("b_cnt"))),
        Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("gram")).as("n_grams"),
        coalesce(sum(col("t_cnt")), lit(0L)).cast("long").as("target_mass"),
        coalesce(sum(col("b_cnt")), lit(0L)).cast("long").as("background_mass"))
      .withColumn("weight", floor6(
        (col("target_mass") + lit(1L)).cast("double") / (col("background_mass") + lit(1L))))
  }

  /** Corpus vocabulary-coverage table — the tokenizer-training precursor:
    * the `topK` most frequent whitespace tokens with their exact counts,
    * frequency rank, cumulative count, and floor-6dp cumulative share of
    * all token occurrences — the "how many vocab entries cover X% of the
    * corpus" artifact a BPE/unigram trainer sizes its vocabulary from.
    * Deterministic: rank ties break on the term string; `cum_cnt` is an
    * exact BIGINT prefix sum, and `cum_share` is one floored division of
    * exact integers, so any engine reproduces every row.
    *
    * Plan shape: one explode + map-side-combinable count aggregation
    * (vocab-sized output — text never shuffles, only (term, cnt) pairs
    * move); global top-K via row_number rank pushdown (per-partition
    * state ≤ topK rows); the cumulative window then runs over the K
    * survivors only, so its single partition is bounded by topK at any
    * corpus size. The corpus-total rides along as a broadcast 1-row
    * aggregate of the term table — no driver-side action (the term-count
    * subtree feeds two branches, like [[tfidfTopK]]'s corpus scan; cache
    * upstream if that second evaluation matters). */
  def vocabCoverage(docs: DataFrame, textCol: String, topK: Int = 1000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = terms.agg(sum(col("cnt")).cast("long").as("__total"))
    val rw = Window.orderBy(col("cnt").desc, col("term"))
    val cw = Window.orderBy(col("rank")).rowsBetween(Window.unboundedPreceding, 0)
    terms.withColumn("rank", row_number().over(rw)).filter(col("rank") <= topK)
      .crossJoin(broadcast(total))
      .withColumn("cum_cnt", sum(col("cnt")).over(cw).cast("long"))
      .select(col("term"), col("cnt"), col("rank"), col("cum_cnt"),
        floor6(col("cum_cnt").cast("double") / col("__total")).as("cum_share"))
  }

  /** Per-document lexical-diversity stats — the "compressibility" quality
    * signal (low diversity = a few tokens repeated = boilerplate / keyword
    * stuffing). Shannon entropy is the textbook form, but a cross-engine
    * entropy is a libm trap (Σ tf·ln(tf) accumulates per-engine `log`
    * rounding — the same reason [[ngramLm]] scores coverage, not
    * log-prob). These three carry the same signal in EXACT arithmetic:
    *   - `ttr`      type-token ratio  n_unique / n_words;
    *   - `simpson`  Simpson diversity 1 − Σ tf² / n² (the collision
    *                probability complement — entropy's exact-arithmetic
    *                sibling, = 2nd-order Rényi modulo a log);
    *   - `top_share` max tf / n — dominance of the single most repeated
    *                token (the keyword-stuffing tell).
    * Each is integer sums + ONE IEEE division (+ floor-4dp display
    * truncation), so every engine reproduces them bit-for-bit.
    *
    * Scale shape: explode + two hash aggregations keyed by (doc, word)
    * then (doc). The exchange carries (id, word, count) — never the full
    * text — and partial aggregation collapses repeated words map-side.
    * The alternative (per-row higher-order-function counting) is
    * O(words²) per document — fine at 300 words, fatal on a 1M-word
    * document; the aggregate form is O(words) regardless. */
  def wordDiversity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_words"),
        count(lit(1)).as("n_unique"),
        sum(col("tf") * col("tf")).as("__sq"),
        max(col("tf")).as("__top"))
      .select(col(idCol), col("n_words"), col("n_unique"),
        floor4(col("n_unique").cast("double") / col("n_words")).as("ttr"),
        floor4(lit(1.0) - col("__sq").cast("double") /
          (col("n_words") * col("n_words"))).as("simpson"),
        floor4(col("__top").cast("double") / col("n_words")).as("top_share"))
  }

  /** Gopher-style document quality flags (Rae et al. 2021 §A1.1): word
    * count bounds, mean word length band, symbol-to-char ratio, bullet /
    * ellipsis line ratios, alphabetic-word fraction, and the combined
    * `passes` verdict. Everything is one codegen'd projection per document
    * — array folds and regexes, no shuffle, no UDF — so the filter runs at
    * scan speed on any corpus. The reported ratios are floor-truncated to
    * 4dp; the pass/fail comparisons use the UNtruncated doubles (both
    * engines compute identical IEEE doubles from identical integer
    * counts, so the verdict is engine-portable too). */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = tokens(t)
    val nWords = size(words).cast("long")
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nWords)
      .otherwise(lit(0.0))
    val nChars = greatest(length(t), lit(1)).cast("double")
    // Symbol chars per Gopher: '#', the Unicode ellipsis '…', AND the ASCII
    // three-dot '...' (counted as 3 chars per non-overlapping match — both
    // Java and RE2 regex scan left-to-right non-overlapping, so the count
    // is engine-portable).
    val symRatio = (length(t) - length(regexp_replace(t, "[#…]", "")) +
      size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0))) * 3).cast("double") / nChars
    // Split on \r?\n, not bare \n: Java-regex `$` matches before a
    // trailing \r (line terminator) while RE2/DuckDB's does not, so a
    // CRLF corpus would make ellipsis_ratio engine-divergent if the \r
    // stayed on the line (trim() strips spaces, not \r).
    val lines = split(t, "\\r?\\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletRatio = size(filter(lines, l => trim(l).rlike("^[-*•]")))
      .cast("double") / nLines
    val ellipsisRatio = size(filter(lines, l => trim(l).rlike("\\.\\.\\.$")))
      .cast("double") / nLines
    val alphaFrac = when(nWords > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
      .otherwise(lit(0.0))
    docs.select(col(idCol),
      nWords.as("n_words"),
      floor4(meanLen).as("mean_word_len"),
      floor4(symRatio).as("symbol_ratio"),
      floor4(bulletRatio).as("bullet_ratio"),
      floor4(ellipsisRatio).as("ellipsis_ratio"),
      floor4(alphaFrac).as("alpha_word_frac"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio < 0.1 && bulletRatio <= 0.9 && ellipsisRatio <= 0.3 &&
        alphaFrac >= 0.8).as("passes"))
  }

  /** Heaps'-law vocabulary growth: V(N) = distinct words among the first N
    * tokens of the corpus read in (doc_id, in-doc position) order — the
    * sublinear vocab-vs-corpus curve that sizes tokenizer vocabularies and
    * detects template-flooded corpora (flat curve = low lexical novelty).
    * Exact integers; output one (n_tokens, vocab) row per checkpoint.
    *
    * Scale shape: global token positions come from PER-DOC offsets — a
    * running sum windowed over the |docs|-row count table (the only
    * single-partition step; doc counts, never tokens, cross it) added to
    * the in-doc position, so the token stream itself never needs a global
    * sort. First-occurrence is a hash aggregate on the word; the
    * checkpoint histogram explodes |vocab| × |checkpoints| tiny rows. */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.forall(_ >= 1),
      s"checkpoints must be >= 1, got $checkpoints")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(col(idCol).as("__id"),
      size(tokens(col(textCol))).cast("long").as("__n"))
    val offsets = counts.withColumn("__off",
      coalesce(sum(col("__n")).over(
        Window.orderBy(col("__id")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val pos = docs
      .select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__p", "__w")))
      .join(offsets.select(col("__id"), col("__off")), Seq("__id"))
      .select(col("__w"), (col("__off") + col("__p") + 1).as("__pos"))
    val first = pos.groupBy(col("__w")).agg(min(col("__pos")).as("__fp"))
    first.select(explode(array(checkpoints.map(lit(_)): _*)).as("n_tokens"), col("__fp"))
      .filter(col("__fp") <= col("n_tokens"))
      .groupBy(col("n_tokens")).agg(count(lit(1)).as("vocab"))
  }

  /** Deterministic WordPiece-style vocabulary: every substring of length
    * 1..`maxPieceLen` of the corpus's words whose occurrence-weighted
    * count reaches `minCount`, plus ALL single characters — full
    * coverage, so greedy matching can never dead-end. A pure function
    * of the corpus (no EM, no random init), like every learner in this
    * engine. Returns (piece, plen). One explode + one hash aggregate:
    * substring fan-out is |word|·maxPieceLen per DISTINCT word. */
  def wordpieceVocab(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                     minCount: Long = 100): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("k"))
    val pieces = words
      .select(col("w"), col("k"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("k"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("k"))
    pieces.groupBy("piece").agg(sum(col("k")).as("n"))
      .filter(col("n") >= minCount || length(col("piece")) === 1)
      .select(col("piece"), length(col("piece")).as("plen"))
  }

  /** Greedy longest-match subword segmentation — WordPiece/BERT
    * INFERENCE (at each position take the longest vocab piece that
    * matches, advance, repeat): the other mainstream subword family
    * next to the BPE pair ([[bpeLearn]]/[[bpeApply]]). Deterministic:
    * at most ONE vocab piece of each length can match a position (the
    * substring IS the piece), so longest-first needs no further
    * tie-break. Returns per-document (id, n_words, n_wp_tokens).
    *
    * Plan shape: the greedy loop advances over DISTINCT words only
    * (Heaps-law small next to the corpus) with the vocab broadcast —
    * `maxSteps` rounds of one join + one per-(word, pos) top-1 window
    * over shrinking state; per-doc counts then join back by word, the
    * same distinct-word factoring as [[bpeApply]]. A word needing more
    * than `maxSteps` pieces fails LOUDLY (single-char coverage
    * guarantees ≥ 1 advance per round, so maxSteps ≥ the longest word
    * always suffices). */
  def wordpieceCount(docs: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame, maxSteps: Int = 16): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    val spark = docs.sparkSession
    import spark.implicits._
    // The vocab broadcasts by DESIGN — it is a tokenizer vocabulary
    // (tens of thousands of pieces in real deployments, kilobytes here),
    // and greedy matching is per-character variable-advance work: the
    // codec-tier justification for an imperative per-row loop, not an
    // Expression dodge. (A first cut as maxSteps unrolled DataFrame
    // rounds was semantically identical and 6 s/gate — ALL Catalyst
    // planning over a 31-row word set.)
    val vocabRows = vocab.select(col("piece"),
      length(col("piece")).cast("int").as("__l")).as[(String, Int)].collect()
    val maxLen = vocabRows.map(_._2).max
    val vset = spark.sparkContext.broadcast(vocabRows.map(_._1).toSet)
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    val segs = words.select(col("w")).distinct().as[String].mapPartitions { it =>
      val v = vset.value
      it.map { w =>
        var pos = 0; var toks = 0L; var steps = 0
        while (pos < w.length) {
          steps += 1
          require(steps <= maxSteps,
            s"wordpieceCount: '$w' needs more than $maxSteps pieces — raise maxSteps")
          var l = math.min(maxLen, w.length - pos)
          while (l > 0 && !v.contains(w.substring(pos, pos + l))) l -= 1
          // A coverage hole (impossible under [[wordpieceVocab]]'s
          // single-char guarantee, possible with a caller-supplied
          // vocab) fails loudly instead of silently dropping the word.
          require(l > 0,
            s"wordpieceCount: no vocab piece matches '$w' at offset $pos — coverage hole")
          pos += l; toks += 1
        }
        (w, toks)
      }
    }.toDF("w", "toks")
    words.join(segs, "w")
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("toks")).as("n_wp_tokens"))
  }

  /** Deterministic unigram-LM vocabulary — the SentencePiece inventory
    * shape (Kudo 2018) priced without floating point: the same substring
    * inventory as [[wordpieceVocab]] (every 1..`maxPieceLen` substring
    * with ≥ `minCount` weighted occurrences, plus ALL single characters
    * so Viterbi can never dead-end), each carrying
    * `cost_micro = (64 − bitlength(n)) · 1000` — an integer ⌊log₂⌋
    * surrogate for −log p(piece) that this engine (`length(bin(n))`)
    * and the SQL oracle compute bit-identically, where a libm `ln`
    * could drift in the last ulp and flip a floor. Frequent pieces are
    * cheap, rare ones dear, and the spread (1 bit ≈ 1000 micro) is what
    * the segmenter's argmin consumes. Returns (piece, cost_micro).
    * Plan shape: identical to [[wordpieceVocab]] — one explode over
    * DISTINCT words, one hash aggregate. */
  def unigramVocab(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
                   minCount: Long = 100): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("k"))
    val pieces = words
      .select(col("w"), col("k"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("k"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("k"))
    pieces.groupBy("piece").agg(sum(col("k")).as("n"))
      .filter(col("n") >= minCount || length(col("piece")) === 1)
      .select(col("piece"),
        ((lit(64) - length(bin(col("n")))) * lit(1000L)).cast("long")
          .as("cost_micro"))
  }

  /** Unigram-LM Viterbi segmentation — SentencePiece INFERENCE, the
    * third production tokenizer family next to the BPE merge loop
    * ([[bpeApply]]) and WordPiece greedy matching ([[wordpieceCount]]):
    * each word takes the segmentation minimizing total piece cost, ties
    * broken toward fewer pieces. The objective is one packed integer —
    * a piece contributes `cost_micro·64 + 1`, so `min(key)` IS the
    * lexicographic min of (total cost, piece count) and a recursive-CTE
    * DP in the oracle reproduces it exactly (word length is required
    * < 64 so the piece count never carries into the cost digits).
    * Returns per-document (id, n_words, n_pieces, cost_micro).
    *
    * Plan shape: Viterbi is per-character DP state — the codec-tier
    * justification for an imperative loop, run via mapPartitions over
    * DISTINCT words only (Heaps-law small next to the corpus) with the
    * broadcast vocab, the same factoring as [[wordpieceCount]]; per-doc
    * counts join back by word. A coverage hole (impossible under
    * [[unigramVocab]]'s single-char guarantee) fails loudly. */
  def unigramSegment(docs: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabRows = vocab.select(col("piece"), col("cost_micro").cast("long"))
      .as[(String, Long)].collect()
    require(vocabRows.nonEmpty, "unigramSegment: empty vocab")
    val maxLen = vocabRows.map(_._1.length).max
    val vmap = spark.sparkContext.broadcast(vocabRows.toMap)
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    val segs = words.select(col("w")).distinct().as[String].mapPartitions { it =>
      val v = vmap.value
      it.map { w =>
        val n = w.length
        require(n < 64,
          s"unigramSegment: '$w' is ≥ 64 chars — outside the key-packing bound")
        val best = Array.fill(n + 1)(Long.MaxValue)
        best(0) = 0L
        var i = 1
        while (i <= n) {
          val lMax = math.min(maxLen, i)
          var l = 1
          while (l <= lMax) {
            if (best(i - l) != Long.MaxValue) {
              val c = v.getOrElse(w.substring(i - l, i), Long.MinValue)
              if (c != Long.MinValue) {
                val cand = best(i - l) + c * 64L + 1L
                if (cand < best(i)) best(i) = cand
              }
            }
            l += 1
          }
          i += 1
        }
        require(best(n) != Long.MaxValue,
          s"unigramSegment: no vocab cover for '$w' — coverage hole")
        (w, best(n) % 64L, best(n) / 64L)
      }
    }.toDF("w", "toks", "cost")
    words.join(segs, "w")
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("toks")).as("n_pieces"),
        sum(col("k") * col("cost")).as("cost_micro"))
  }

  /** Collocation mining (the word2phrase pass that turns "new york" into
    * one token before embedding training): consecutive-token bigrams
    * scored by lift = P(xy) / (P(x)·P(y)) = cnt(xy)·N / (cnt(x)·cnt(y))
    * in floor-micro units — the exact-integer surrogate for PMI (PMI is
    * its log, and log is a libm trap; the RANKING is identical because
    * log is monotone). Bigrams with cnt ≥ `minCount` only, top `k` by
    * (lift, count, bigram) — a fully deterministic order.
    *
    * Plan: bigrams come from zipping each token array with its own tail
    * (pure per-row array ops, no explode-then-window); one hash
    * aggregate for bigram counts, one for unigram counts, the N
    * aggregate broadcast; the |bigrams|-row table joins the |vocab|-row
    * table twice. Only the top-k limit is a single-partition sort, over
    * ≥`minCount` survivors — vocabulary-sized, never corpus-sized. */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   k: Int = 50): DataFrame = {
    require(k >= 1, s"collocations needs k >= 1, got $k")
    val toks = docs.select(tokens(col(textCol)).as("w"))
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("n_total"))
    bigrams
      .withColumn("word", split(col("bigram"), " ").getItem(0))
      .join(uni.withColumnRenamed("n", "n_x"), Seq("word")).drop("word")
      .withColumn("word", split(col("bigram"), " ").getItem(1))
      .join(uni.withColumnRenamed("n", "n_y"), Seq("word")).drop("word")
      .crossJoin(broadcast(total))
      // doubles for the products: n_xy·N can pass int64 at corpus scale,
      // and the IEEE multiply/divide/floor is engine-identical.
      .select(col("bigram"), col("n_xy"), col("n_x"), col("n_y"),
        floor(lit(1000000d) * col("n_xy").cast("double") * col("n_total").cast("double")
          / (col("n_x").cast("double") * col("n_y").cast("double")))
          .cast("long").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("n_xy").desc, col("bigram"))
      .limit(k)
  }

  /** Flesch reading ease per document, with a deterministic syllable
    * surrogate (maximal vowel-group runs per word — the standard
    * dictionary-free approximation) and sentence count from
    * `[.!?]+` runs: score_micro = 206 835 000 − ⌊1 015 000·W/S⌋ −
    * ⌊84 600 000·Y/W⌋. A quality-scoring signal next to
    * [[gopherQuality]] (which gates on FORM — lengths and symbol
    * ratios — where this gates on sentence/word complexity).
    * Documents with no words are dropped (the score is undefined, and
    * emitting a sentinel would poison downstream percentile cuts).
    * Single-pass codegen'd column arithmetic — no shuffle, no UDF. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = tokens(col(textCol))
    val nWords = size(words).cast("long")
    val nSents = greatest(
      size(filter(split(col(textCol), "[.!?]+"), s => trim(s) =!= lit(""))),
      lit(1)).cast("long")
    val nSyll = aggregate(words, lit(0L),
      (acc, w) => acc + size(filter(
        split(regexp_replace(lower(w), "[^aeiouy]+", " "), " "),
        s => s =!= lit(""))).cast("long"))
    docs.select(col(idCol), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_micro",
        lit(206835000L)
          - floor(lit(1015000d) * col("n_words") / col("n_sents")).cast("long")
          - floor(lit(84600000d) * col("n_syllables") / col("n_words")).cast("long"))
  }

  /** χ² term–class association (the classic feature-selection statistic):
    * for each observed (term, class) pair over DOCUMENT frequencies —
    * a = class docs containing the term, b = other-class docs containing
    * it, c = class docs without it, d = the rest —
    * χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)), emitted in micro units
    * with the [[collocations]] float convention (counts stay exact
    * int64; the statistic's products pass 2⁶³ at corpus scale, so they
    * run in IEEE doubles whose multiply/divide/floor are
    * engine-identical). Top `k` per class by (χ² desc, term asc).
    *
    * Plan: one explode over per-doc DISTINCT terms (set semantics — a
    * term repeated in a doc counts once), two map-side-combinable
    * aggregates (term×class and term), one broadcast class-size table.
    * The grid is the OBSERVED sparse one (a ≥ 1): absent pairs are
    * negative associations that surface through the other classes'
    * rows, and materializing |vocab|×|classes| zeros would be the
    * scale-killer. */
  def chi2Terms(docs: DataFrame, idCol: String, textCol: String,
                classCol: String, minDf: Long = 5, k: Int = 10): DataFrame = {
    require(k >= 1, s"chi2Terms needs k >= 1, got $k")
    val dt = docs.select(col(classCol).as("cls"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
    val a = dt.groupBy(col("term"), col("cls")).agg(count(lit(1)).as("a"))
    val df = a.groupBy(col("term")).agg(sum(col("a")).as("df"))
      .filter(col("df") >= minDf)
    // a term in EVERY doc (or a single-class corpus) zeroes the χ²
    // denominator — no signal either way; drop rather than divide.
    val clsN = docs.groupBy(col(classCol).as("cls")).agg(count(lit(1)).as("n_cls"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val grid = a.join(df, Seq("term"))
      .join(broadcast(clsN), Seq("cls"))
      .crossJoin(broadcast(total))
      .filter(col("df") < col("n_docs") && col("n_cls") < col("n_docs"))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_cls") - col("a"))
      .withColumn("d", col("n_docs") - col("n_cls") - col("b"))
    val ad = col("a").cast("double") * col("d").cast("double")
    val bc = col("b").cast("double") * col("c").cast("double")
    val den = col("df").cast("double") *
      (col("n_docs") - col("df")).cast("double") *
      col("n_cls").cast("double") *
      (col("n_docs") - col("n_cls")).cast("double")
    val scored = grid.select(col("cls"), col("term"),
      col("a"), col("b"), col("c"), col("d"),
      floor(lit(1000000d) * col("n_docs").cast("double") * (ad - bc) * (ad - bc) / den)
        .cast("long").as("chi2_micro"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cls"))
      .orderBy(col("chi2_micro").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }

  /** Per-document bigram-LM log-probability — the perplexity-filtering
    * quality signal (docs a corpus-trained LM finds surprising are noise
    * or novelty; both get flagged before pretraining). Add-one smoothed:
    * p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁) + V); each bigram contributes
    * ⌊10⁶·ln p⌋ (the t_bm25 ln-parity convention: the argument is one
    * IEEE divide of exact integers, so both engines floor the same
    * double) and the doc's score is the exact integer sum. Returns
    * (id, n_bigrams, logprob_micro) for every doc; docs with < 2 words
    * score (0, 0) rather than vanishing — a percentile cut downstream
    * needs the row.
    *
    * Plan: one corpus-sized bigram explode feeding two map-side-
    * combinable count tables (bigram, unigram — both vocabulary²-bounded,
    * sublinear in corpus size), V as a broadcast 1-row aggregate (no
    * driver round-trip), one join per table, one per-doc aggregate. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__w"))
    val grams = toks.select(col(idCol),
        explode(zip_with(
          slice(col("__w"), lit(1), greatest(size(col("__w")) - 1, lit(0))),
          slice(col("__w"), lit(2), greatest(size(col("__w")) - 1, lit(0))),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("g"))
      .select(col(idCol), col("g.w1"), col("g.w2"))
    val c2 = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = toks.select(explode(col("__w")).as("w1"))
    val c1 = uni.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vsz = c1.agg(count(lit(1)).as("vsz"))
    val scored = grams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vsz))
      .select(col(idCol),
        floor(log((col("c2") + lit(1L)).cast("double")
          / (col("c1") + col("vsz")).cast("double")) * lit(1000000d))
          .cast("long").as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("logprob_micro"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }

  /** Zipf rank–frequency slope: the least-squares fit of ln(freq) on
    * ln(rank) over the top `r` vocabulary ranks — the corpus power-law
    * diagnostic (natural text sits near −1; templated/boilerplate
    * corpora drift shallow). Kept rational end-to-end: x = ⌊10³·ln rank⌋
    * and y = ⌊10³·ln freq⌋ (milli, not micro — the regression products
    * n·Σxy and Σx·Σy must stay inside int64, which bounds the unit;
    * ln-parity per the t_bm25 convention), then
    * slope_milli = ⌊10³·(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)⌋ with
    * truncation-toward-zero spelled explicitly (slopes are negative).
    * Returns ONE row: (n_ranks, sxy_num, sxx_den, slope_milli).
    *
    * Plan: one map-side-combinable vocab count, a TakeOrdered top-`r`
    * (freq desc, word — deterministic through ties), one ≤r-row window
    * for ranks, one aggregate. The fit window `r` caps every sum, so
    * corpus size only enters through the word count. */
  def zipfSlope(docs: DataFrame, textCol: String, r: Int = 1000): DataFrame = {
    require(r >= 3, s"zipfSlope needs r >= 3, got $r")
    import org.apache.spark.sql.expressions.Window
    val freqs = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(r)
    val w = Window.orderBy(col("freq").desc, col("word"))
    val xy = freqs.withColumn("rank", row_number().over(w).cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * lit(1000d)).cast("long").as("x"),
        floor(log(col("freq").cast("double")) * lit(1000d)).cast("long").as("y"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_ranks"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("sxy_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("sxx_den"))
      .withColumn("slope_milli",
        when(col("sxx_den") === 0, lit(0L))
          .when(col("sxy_num") >= 0, expr("sxy_num * 1000L div sxx_den"))
          .otherwise(-expr("(-sxy_num) * 1000L div sxx_den")))
  }

  /** TextRank keyword extraction: PageRank over the word co-occurrence
    * graph (adjacent-token pairs, undirected, deduplicated; pairs seen
    * fewer than `minCount` times are noise-cut before symmetrizing).
    * Runs [[graft.graph.GraphXBridge.pageRankFixed]]'s integer
    * fixed-point arithmetic (rank·10⁶, per step
    * next = 150000 + 17·Σ(contrib div outdeg) div 20) so the ranks are
    * bit-identical across engines, then keeps the top `k` words by
    * (rank desc, word asc) — a TakeOrdered, not a global sort.
    *
    * Scale: vertices = vocabulary, edges = distinct co-occurring pairs —
    * both sublinear in corpus size (Heaps' law), so the rank iterations
    * run on a graph orders of magnitude smaller than the corpus; the
    * one corpus-sized pass is the bigram count, map-side combined. */
  def textrankKeywords(docs: DataFrame, textCol: String, iters: Int = 3,
                       minCount: Long = 2, k: Int = 50): DataFrame = {
    require(k >= 1, s"textrankKeywords needs k >= 1, got $k")
    val toks = docs.select(tokens(col(textCol)).as("w"))
    val pairs = toks
      .select(explode(zip_with(
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (x, y) => struct(x.as("src"), y.as("dst")))).as("p"))
      .select(col("p.src"), col("p.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount && col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val und = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst")))
    graft.graph.GraphXBridge.pageRankFixed(und, iters)
      .select(col("id").as("word"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word"))
      .limit(k)
  }
}
