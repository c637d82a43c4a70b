package graft.operators

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long

/** Engine-portable sketches. Spark's built-in approximations
  * (`approx_count_distinct` = HyperLogLog++) are fast but their results
  * depend on the engine's internal hash and register layout, so no other
  * system can reproduce them bit-for-bit. The sketches here trade a
  * little speed for determinism: they hash through md5 (see
  * [[graft.functions.Hashing]]) and use only order statistics + integer /
  * IEEE-double arithmetic, so any engine with md5 gets identical output —
  * the property the driver's DuckDB oracle (and any cross-system
  * validation pipeline) needs.
  */
object Sketch {

  /** Hash space size of [[md5Long]]: 2^60. (k-1)·M is exact in a double
    * whenever k-1 has ≤ 53 significant bits (63 has 6), so the estimator
    * below stays bit-deterministic for any practical k. */
  private val M: Double = math.pow(2, 60)

  /** The KMV estimate from a set of ≤ k smallest distinct hashes. Shared
    * by the Aggregator and declarative paths so both are bit-identical. */
  private def estimate(k: Int, nSeen: Int, hk: Long): Long =
    if (nSeen < k) nSeen.toLong
    else math.floor((k - 1).toDouble * M / hk.toDouble).toLong

  /** Sorted distinct k-minimum buffer. `vals` is ascending, length ≤ k. */
  case class KMinBuf(vals: Seq[Long])

  /** Typed Aggregator maintaining the k smallest DISTINCT hash values —
    * the scale path for [[kmvDistinct]]: partial aggregation keeps at most
    * k longs per (group, partition), so the exchange carries O(groups · k)
    * regardless of input size, and merge order cannot change the result
    * (the k-min set is order-independent). */
  class KMinDistinct(k: Int) extends Aggregator[Long, KMinBuf, Long] {
    override def zero: KMinBuf = KMinBuf(Vector.empty)

    override def reduce(b: KMinBuf, h: Long): KMinBuf = {
      val v = b.vals
      if (v.length >= k && h >= v.last) b // beyond the k-th min: irrelevant
      else {
        val i = insertionPoint(v, h)
        if (i < v.length && v(i) == h) b // duplicate hash: KMV is over distinct
        else {
          val grown = (v.take(i) :+ h) ++ v.drop(i)
          KMinBuf(if (grown.length > k) grown.take(k) else grown)
        }
      }
    }

    override def merge(a: KMinBuf, b: KMinBuf): KMinBuf =
      KMinBuf((a.vals ++ b.vals).distinct.sorted.take(k))

    override def finish(b: KMinBuf): Long =
      estimate(k, b.vals.length, if (b.vals.length < k) 0L else b.vals.last)

    override def bufferEncoder: Encoder[KMinBuf] = Encoders.product[KMinBuf]
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong

    private def insertionPoint(v: Seq[Long], h: Long): Int = {
      var lo = 0; var hi = v.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (v(mid) < h) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Order-insensitive, multiplicity-aware checksum of the named columns:
    * XOR of md5 hashes of (row-hash, occurrence-count) pairs. Any engine
    * with md5 computes the identical value (XOR has no overflow and no
    * ordering, unlike a sum), so two copies of a table — Spark vs DuckDB,
    * before vs after a migration, two cluster sizes — compare with one
    * number each. Three aliasing traps are closed by construction:
    *   - each column is hashed to a decimal token BEFORE joining, so a
    *     value containing the separator cannot shift across columns
    *     (("a|b","c") vs ("a","b|c"));
    *   - NULL becomes the token "null", which no hash can produce —
    *     distinct from every real value including "";
    *   - XOR runs over DISTINCT (row-hash, count) pairs, so rows repeated
    *     an even number of times cannot cancel out ({R,R,S} ≠ {S}).
    * One groupBy on the row hash + a global XOR — two exchanges, tiny
    * state, no row data past the first projection. */
  def rowChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "rowChecksum needs at least one column")
    val tokens = cols.map(c => coalesce(md5Long(col(c)).cast("string"), lit("null")))
    df.select(md5Long(concat_ws("|", tokens: _*)).as("__rh"))
      .groupBy(col("__rh")).agg(count(lit(1)).as("__cnt"))
      .agg(bit_xor(md5Long(
        concat(col("__rh").cast("string"), lit(":"), col("__cnt").cast("string"))))
        .as("checksum"))
  }

  /** Count-min-sketch heavy hitters: keys whose CMS count estimate meets
    * `threshold`, with the exact count joined in so the sketch's
    * one-sided error (est >= exact, always) is visible in the output.
    *
    * The sketch is `depth` hash rows of `width` counters; a key's
    * estimate is the MIN of its `depth` counter cells. All hashing is
    * seeded md5 (`key|cms|row`), so the entire sketch — cell layout,
    * collisions, estimates — reproduces bit-for-bit in any engine with
    * md5: unusually for a sketch, this one takes a full hash oracle, not
    * a rows-only check.
    *
    * Scale shape (the reason a 100 TB pipeline carries a CMS at all):
    *   - BUILD: one groupBy on (row, cell). Partial aggregation collapses
    *     each task's contribution to <= depth x width cells map-side, so
    *     the exchange carries O(tasks x depth x width) longs no matter how
    *     many key occurrences stream through — the input itself never
    *     re-shuffles, and the finished sketch is depth x width rows
    *     (a few KB) that broadcast anywhere.
    *   - PROBE: candidate keys join the broadcast sketch (no exchange of
    *     the sketch) and take min over their depth cells. Here the probe
    *     set is the input's distinct keys (the eval wants every heavy
    *     hitter surfaced); in production the probe is whatever watchlist /
    *     query set you care about — the sketch answers any of them without
    *     touching the raw data again.
    *   - EXACT: counted only for the few keys the sketch already flagged
    *     (filter on a broadcast candidate list, then count) — the full
    *     per-key exact aggregation the sketch exists to avoid never runs
    *     over the whole key space.
    */
  /** The CMS cell coordinates of every input row: (key, r, b) for r in
    * 0..depth-1. Kirsch–Mitzenmacher double hashing — ONE md5 per key
    * occurrence (projected BEFORE the depth explode, so codegen evaluates
    * it once, not per row), the depth cells derived as (h1 + r·h2) mod
    * width with h1/h2 split from the 60-bit hash (h2 forced odd).
    * Independent-enough for CMS guarantees (K–M 2006), 1/depth the
    * string-hash work of salting md5 per row, and exactly reproducible in
    * any engine with md5. Shared by the batch sketch ([[countMinHeavy]])
    * and the streaming build (`groupBy(r, b).count` over these cells IS
    * the sketch, batch or micro-batch — counts are algebraic, so
    * Structured Streaming's partial-state aggregation maintains it
    * incrementally). */
  def cmsCells(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, s"need depth/width >= 1, got $depth/$width")
    def cell(r: Column): Column = pmod(
      pmod(col("__h"), lit(1L << 30)) + r * shiftright(col("__h"), 30).bitwiseOR(lit(1L)),
      lit(width.toLong))
    df.select(col(keyCol).cast("string").as("k"), md5Long(col(keyCol).cast("string")).as("__h"))
      .select(col("k"), col("__h"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("k"), col("r"), cell(col("r")).as("b"))
  }

  def countMinHeavy(df: DataFrame, keyCol: String, threshold: Long,
                    depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 1, s"need depth/width >= 1, got $depth/$width")
    // Cut the key projection: BUILD, PROBE, and EXACT each scan it,
    // and the upstream is typically an explode over text (re-tokenizing
    // the corpus 3x). One string column — far smaller than the source.
    val keys = Cuts.cut(df.select(col(keyCol).cast("string").as("k")), eager = false)
    val sketch = cmsCells(keys, "k", depth, width)
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
    val probe = cmsCells(keys.distinct(), "k", depth, width)
    val est = probe.join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("k")).agg(min(col("c")).as("est_count"))
    val cand = est.filter(col("est_count") >= threshold)
    val exact = keys.join(broadcast(cand.select(col("k"))), Seq("k"), "left_semi")
      .groupBy(col("k")).agg(count(lit(1)).as("exact_count"))
    cand.join(exact, Seq("k"))
      .select(col("k").as(keyCol), col("est_count"), col("exact_count"))
  }

  /** [[kmvDistinct]] via the bounded-state [[KMinDistinct]] Aggregator —
    * identical output (same k-min set ⇒ same estimate), but shuffle volume
    * is O(groups · k) instead of all distinct hashes: the form to run at
    * 100 TB. */
  def kmvDistinctAgg(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val kmv = udaf(new KMinDistinct(k), Encoders.scalaLong)
    df.select(col(groupCol), md5Long(col(keyCol)).as("__h"))
      .groupBy(col(groupCol))
      .agg(kmv(col("__h")).as("est_distinct"))
  }

  /** KMV (k-minimum-values) distinct-count estimate per group.
    *
    * The k-th smallest of n uniform hashes on [0, M) sits near k·M/n, so
    * n ≈ (k-1)·M / h₍ₖ₎ (the unbiased KMV estimator). Groups with fewer
    * than k distinct hashes report their exact distinct count — the
    * sketch is only approximate past its memory budget, like any KMV.
    *
    * Scale: the per-group state is the k smallest hashes, never the
    * distinct set. The `(group, hash)` dedup + rank is one exchange on
    * `group`; at 100 TB the dedup's partial aggregation collapses
    * repeats map-side, so the shuffle carries at most the distinct
    * hashes (a true implementation-at-scale would keep a bounded k-heap
    * per partition via an Aggregator; the plan here expresses the same
    * semantics declaratively and lets Tungsten aggregate).
    *
    * Estimator arithmetic is floor((k-1)·2^60 / h₍ₖ₎) computed in IEEE
    * doubles — both factors convert exactly or round identically in any
    * IEEE engine, so results are reproducible bit-for-bit. */
  def kmvDistinct(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val hashed = df.select(col(groupCol).as("grp"), md5Long(col(keyCol)).as("h")).distinct()
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k) // everything past the k-th min is irrelevant
      .groupBy(col("grp"))
      .agg(max(col("rn")).as("n_seen"), max(when(col("rn") === k, col("h"))).as("hk"))
      .select(col("grp").as(groupCol),
        when(col("n_seen") < k, col("n_seen").cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(M) / col("hk").cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** KMV sketch SET ALGEBRA — the reason theta-style sketches exist:
    * distinct counts of A, B, A∪B, and A∩B from two k-minimum-value
    * sketches, WITHOUT touching the raw sets again. The union sketch is
    * the k smallest of the two sketches' union (any hash among the k
    * smallest of A∪B is among the k smallest of its own side, so the two
    * k-min sets suffice); the intersection estimate is the theta-sketch
    * rule est∩ = |S∪ ∩ Sa ∩ Sb| · est∪ / k, computed in integer
    * arithmetic. Everything hashes through md5 and reduces to k-row
    * frames — deterministic, partition-invariant, engine-reproducible.
    * The EXACT four counts ride along in the same output row, making the
    * gate self-evaluating. Scale: each sketch is a global top-k
    * (TakeOrdered — per-partition heaps, no full sort); the set algebra
    * afterwards joins ≤k-row frames. */
  def kmvSetOps(a: DataFrame, b: DataFrame, keyCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    // ONE tagged distinct pass over A ⊎ B (optimization round 17, guide
    // §2.3 aggregate-before-shuffle / §1.2 fewer passes): the old form's
    // eight lazy subtrees (two sketches, four exact counts, the union
    // sketch, the intersect semi-join) each re-scanned their input —
    // measured ~6 source scans per execution on cd7. Here the inputs are
    // scanned once into per-key membership flags (max-combined map-side),
    // and every read-out derives from the ≤|A∪B|-row flag table:
    //   exact_a = Σ inA, exact_b = Σ inB, exact_union = rows,
    //   exact_inter = Σ inA·inB — one aggregate;
    //   sketches = top-k by hash over the flagged slices — TakeOrdered
    //   per-partition heaps, never a sort.
    // The flag table is a LAZY cut: the gate's single action
    // materializes it once for all consumers, the plan above it is
    // truncated, and the blocks are released by the ContextCleaner when
    // the result frame is dropped — no session-lifetime persist (the r16
    // dedup-once experiment lost to exactly that extra persist exchange;
    // this form adds ONE distinct-shaped shuffle total and removes five
    // re-scans). Estimator arithmetic unchanged (same md5, same floor).
    val tagged = a.select(col(keyCol).as("__key"), lit(1L).as("__a"), lit(0L).as("__b"))
      .unionByName(
        b.select(col(keyCol).as("__key"), lit(0L).as("__a"), lit(1L).as("__b")))
    val d = Cuts.cut(tagged.groupBy(col("__key"))
      .agg(max(col("__a")).as("inA"), max(col("__b")).as("inB"))
      .select(md5Long(col("__key")).as("h"), col("inA"), col("inB")), eager = false)
    // distinct over the HASHES (not just the keys): byte-identical to the
    // old per-side sketch under an md5 collision, where two distinct keys
    // must still contribute one sketch entry
    def sketch(flag: String): DataFrame =
      d.filter(col(flag) === 1L).select(col("h")).distinct()
        .orderBy(col("h")).limit(k)
    def est(s: DataFrame, out: String): DataFrame =
      s.agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
        .select(when(col("n") < k, col("n").cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(M) / col("hk").cast("double"))
            .cast("long")).as(out))
    val sa = sketch("inA")
    val sb = sketch("inB")
    val su = sa.unionByName(sb).distinct().orderBy(col("h")).limit(k)
    // n_u rides along: an UNSATURATED union sketch holds every hash, so
    // the intersection count is exact and the theta scaling must not run
    val nInter = su.join(sa, Seq("h"), "left_semi").join(sb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_inter"))
      .crossJoin(su.agg(count(lit(1)).as("n_u")))
    val exacts = d.agg(
      sum(col("inA")).cast("long").as("exact_a"),
      sum(col("inB")).cast("long").as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("inA") * col("inB")).cast("long").as("exact_inter"))
    est(sa, "est_a").crossJoin(est(sb, "est_b")).crossJoin(est(su, "est_union"))
      .crossJoin(nInter)
      .withColumn("est_inter",
        when(col("n_u") < k, col("n_inter").cast("long"))
          .otherwise(expr(s"n_inter * est_union div $k")))
      .drop("n_inter", "n_u")
      .crossJoin(exacts)
  }

  /** EXACT percentiles of a BIGINT column with NO global sort — iterative
    * range refinement (the classic distributed selection algorithm): each
    * pass bucketizes the still-candidate value range into `buckets`
    * equi-width cells with ONE aggregation scan, the driver descends into
    * the cell containing each target rank, and the loop ends when a cell
    * narrows to a single value. All requested percentiles ride the same
    * passes (their ranges are binned in one job).
    *
    * Why it exists: `ORDER BY`+rank shuffles the whole column to sort it —
    * at 100 TB that is the single most expensive plan Spark can run.
    * Here a pass moves only O(tasks × buckets) partial counters (map-side
    * combine collapses everything else), the source re-scan carries a
    * pushed-down range filter that parquet min/max stats prune to a sliver
    * after pass 1, and ceil(log_buckets(value range)) passes resolve
    * exactly — 2 passes for 32-bit-ish ranges at the default 4096.
    * Deterministic and partition-invariant: counts are exact integers.
    *
    * `bps` are basis points (1..10000); each target's rank is
    * ceil(bp·n/10000) — the "first value with at least bp·n/10000 of the
    * mass at or below it" discrete percentile. Returns (bp, rank, value),
    * built on the driver from |bps| resolved scalars (the distributed work
    * is the passes, not the 5-row result). */
  /** Sample-quantile sketch: a bottom-k-by-hash uniform sample (the k
    * rows with the smallest md5 priorities — a simple random sample
    * without replacement by the same order-statistic trick as the KMV
    * sketch, and mergeable the same way: bottom-k of a union is the
    * bottom-k of the per-shard bottom-ks), with quantiles read off the
    * sorted sample at [[exactQuantiles]]'s ceil-rank rule. ONE pass over
    * the data (TakeOrderedAndProject — per-partition heaps, never a
    * global sort; the exchange carries O(partitions·k) rows) versus one
    * pass per refinement round for the exact form; error is the standard
    * O(1/√k) sample-quantile bound.
    *
    * `priorityCol` must be row-unique: it makes the chosen sample — and
    * therefore the estimate — identical on any engine, partitioning, or
    * retry, so the gate is ORACLED exactly rather than error-bounded.
    * Value ties inside the sample are broken by the priority, which
    * cannot change the returned value (equal values are interchangeable
    * at a rank).
    *
    * Output: (bp, sample_rank, est). */
  def sampleQuantiles(df: DataFrame, valueCol: String, priorityCol: String,
                      bps: Seq[Int], k: Int = 1024): DataFrame = {
    require(bps.nonEmpty && bps.forall(bp => bp >= 1 && bp <= 10000),
      s"bps must be within 1..10000, got $bps")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // eager k-row materialization: consumed twice (count + window read)
    val sample = Cuts.cut(df
      .select(col(valueCol).cast("long").as("v"), md5Long(col(priorityCol)).as("__p"))
      .filter(col("v").isNotNull)
      .orderBy(col("__p"), col("v")).limit(k))
    val ns = sample.count()
    require(ns > 0, s"sampleQuantiles needs at least one non-null $valueCol value")
    // ≤k rows: the single-partition window sort is bounded by k, not corpus
    val ranked = sample.select(col("v"))
      .withColumn("rn", row_number().over(Window.orderBy(col("v"))))
    import spark.implicits._
    val targets = bps.sorted
      .map(bp => (bp.toLong, (bp.toLong * ns + 9999L) / 10000L))
      .toDF("bp", "sample_rank")
    targets.join(ranked, col("sample_rank") === col("rn"))
      .select(col("bp"), col("sample_rank"), col("v").as("est"))
  }

  def exactQuantiles(df: DataFrame, valueCol: String, bps: Seq[Int],
                     buckets: Int = 4096, maxPasses: Int = 16): DataFrame = {
    require(bps.nonEmpty && bps.forall(bp => bp >= 1 && bp <= 10000),
      s"bps must be within 1..10000, got $bps")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val vals = df.select(col(valueCol).cast("long").as("v")).filter(col("v").isNotNull)
    val Row0 = vals.agg(min(col("v")), max(col("v")), count(lit(1))).head()
    val n = Row0.getLong(2)
    require(n > 0, s"exactQuantiles needs at least one non-null $valueCol value")
    val (gmin, gmax) = (Row0.getLong(0), Row0.getLong(1))
    // target: (bp, global rank, current range [lo, hi], rank within range)
    case class Target(bp: Int, rank: Long, lo: Long, hi: Long, within: Long,
                      resolved: Option[Long])
    var targets = bps.sorted.map { bp =>
      val rank = (bp.toLong * n + 9999L) / 10000L
      Target(bp, rank, gmin, gmax, rank, None)
    }
    var pass = 0
    while (targets.exists(_.resolved.isEmpty)) {
      pass += 1
      require(pass <= maxPasses,
        s"exactQuantiles did not resolve within $maxPasses passes — impossible " +
          "unless ranges stopped shrinking; raise maxPasses")
      targets = targets.map(t =>
        if (t.resolved.isEmpty && t.lo == t.hi) t.copy(resolved = Some(t.lo)) else t)
      val pending = targets.filter(_.resolved.isEmpty)
      if (pending.nonEmpty) {
        // Distinct candidate ranges (targets sharing a cell share a range;
        // different cells are disjoint) and their equi-width bucketing.
        val ranges = pending.map(t => (t.lo, t.hi)).distinct
        // Power-of-two cell width so the bucket index is an exact integer
        // shift (long `/` in Column-land is IEEE double division — lossy
        // past 2^53; shiftright never is).
        def shiftOf(lo: Long, hi: Long): Int = {
          // hi - lo overflows when the data spans more than Long.MaxValue
          // (values near both Long extremes) — without this guard the
          // wrapped width mis-buckets pass 1 and the failure surfaces as
          // a misleading "range lost mass" error far from the cause.
          val span =
            try Math.subtractExact(hi, lo)
            catch {
              case _: ArithmeticException => throw new IllegalArgumentException(
                s"exactQuantiles range width overflow: [$lo, $hi] spans more " +
                  "than Long.MaxValue values; offset/scale the column into a " +
                  "narrower domain first")
            }
          val need = span / buckets + 1 // cells of this width fit in `buckets`
          64 - java.lang.Long.numberOfLeadingZeros(need - 1) // ceil(log2(need))
        }
        def widthOf(lo: Long, hi: Long): Long = 1L << shiftOf(lo, hi)
        val inAny = ranges.map { case (lo, hi) =>
          col("v").between(lit(lo), lit(hi)) }.reduce(_ || _)
        val rangeId = ranges.zipWithIndex.tail.foldLeft(
          when(col("v").between(lit(ranges.head._1), lit(ranges.head._2)), lit(0))) {
          case (acc, ((lo, hi), i)) => acc.when(col("v").between(lit(lo), lit(hi)), lit(i))
        }
        val bucketCol = ranges.zipWithIndex.tail.foldLeft(
          when(col("__r") === 0,
            shiftright(col("v") - lit(ranges.head._1), shiftOf(ranges.head._1, ranges.head._2)))) {
          case (acc, ((lo, hi), i)) =>
            acc.when(col("__r") === i, shiftright(col("v") - lit(lo), shiftOf(lo, hi)))
        }
        val counts = vals.filter(inAny)
          .select(rangeId.as("__r"), col("v"))
          .select(col("__r"), bucketCol.as("__b"))
          .groupBy(col("__r"), col("__b")).agg(count(lit(1)).as("__c"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
        targets = targets.map { t =>
          if (t.resolved.nonEmpty) t
          else {
            val ri = ranges.indexOf((t.lo, t.hi))
            val w = widthOf(t.lo, t.hi)
            val maxB = (t.hi - t.lo) >> shiftOf(t.lo, t.hi)
            var cum = 0L
            var b = 0L
            var found = false
            var (nlo, nhi, nwithin) = (t.lo, t.hi, t.within)
            while (!found && b <= maxB) {
              val c = counts.getOrElse((ri, b), 0L)
              if (cum + c >= t.within) {
                nlo = t.lo + b * w
                nhi = math.min(t.hi, t.lo + (b + 1) * w - 1)
                nwithin = t.within - cum
                found = true
              } else { cum += c; b += 1 }
            }
            require(found, s"rank ${t.rank} not found in [${t.lo}, ${t.hi}] — " +
              "the range lost mass between passes (concurrent mutation of the input?)")
            t.copy(lo = nlo, hi = nhi, within = nwithin)
          }
        }
      }
    }
    import spark.implicits._
    targets.map(t => (t.bp.toLong, t.rank, t.resolved.get))
      .toDF("bp", "rank", "value")
  }

  /** Median-absolute-deviation outlier screen — the robust twin of a
    * mean±3σ cut (one wild value moves a mean; it cannot move a median).
    * Composes [[exactQuantiles]] twice (median of the values, then median
    * of |v − med|), so no global sort ever happens; the final pass counts
    * values with |v − med| · kDenom > kNumer · mad. The default
    * kNumer/kDenom = 44478/10000 is the conventional 3 · 1.4826
    * (1/Φ⁻¹(3/4), the normal-consistency constant) expressed as an exact
    * rational so both engines compare the SAME integers — no float enters
    * at any point. Returns ONE row:
    * (n, median, mad, n_outliers, outlier_ppm). A zero MAD (> half the
    * mass on one value) flags only v ≠ median, the standard degenerate
    * behavior. */
  def madOutliers(df: DataFrame, valueCol: String,
                  kNumer: Long = 44478L, kDenom: Long = 10000L): DataFrame = {
    require(kNumer > 0 && kDenom > 0, s"need positive k, got $kNumer/$kDenom")
    val vals = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val med = exactQuantiles(vals, "v", Seq(5000))
      .select(col("value").as("med"))
    val absdev = vals.crossJoin(broadcast(med))
      .select(abs(col("v") - col("med")).as("ad"), col("v"), col("med"))
    val mad = exactQuantiles(absdev, "ad", Seq(5000))
      .select(col("value").as("mad"))
    absdev.crossJoin(broadcast(mad))
      .agg(count(lit(1)).as("n"),
        min(col("med")).as("median"),
        min(col("mad")).as("mad"),
        sum(when(col("ad") * lit(kDenom) > lit(kNumer) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_ppm", expr("n_outliers * 1000000L div n"))
  }
}
