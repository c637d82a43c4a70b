package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys — the manual complement to AQE's runtime
  * skew-join splitting (`spark.sql.adaptive.skewJoin.*`), for the cases AQE
  * cannot see: a first-shuffle skew (no runtime stats yet) or an
  * aggregation whose hot key floods one reducer.
  *
  * In this domain the hot keys are real: `allUsers` grants attach every
  * principal to one vertex (main.go:463-483), and `roles/owner` carries
  * thousands of permissions (README.md:469-472) — a permission→role
  * bucket-join or membership aggregation over 100 TB will skew exactly
  * there.
  *
  * Salting is deterministic (hash of the row, not rand()) so retried tasks
  * produce identical output — a nondeterministic salt breaks exactly-once
  * under task retry.
  */
object Skew {

  private def saltCol(df: DataFrame, factor: Int): Column =
    pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(factor.toLong)).cast("int")

  /** Salted equi-join: scatter the big (skewed) side over `factor` salts,
    * replicate the small side once per salt. Result equals the plain join;
    * the hot key's rows now land on `factor` reducers instead of one.
    * Cost: small side inflated ×factor — keep it the dimension side. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, factor: Int,
                 joinType: String = "inner"): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    // Replicating the small side is only sound when join semantics are
    // driven from the big side.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins only, got $joinType")
    val bigS = big.withColumn("__salt", saltCol(big, factor))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Deterministically cap the member count of blocking buckets before a
    * per-bucket self-join. A bucket of b members yields O(b²) pairs; one
    * boilerplate-heavy bucket (millions of identical docs — the normal case
    * in web-scale training data) puts that b² on a single reducer. The cap
    * keeps every bucket with ≤ `maxBucket` members intact and
    * hash-samples larger buckets down to ~`maxBucket` members, so per-task
    * join input is bounded by maxBucket² regardless of corpus skew.
    *
    * Selection is deterministic (md5 of bucket key + member, mod bucket
    * size) — task retries and re-runs keep the SAME members, and the cost
    * is one extra count aggregation plus a linear join on the bucket key
    * (which AQE skew-split can further shard; no per-bucket sort, no
    * window over the hot bucket).
    *
    * Exact below the cap: when no bucket exceeds `maxBucket` the output is
    * row-for-row the input. */
  def capBuckets(df: DataFrame, bucketCols: Seq[String], memberCol: String,
                 maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val keys = bucketCols.map(col)
    // Deliberately NOT cut: with mostly-singleton buckets (the LSH
    // norm) the size table is the same order as the data, and a
    // materialized copy per invocation would add storage pressure
    // against the deliberately-kept graph caches. Callers cut `df`
    // itself when it is expensive (the LSH/shingle call sites do), making
    // the recomputed count pass one cheap aggregate over the cut.
    val sizes = df.groupBy(keys: _*).agg(count(lit(1)).as("__sz"))
    val member = graft.functions.Hashing.md5Long(
      concat_ws("", (bucketCols :+ memberCol).map(c => col(c).cast("string")): _*))
    df.join(sizes, bucketCols)
      .filter(col("__sz") <= maxBucket ||
        pmod(member, col("__sz")) < maxBucket)
      .drop("__sz")
  }

  /** Audit companion to [[capBuckets]]: the buckets over the bound, with
    * their size and the (expected) number of candidate pairs the cap drops
    * — surface this count next to dedup results so truncation is never
    * silent. */
  def bucketOverflow(df: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame = {
    val keys = bucketCols.map(col)
    df.groupBy(keys: _*).agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxBucket)
      .withColumn("dropped_pairs_est",
        ((col("sz") * (col("sz") - 1) - lit(maxBucket.toLong) * (maxBucket - 1)) / 2).cast("long"))
  }

  /** Two-phase salted aggregation: partial aggregate on (key, salt), final
    * on key. For algebraic aggregates (sum/count/min/max) this is exact and
    * turns one flooded reducer into `factor` balanced ones. */
  def saltedSum(df: DataFrame, key: String, valueCol: String, factor: Int): DataFrame = {
    require(factor >= 1)
    df.withColumn("__salt", saltCol(df, factor))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("cnt"))
  }
}
