package graft.operators

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long

/** DataFrame-native k-means-lite: a coarse quantizer for IVF-style
  * similarity search, not a general ML library. Lloyd iterations expressed
  * as joins + aggregations:
  *
  *   assign:  corpus ⋈ broadcast(centroids), argmin L2 via window rank —
  *            one pass, centroids always broadcast (k rows);
  *   update:  posexplode(vec) → groupBy (cluster, dim) avg → re-assemble
  *            arrays with sort_array(collect_list(struct(dim, mean))) —
  *            partial aggregation does the heavy lifting map-side.
  *
  * Deterministic seeding (k rows with smallest md5(id)) so runs are
  * reproducible; centroid means are floating-point reductions, so exact
  * bits may vary with partitioning — downstream users (IVF probing)
  * tolerate that by construction.
  */
object Clustering {

  /** Native fused squared-L2 ([[graft.functions.L2SqDistance]], registered
    * by GraftExtensions): one codegen'd loop, no per-pair difference array
    * — bit-identical to the sequential fold it replaced (the hot
    * vector×centroid inner product of every Lloyd/assign pass). */
  private def l2sq(a: Column, b: Column): Column =
    call_function("l2_sq", a, b)

  private def assign(v: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vid")).orderBy(col("__d"), col("cid"))
    v.crossJoin(broadcast(centroids))
      .withColumn("__d", l2sq(col("vec"), col("cvec")))
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col("vid"), col("vec"), col("cid"))
  }

  /** Exact class-mean centroids in integer micro-units — the supervised
    * twin of [[kmeansLite]]'s float centroids. Every element is quantized
    * half-up to `scale` units (`floor(x·scale + 0.5)`), summed exactly as
    * BIGINTs, and the mean is ONE floored division at the end, so any
    * engine reproduces each centroid bit for bit (the `pageRankFixed`
    * micro-unit recipe applied to vectors). Output: (clabel, cvec) with
    * `cvec: ARRAY<BIGINT>`.
    *
    * Scale: posexplode ships (label, dim, long) triples — float arrays
    * never shuffle; both aggregations combine map-side ((label, dim) keys
    * are dense, no hot reducer); the result is |labels| rows — broadcast
    * material for [[nearestCentroid]]. */
  def labelCentroids(vecs: DataFrame, vecCol: String, labelCol: String,
                     scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    vecs.select(col(labelCol).as("clabel"),
        posexplode(transform(col(vecCol), x => floor(x.cast("double") * scale + lit(0.5)))))
      .groupBy(col("clabel"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("clabel"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))
  }

  /** Nearest-centroid assignment against a [[labelCentroids]] table — the
    * label-purity audit an embedding pipeline runs to catch mislabeled or
    * drifted vectors: each vector is quantized with the same `scale`,
    * scored by exact integer squared-L2 against every class mean, and
    * assigned the argmin with a (dist, label) tiebreak. Output one row per
    * vector: (id, label, pred_label, dist) — all distances exact BIGINTs,
    * so the assignment is engine-portable with no float caveat.
    *
    * Scale: centroids broadcast (|labels| rows); the quantized corpus
    * meets them map-side, and the argmin window shuffles only
    * (id, label, clabel, dist) — arrays are projected away before the
    * exchange. Per-vector window state is |labels| rows. */
  def nearestCentroid(vecs: DataFrame, centroids: DataFrame, idCol: String,
                      vecCol: String, labelCol: String,
                      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d"), col("clabel"))
    vecs.select(col(idCol), col(labelCol),
        transform(col(vecCol), x => floor(x.cast("double") * scale + lit(0.5))).as("__q"))
      .crossJoin(broadcast(centroids))
      .withColumn("__d", aggregate(zip_with(col("__q"), col("cvec"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .select(col(idCol), col(labelCol), col("clabel"), col("__d"))
      .withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col(idCol), col(labelCol), col("clabel").as("pred_label"),
        col("__d").as("dist"))
  }

  /** One deterministic Lloyd UPDATE step in integer micro-units — the
    * k-means training move that [[nearestCentroid]] (the assignment gate)
    * stops short of: seed centroids from the class means, re-assign every
    * vector to its nearest centroid, then emit the re-computed centroid of
    * each PREDICTED cluster. All arithmetic follows the [[labelCentroids]]
    * recipe (half-up quantization to `scale`, exact BIGINT sums, one
    * floored division), so the step is bit-identical in any engine — the
    * oracle-able core of IVF codebook training ([[kmeansLite]] is the
    * float production twin).
    *
    * Scale: centroids broadcast twice (seed + assignment, |labels| rows);
    * the corpus-sized join carries only (id, pred_label) against the raw
    * vectors (co-partitionable on id), and the update exchange ships
    * (cluster, dim, long) triples collapsed map-side to ≤ clusters·dims
    * rows per partition — vectors never cross an exchange un-collapsed.
    * Output: (clabel, dim, cv) with 1-based dim — array-free, so the
    * result is directly hash-comparable. */
  def lloydStep(vecs: DataFrame, idCol: String, vecCol: String,
                labelCol: String, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val cents = labelCentroids(vecs, vecCol, labelCol, scale)
    val assigned = nearestCentroid(vecs, cents, idCol, vecCol, labelCol, scale)
      .select(col(idCol), col("pred_label").as("__c"))
    vecs.select(col(idCol), col(vecCol))
      .join(assigned, Seq(idCol))
      .select(col("__c"),
        posexplode(transform(col(vecCol), x => floor(x.cast("double") * scale + lit(0.5)))))
      .groupBy(col("__c"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .select(col("__c").as("clabel"), (col("pos") + 1).cast("long").as("dim"), col("cv"))
  }

  /** Returns (assignments(vid, vec, cid), centroids(cid, cvec)). */
  def kmeansLite(vecs: DataFrame, idCol: String, vecCol: String,
                 k: Int, iters: Int = 2): (DataFrame, DataFrame) = {
    val v = Cuts.cut(vecs.select(col(idCol).as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("vec")), eager = false)
    val seedW = Window.orderBy(col("__h"), col("vid"))
    // k rows per round, each cut to sever the growing lineage; the
    // superseded rounds are freed when the loop returns
    val centroids = Cuts.released {
      var c = Cuts.cut(v.withColumn("__h", md5Long(col("vid")))
        .withColumn("__rn", row_number().over(seedW)).filter(col("__rn") <= k)
        .select((col("__rn") - 1).cast("int").as("cid"), col("vec").as("cvec")))
      (1 to iters).foreach { _ =>
        c = Cuts.cut(assign(v, c)
          .select(col("cid"), posexplode(col("vec")))
          .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
          .groupBy(col("cid"))
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("cvec")))
      }
      c
    }
    (assign(v, centroids), centroids)
  }
}
