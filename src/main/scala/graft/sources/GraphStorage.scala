package graft.sources

import graft.Cuts
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph

/** Persistent graph storage — the Spark-native replacement for the
  * reference's seven per-component groovy files + gremlin bulk load
  * (main.go:70-96 `applyGroovy` multi-sink; README.md:286-298 `:load`).
  *
  * Layout (the on-disk twin of [[graft.graph.GraphStore]]'s cache layout):
  *   {path}/vertices/label=X/part-....parquet — partition pruning turns
  *     every hasLabel() into a directory prune (B13's 7-way sink,
  *     generalized);
  *   {path}/edges/part-....parquet, pre-repartitioned by src so a fresh
  *     read clusters hop-join keys within files (row-group locality).
  *
  * `merge` replays a batch idempotently — the anti-join equivalent of the
  * reference's guarded upserts, minus its one-statement-at-a-time
  * websocket bottleneck (README.md:300: 1h+ to load 473 statements).
  */
object GraphStorage {

  /** B13 — partitioned multi-sink write of a whole graph.
    *
    * Bloom indexes ride the layout (the o4 mechanism, see PLANS.md §o4):
    * a point lookup is `(label, key)` — the label half is the directory
    * prune, and the bloom on `key`/`id` is the in-file half, dropping
    * whole row groups of a big label's many files without any sort.
    * Edges sort by `src` (min/max stats already prune that side), so the
    * bloom goes on `dst`, the reverse-lookup key that crosses the sort
    * order. Filters are ADAPTIVE-sized (parquet-mr sizes each from the
    * row group's observed ndv) — no hand-tuned ndv hint to go stale. */
  def write(g: PropertyGraph, path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    g.vertices.write.mode(mode)
      .option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.enabled#key", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .partitionBy("label").parquet(s"$path/vertices")
    g.edges.repartition(col("src")).sortWithinPartitions(col("src"))
      .write.mode(mode)
      .option("parquet.bloom.filter.enabled#dst", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .parquet(s"$path/edges")
  }

  /** A18 — bulk load: reconstruct the graph from storage. Both frames
    * are read with the [[PropertyGraph]] schema contract, so no job reads
    * the files' footers to infer one; a store whose columns have other
    * types fails when it is read instead of being coerced. */
  def load(spark: SparkSession, path: String): PropertyGraph = {
    // Partition column `label` comes back at the end; restore column order.
    val v = spark.read.schema(PropertyGraph.VertexSchema).parquet(s"$path/vertices")
      .select(col("id"), col("label"), col("key"), col("props"))
    PropertyGraph(v, spark.read.schema(PropertyGraph.EdgeSchema).parquet(s"$path/edges"))
  }

  /** Catalog-bucketed variant: `bucketBy(src)+sortBy(src)` edges and
    * `bucketBy(id)` vertices as saved tables. Unlike the cache layout in
    * [[graft.graph.GraphStore]] (which dies with the session) or the plain
    * parquet layout above (whose clustering Spark can't prove after a
    * re-read), catalog bucketing survives restarts AND lets the planner
    * drop the Exchange+Sort from every hop-join on a fresh read — the
    * 100 TB answer, since no cache holds 100 TB. */
  def writeBucketedTables(spark: SparkSession, g: PropertyGraph,
                          db: String = "graft", buckets: Int = 32,
                          location: Option[String] = None): Unit = {
    // An explicit per-run location sidesteps the warehouse-dir/catalog
    // split-brain: managed-table directories outlive the in-memory catalog
    // across JVMs, and saveAsTable refuses to overwrite a location the
    // (fresh) catalog has no record of.
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db$loc")
    g.vertices.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "id").sortBy("id").saveAsTable(s"$db.vertices")
    g.edges.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "src").sortBy("src").saveAsTable(s"$db.edges")
  }

  /** Load the bucketed store; joins on id/src plan without exchanges. */
  def loadBucketedTables(spark: SparkSession, db: String = "graft"): PropertyGraph =
    PropertyGraph(spark.table(s"$db.vertices"), spark.table(s"$db.edges"))

  /** Idempotent incremental merge into an existing store: anti-join the
    * batch against what is already there, append only the new rows.
    * Replaying the same batch twice is a no-op — the invariant the
    * reference's guarded-upsert templates intend (and, for serviceAccount
    * and permission vertices, fail to deliver: main.go:587-588, 678-679
    * guard on the wrong property key). */
  def merge(spark: SparkSession, path: String, newV: DataFrame, newE: DataFrame): Unit = {
    val existing = load(spark, path)
    // Cuts sever the fresh rows from the store files about to be
    // appended. Each materializes inside its count, before either append:
    // the count adds one task to the cut's own job, and a side with no
    // fresh rows appends nothing (a plain parquet append of zero rows
    // would still write an empty file).
    val freshV = Cuts.cut(newV.dropDuplicates("label", "key")
      .join(existing.vertices.select("label", "key"), Seq("label", "key"), "left_anti")
      .select(col("id"), col("label"), col("key"), col("props")), eager = false)
    val freshE = Cuts.cut(newE.dropDuplicates("src", "dst", "label")
      .join(existing.edges.select("src", "dst", "label"), Seq("src", "dst", "label"), "left_anti")
      .select(col("src"), col("dst"), col("label"), col("weight")), eager = false)
    val (nV, nE) = (freshV.count(), freshE.count())
    if (nV > 0) freshV.write.mode(SaveMode.Append).partitionBy("label").parquet(s"$path/vertices")
    if (nE > 0) freshE.write.mode(SaveMode.Append).parquet(s"$path/edges")
  }
}
