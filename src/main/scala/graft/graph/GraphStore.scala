package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Session-lifetime graph store: builds the [[PropertyGraph]] for an sf
  * directory once and shares it across queries — the Spark-native analogue
  * of the reference's persistent JanusGraph store (queries there run
  * against a loaded graph, not a per-query re-ingest; README.md:286-349).
  *
  * Storage layout mirrors what a 100 TB deployment would put on disk:
  *   - `edges` hash-partitioned by `src` (bucketing), so every hop-join
  *     (out/outE/reach/reachFix) finds the big edge side already
  *     co-partitioned and only shuffles the frontier;
  *   - `vertices` hash-partitioned by `id`, so vertex-resolution joins
  *     (out()'s dst→vertex lookup) reuse the layout;
  *   - both persisted MEMORY_AND_DISK (the in-memory columnar cache keeps
  *     min/max stats per batch, so label/key filters skip batches — the
  *     cache-level analogue of parquet row-group pruning).
  */
object GraphStore {

  private val cache = TrieMap.empty[String, PropertyGraph]

  def get(spark: SparkSession, dir: String): PropertyGraph =
    cache.getOrElseUpdate(dir, {
      val raw = GraphBuilder.build(spark, dir)
      // repartition + sortWithinPartitions: the in-memory relation then
      // exposes both HashPartitioning and an ordering, so hop-joins against
      // it are exchange-free AND sort-free on the (big) edge side.
      val g = PropertyGraph(
        raw.vertices.repartition(col("id")).sortWithinPartitions(col("id"))
          .persist(StorageLevel.MEMORY_AND_DISK),
        raw.edges.repartition(col("src")).sortWithinPartitions(col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK))
      g.vertices.count() // materialize once, eagerly
      g.edges.count()
      g
    })
}
