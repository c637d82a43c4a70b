package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** Constraint-free rebuild of a (local)checkpointed DataFrame, plus the
  * block bookkeeping of such frames.
  *
  * `Dataset.localCheckpoint` copies the origin plan's constraints onto the
  * resulting `LogicalRDD`, rewriting them to the new output attributes —
  * but the rewrite can leave dangling references when the optimized plan's
  * attributes differ from the analyzed ones (non-nullable inputs make the
  * constraint set non-empty and expose it). Any later `Union` over such a
  * frame that an enclosing `Join` asks for constraints then dies in
  * `UnionBase.rewriteConstraints` with `key not found: <attr>`. Iterative
  * algorithms that union checkpointed per-round deltas and join against
  * the union (e.g. `graft.graph.Traversal.closureDoubling`) hit exactly
  * that shape.
  *
  * The rebuild wraps the checkpoint's RDD in a fresh `LogicalRDD` that
  * keeps its size statistics, partitioning and ordering (so join planning
  * and exchange reuse are unchanged) and drops only the origin
  * constraints — zero copy, no re-encoding. `LogicalRDD`'s constructor and
  * `Dataset.ofRows` are package-private to `org.apache.spark.sql`; hence
  * this shim lives in Spark's namespace (the standard extension
  * technique — no Spark internals are modified).
  */
object CheckpointUtil {
  /** `df` must be the result of `localCheckpoint()` / `checkpoint()`,
    * eager or lazy (its plan is a single `LogicalRDD`). */
  def dropConstraints(df: DataFrame): DataFrame = {
    val r = logicalRdd(df)
    val spark = df.sparkSession.asInstanceOf[ClassicSparkSession]
    ClassicDataset.ofRows(spark, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
      r.outputOrdering, r.isStreaming)(spark, Some(r.stats), None))
  }

  /** Id of the RDD behind checkpointed frame `df`. */
  def rddId(df: DataFrame): Int = logicalRdd(df).rdd.id

  /** Frees the blocks of checkpointed frame `df`; any later read of it fails. */
  def release(df: DataFrame): Unit = logicalRdd(df).rdd.unpersist(blocking = false)

  /** Entries in the session's CacheManager (its count is `private[sql]`). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSparkSession].sharedState.cacheManager.numCachedEntries

  /** Ids of every RDD that computing `df` may read: the RDD leaves of its
    * plan and, through lineage that is neither truncated by a checkpoint
    * nor fully cached, every RDD they depend on. A materialized
    * checkpoint reads only its own blocks, and so does a lazy one that a
    * later job already computed whole; a lazy one not yet run still reads
    * its whole lineage. */
  def readRdds(df: DataFrame): Set[Int] = {
    val leaves = df.asInstanceOf[ClassicDataFrame].queryExecution.logical
      .collectWithSubqueries { case r: LogicalRDD => r.rdd: RDD[_] }
    val seen = scala.collection.mutable.Set.empty[Int]
    var todo = leaves.toList
    while (todo.nonEmpty) {
      val rdd = todo.head
      todo = todo.tail
      if (seen.add(rdd.id) && !cached(rdd)) todo = rdd.dependencies.map(_.rdd).toList ++ todo
    }
    seen.toSet
  }

  /** True when every partition of `rdd` sits in the block manager. */
  private def cached(rdd: RDD[_]): Boolean =
    rdd.getStorageLevel != StorageLevel.NONE && {
      val blocks = rdd.partitions.map(p => RDDBlockId(rdd.id, p.index): BlockId)
      SparkEnv.get.blockManager.master.getLocations(blocks).forall(_.nonEmpty)
    }

  private def logicalRdd(df: DataFrame): LogicalRDD =
    df.asInstanceOf[ClassicDataFrame].queryExecution.logical match {
      case r: LogicalRDD => r
      case p => throw new IllegalArgumentException(
        s"expected a checkpointed frame (a LogicalRDD plan), got ${p.nodeName}")
    }
}
