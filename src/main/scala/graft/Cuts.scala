package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.CheckpointUtil

import scala.collection.mutable
import scala.util.control.NonFatal

/** The one way `src/main` materializes an intermediate frame: a lineage
  * [[cut]], freed either by [[released]] when the body that made it
  * returns, or by the ContextCleaner once the frame is unreferenced.
  * Nothing here registers in the session's CacheManager, so no caller
  * holds a cache entry it must remember to drop. `GraphStore`'s two
  * persisted frames are the only long-lived state, by design. */
object Cuts {

  /** Lineage cut. Default `localCheckpoint`: blocks live on executors —
    * the right latency locally and on healthy clusters, but a LOST
    * executor loses its blocks and fails the job. For long multi-hour
    * iterative jobs at cluster scale, opt into RELIABLE checkpoints
    * (survive executor loss) by setting BOTH
    * `spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)` and the session
    * conf `graft.checkpoint.reliable=true` — every cut then writes to the
    * checkpoint dir instead of executor storage. `eager = false`
    * truncates the logical plan at once but materializes inside the
    * frame's first consuming job instead of a dedicated one. The result is
    * rebuilt constraint-free ([[org.apache.spark.sql.graft.CheckpointUtil]]):
    * unions of cut frames under a join are the iterative shape here. */
  private[graft] def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val reliable =
      df.sparkSession.conf.get("graft.checkpoint.reliable", "false") == "true"
    if (reliable)
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "graft.checkpoint.reliable=true needs sparkContext.setCheckpointDir first")
    val out = CheckpointUtil.dropConstraints(
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager))
    Option(cutsMade.get).foreach(_ += out)
    out
  }

  /** The frames [[cut]] so far by the [[released]] body running on this
    * thread (null outside one). */
  private val cutsMade = new ThreadLocal[mutable.ArrayBuffer[DataFrame]]

  /** Runs an algorithm body, then unpersists every frame it [[cut]] that
    * its result does not read ([[CheckpointUtil.readRdds]]: a lazy result
    * keeps the whole unmaterialized lineage it still needs). The frames
    * the result does read pass to the enclosing body, if any, which
    * decides for its own result. If the body throws, all its cuts go. */
  private[graft] def released(body: => DataFrame): DataFrame = {
    val outer = cutsMade.get
    val cuts = mutable.ArrayBuffer.empty[DataFrame]
    cutsMade.set(cuts)
    val out =
      try body
      catch { case NonFatal(t) => cuts.foreach(CheckpointUtil.release); throw t }
      finally cutsMade.set(outer)
    val read = CheckpointUtil.readRdds(out)
    val (kept, unread) = cuts.partition(c => read(CheckpointUtil.rddId(c)))
    unread.foreach(CheckpointUtil.release)
    if (outer != null) outer ++= kept
    out
  }
}
