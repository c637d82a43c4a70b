package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.graft.CheckpointUtil
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One materialization mechanism: every intermediate frame in `src/main`
  * is a [[Cuts.cut]], and no gate leaves a CacheManager entry behind. */
class CutsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Each of these once persisted an intermediate frame it could not
    * release, leaving one CacheManager entry per run for the session. */
  private val formerLeakers = Seq(
    "cd5_countmin_heavy",
    "d_apply_cuts", "d_containment_est", "d_containment_eval", "d_dup_clusters",
    "d_fuzzy_join", "d_keep_best", "d_prefix_join", "d_simhash_neardup",
    "d_sparse_neighbors",
    "e17_ivf_index_persist", "e20_nn_descent",
    "m8b_image_neardup", "m9b_audio_neardup")

  test("gates leave the session's CacheManager as they found it") {
    // the store's two persisted frames are the one long-lived entry set;
    // load it first so no gate's delta counts it
    graph.GraphStore.get(spark, dir)
    // deltas, not absolute counts: the session is shared across suites
    val leaks = formerLeakers.flatMap { name =>
      val before = CheckpointUtil.cachedEntries(spark)
      SparkEntry.queries(name)(spark, dir).count()
      val delta = CheckpointUtil.cachedEntries(spark) - before
      if (delta != 0) Some(s"$name: $delta") else None
    }
    assert(leaks.isEmpty, s"CacheManager entries left behind: ${leaks.mkString(", ")}")
  }

  test("src/main caches, checkpoints and unpersists only in Cuts, CheckpointUtil and GraphStore") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val materializing = """\.persist\(|\.cache\(\)|localCheckpoint\(|\.checkpoint\(|\.unpersist\(""".r
    val owners = Set("Cuts.scala", "CheckpointUtil.scala", "GraphStore.scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !owners(p.getFileName.toString))
      .toSeq.sortBy(_.toString)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if materializing.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, s"materialize through graft.Cuts instead:\n${hits.mkString("\n")}")
  }
}
