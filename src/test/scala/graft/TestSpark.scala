package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.DataType
import org.scalatest.Assertions

import java.util.concurrent.atomic.AtomicLong

/** Shared local session for all suites (one JVM, one context). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` twice: first with the default broadcast threshold, which
    * the specs' graphs are under, so a driver-side path runs (by default
    * `Traversal`'s small-relation path; pass [[graph.Resident.runs]] for
    * GremlinLite's resident copy), then with the threshold at -1, which
    * turns every such path off. Asserts that `runs` counted the first
    * run and not the second, and returns both results. */
  def onBothPaths[A](body: => A, runs: AtomicLong = graph.Traversal.smallPathRuns): (A, A) = {
    val before = runs.get
    val small = body
    Assertions.assert(runs.get > before, "the driver-side path did not run")
    val mid = runs.get
    val rounds = GateSupport.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    Assertions.assert(runs.get == mid, "the driver-side path ran with the threshold at -1")
    (small, rounds)
  }

  /** `df`'s rows in a fixed order (duplicates kept) and its schema's
    * column names and types. */
  def rowsAndSchema(df: DataFrame): (Seq[Row], Seq[(String, DataType)]) =
    (df.collect().toSeq.sortBy(_.toString), df.schema.map(f => f.name -> f.dataType))
}
