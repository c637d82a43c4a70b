package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.DataType
import org.scalatest.Assertions

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

  /** Runs `body` twice: first on `Traversal`'s small-relation path (the
    * default broadcast threshold, which the specs' graphs are under), then
    * on its join rounds (the threshold at -1). Asserts that each run took
    * its path, and returns both results. */
  def onBothPaths[A](body: => A): (A, A) = {
    val runs = graph.Traversal.smallPathRuns
    val before = runs.get
    val small = body
    Assertions.assert(runs.get > before, "the small-relation path did not run")
    val mid = runs.get
    val rounds = GateSupport.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    Assertions.assert(runs.get == mid, "the small-relation path ran with the threshold at -1")
    (small, rounds)
  }

  /** `df`'s rows in a fixed order (duplicates kept) and its schema's
    * column names and types. */
  def rowsAndSchema(df: DataFrame): (Seq[Row], Seq[(String, DataType)]) =
    (df.collect().toSeq.sortBy(_.toString), df.schema.map(f => f.name -> f.dataType))
}
