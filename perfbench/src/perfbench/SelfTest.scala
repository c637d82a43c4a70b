package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Tests of the generator and the answer checker (no test framework:
  * `python3 perfbench/run.py --selftest`). Exits non-zero on any failure. */
object SelfTest {
  private var failures = 0
  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case t: Throwable => println(s"  error: $t"); false }
    println(s"${if (r) "PASS" else "FAIL"} $name")
    if (!r) failures += 1
  }

  private def filesOf(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dials = Dials.Bench
    val work = Paths.get(m("work")).toAbsolutePath
    Main.deleteTree(work)

    def render(seed: Long, name: String): Map[String, Seq[Byte]] = {
      val g = Gen.generate(seed, dials)
      Groovy.write(g.day1, work.resolve(s"$name/day1"))
      Groovy.write(g.day2, work.resolve(s"$name/day2"))
      filesOf(work.resolve(s"$name/day1")).map { case (k, v) => s"day1/$k" -> v } ++
        filesOf(work.resolve(s"$name/day2")).map { case (k, v) => s"day2/$k" -> v }
    }
    val a = render(7, "a"); val b = render(7, "b"); val c = render(8, "c")
    test("same seed gives byte-identical files")(a == b && a.size == 14)
    test("different seed gives different files")(a.keySet == c.keySet && a != c)

    val gen = Gen.generate(7, dials)
    val org = gen.day1
    val groups = org.indexesOf("group").toSet
    val nestOut = org.out("in").map(_.filter(groups))
    test(s"maximum nesting depth ${dials.maxDepth} is reached and not exceeded") {
      // longest chain along the acyclic level structure (edges to a lower level)
      val depth = mutable.Map.empty[Int, Int]
      def d(g: Int): Int = depth.getOrElseUpdate(g,
        nestOut(g).filter(p => gen.groupLevel(p) < gen.groupLevel(g)).map(d(_) + 1).maxOption.getOrElse(0))
      groups.map(d).max == dials.maxDepth
    }
    test(s"${dials.cycles} membership cycles exist") {
      val t = new Truth(org)
      gen.cycleEdges.size == dials.cycles &&
        gen.cycleEdges.forall(e => t.reach(e.src).contains(e.src))
    }
    test("the hot domain-wide group has the largest fan-in") {
      val fanIn = org.in("in").map(_.count(i => org.vertices(i).label == "user"))
      val hot = fanIn(gen.hotGroup)
      groups.forall(g => fanIn(g) <= hot) && hot > dials.users / 10
    }
    test("day 2 adds the stated delta and removes nothing") {
      val d1 = gen.day1; val d2 = gen.day2
      val added = d2.vertices.size + d2.edges.size - d1.vertices.size - d1.edges.size
      d2.vertices.take(d1.vertices.size) == d1.vertices && d1.edges.toSet.subsetOf(d2.edges.toSet) &&
        added == math.round(dials.deltaFrac * (d1.vertices.size + d1.edges.size))
    }

    // Checker: fingerprints catch one dropped and one added pair, on the
    // driver and in Spark alike.
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", work.resolve("spark-local").toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val t = new Truth(org)
    val pairs = org.indexesOf("user").take(300).flatMap(u => t.reach(u).iterator.map(n => (u.toLong, n.toLong)))
    val want = Fp.of(pairs.map(p => Seq(p._1, p._2)))
    test("Spark and driver fingerprints agree")(Fp.spark(pairs.toDF("origin", "node")) == want)
    test("one dropped pair is caught")(Fp.spark(pairs.tail.toDF("origin", "node")) != want)
    test("one added pair is caught")(Fp.spark((pairs :+ ((-1L, -2L))).toDF("origin", "node")) != want)
    test("one altered pair is caught")(
      Fp.spark(((pairs.head._1, pairs.head._2 + 1) +: pairs.tail).toDF("origin", "node")) != want)
    test("a duplicated pair is caught")(Fp.spark((pairs :+ pairs.head).toDF("origin", "node")) != want)
    val vrows = org.vertices.take(50)
    test("map columns fingerprint alike in Spark and on the driver")(
      Fp.spark(vrows.map(v => (v.label, v.key, v.props)).toDF("label", "key", "props")) ==
        Fp.of(vrows.map(v => Seq(v.label, v.key, v.props))))
    spark.stop()
    Main.deleteTree(work)
    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures != 0) sys.exit(1)
  }
}
