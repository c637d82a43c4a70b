package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate discipline, enforced: every query the driver runs must either have
  * a DuckDB oracle or be on the explicit rows-only allowlist below, with
  * the reason written down. A new gate added without an oracle fails HERE,
  * at `sbt test` time, instead of shipping as a silent `no_oracle` row in
  * the round's correctness board. */
class GateCoverageSpec extends AnyFunSuite {

  /** Queries with no SQL-expressible exact oracle, each with a documented
    * reason and (where one exists) the deterministic hash-checked twin
    * that covers the same code path. Empty since round 11: the four
    * former members (cd2 HLL, x2 float PageRank, e4 Lloyd-IVF, x11b
    * HyperBall) became SELF-EVALUATING — their engine-specific estimate
    * is checked in-row against the exact value and the oracle asserts
    * the verdict column constant-true (the cd7 carry-exact-in-row
    * pattern), so every gate on the board is hash-checked. */
  private val rowsOnlyAllowlist: Map[String, String] = Map.empty

  test("every gate query has a DuckDB oracle or a documented rows-only reason") {
    val unverified = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyAllowlist.keySet
    assert(unverified.isEmpty,
      s"gate(s) with neither oracle nor allowlist entry: ${unverified.toSeq.sorted.mkString(", ")}")
  }

  test("SparkEntry.entry returns rows on sf0.001 (the driver's smoke contract)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every Bench headline entry names a real gate (silent drops otherwise)") {
    val ghosts = Bench.headline.filterNot(SparkEntry.queries.keySet)
    assert(ghosts.isEmpty, s"headline names missing gates: ${ghosts.mkString(", ")}")
    // and the compact JSON line must stay inside the consumer's ~2000-char
    // tail buffer: entries are ~27 chars each plus ~260 chars of envelope
    assert(Bench.headline.size * 27 + 260 < 2000,
      s"headline too long for the tail-buffer parser: ${Bench.headline.size} entries")
  }

  test("the allowlist and oracle map only name real gates (no stale entries)") {
    val staleAllow = rowsOnlyAllowlist.keySet -- SparkEntry.queries.keySet
    val staleOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(staleAllow.isEmpty, s"allowlist names missing gates: ${staleAllow.mkString(", ")}")
    assert(staleOracle.isEmpty, s"oracles name missing gates: ${staleOracle.mkString(", ")}")
    val both = rowsOnlyAllowlist.keySet & SparkEntry.oracleSql.keySet
    assert(both.isEmpty, s"gates both oracled and allowlisted: ${both.mkString(", ")}")
  }

  /** The driver's pandas comparator lexsorts every output column; a
    * top-level ARRAY/MAP cell crashes it (`unhashable type:
    * numpy.ndarray`). Convention: explode/posexplode to scalar rows at
    * the gate boundary (arrays may exist INSIDE the plan, and API
    * methods may return them — only gate OUTPUT schemas are checked).
    *
    * Note this calls every gate BUILDER, not just its analyzed schema:
    * builders that run eager driver work during construction (codebook
    * seeding, minLabel's count+collect shortcut, a19's bucketed write)
    * execute real sf0.001 Spark jobs here. That is accepted — the same
    * eagerness runs in Verify, and a builder that crashes on real data
    * should fail THIS suite, not first surface in the driver run. */
  test("no gate output schema has a top-level ARRAY/MAP column") {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val bad = q(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] => s"$name.${f.name}: ARRAY"
        case f if f.dataType.isInstanceOf[MapType]   => s"$name.${f.name}: MAP"
      }
      bad
    }
    assert(offenders.isEmpty,
      s"gate output column(s) the driver harness cannot sort: ${offenders.mkString("; ")}")
  }
}
