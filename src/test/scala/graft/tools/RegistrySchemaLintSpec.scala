package graft.tools

import graft.SparkSpec

/** Build-time twin of Verify's output-shape lints (round-19 protocol,
  * from the round-18 verdict): q354/q357 shipped raw `array<bigint>`
  * output columns and ERR'd in the driver harness — the driver's
  * canonicalizer sorts raw cells and pandas crashes on array values —
  * while the local replica had been patched to stringify, so "green"
  * was measured against a harness the driver does not run. This spec
  * CONSTRUCTS every registry query against the sf0.001 fixture and
  * asserts the driver-facing schema contract at `sbt test` time, so
  * the divergence class cannot recur:
  *
  *  - no top-level array/map/struct column (driver canonicalizer
  *    crash — serialize with the q05 pairText / q354 array_join
  *    device in BOTH the registry entry and the oracle SQL);
  *  - no DecimalType anywhere in the schema (cross-engine string-repr
  *    mismatch, the q304 rule: cast to DOUBLE on both sides).
  *
  * Construction only: nothing is collected or dumped. Construction is
  * NOT cheap, though: every one of the ~385 constructors submits at
  * least one Spark job, because constructors run their fixpoint
  * rounds and build their disk fixtures eagerly. Measured on a 4-core
  * box: the spec alone runs 143 s; constructing the registry at
  * sf0.001 takes 171 s and 1,968 jobs, of which the 21 iterative
  * queries (q199, q311, q201, …) take 62 s and 1,044 jobs, and the
  * 46 constructors over 1 s (fixpoints plus store/fixture builds such
  * as q105, q112, q106) take 118 s.
  * Queries whose constructors THROW here would fail Verify the same
  * way, so the spec also pins constructor health on the tiny fixture.
  */
class RegistrySchemaLintSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every registry query's output schema survives the driver canonicalizer") {
    val bad = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val out = fn(spark, sfDir)
          graft.Verify.lintNoDecimalOutput(name, out)
          graft.Verify.lintNoComplexOutput(name, out)
          None
        } catch {
          case e: IllegalStateException => Some(e.getMessage)
          case e: Throwable =>
            Some(s"$name: constructor failed on sf0.001: ${e.getMessage}")
        }
    }
    withClue("registry output-shape lint failures:\n" +
      bad.mkString("\n") + "\n") { bad shouldBe empty }
  }
}
