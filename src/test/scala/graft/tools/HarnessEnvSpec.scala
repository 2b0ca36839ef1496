package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The harness's env parsing fails fast, naming the key, instead of
  * falling back to a default on a bad value. No Spark session needed. */
class HarnessEnvSpec extends AnyFunSuite with Matchers {

  private val cpusKey = "SPARK_GRAFT_CPUS"

  test("an unset key gives the default") {
    Harness.positiveInt(Map.empty, cpusKey, 4) shouldBe 4
    Harness.positiveDouble(Map.empty, "SPARK_GRAFT_BENCH_HEAVY_SEC", 3.0) shouldBe 3.0
  }

  test("a positive value parses") {
    Harness.positiveInt(Map(cpusKey -> " 8 "), cpusKey, 4) shouldBe 8
    Harness.positiveDouble(Map("K" -> "0.5"), "K", 3.0) shouldBe 0.5
  }

  test("a malformed value fails with a message naming the key") {
    val e = the[IllegalArgumentException] thrownBy
      Harness.positiveInt(Map(cpusKey -> "four"), cpusKey, 4)
    e.getMessage should include(cpusKey)
    e.getMessage should include("four")
    (the[IllegalArgumentException] thrownBy
      Harness.positiveDouble(Map("SPARK_GRAFT_BENCH_HEAVY_SEC" -> "3s"),
        "SPARK_GRAFT_BENCH_HEAVY_SEC", 3.0)).getMessage should include(
      "SPARK_GRAFT_BENCH_HEAVY_SEC")
  }

  test("zero fails with a message naming the key") {
    (the[IllegalArgumentException] thrownBy
      Harness.positiveInt(Map("SPARK_GRAFT_BENCH_REPEATS" -> "0"),
        "SPARK_GRAFT_BENCH_REPEATS", 3)).getMessage should include(
      "SPARK_GRAFT_BENCH_REPEATS")
    (the[IllegalArgumentException] thrownBy
      Harness.positiveDouble(Map("K" -> "0"), "K", 3.0)).getMessage should include("K")
  }
}
