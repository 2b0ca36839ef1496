package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's median line: no Spark session needed. */
class BenchMedianSpec extends AnyFunSuite with Matchers {

  test("an odd sample count gives the middle sample") {
    Bench.median(Seq(3.0)) shouldBe 3.0
    Bench.median(Seq(9.0, 1.0, 2.0)) shouldBe 2.0
  }

  test("an even sample count gives the mean of the two middle samples") {
    // a heavy query's two samples: a cold first touch and a warm one
    Bench.median(Seq(12.84, 5.03)) shouldBe (12.84 + 5.03) / 2
    Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) shouldBe 2.5
  }
}
