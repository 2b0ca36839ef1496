package perfbench

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class StatsSpec extends AnyFunSuite with Matchers {
  import Stats._

  test("median of odd and even sample counts") {
    median(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    median(Seq(4.0, 1.0, 2.0, 3.0)) shouldBe 2.5
  }

  test("tail: highest percentile with ten samples beyond it, and its counts") {
    val xs = (1 to 100).map(_.toDouble)
    tail(xs) shouldBe Tail(90.0, 90, 100, 10)
    tail((1 to 20).map(_.toDouble)) shouldBe Tail(10.0, 50, 20, 10)
    tail((1 to 11).map(_.toDouble)) shouldBe Tail(1.0, 9, 11, 10)
    // 101 samples: p = floor(100 * 91 / 101) = 90, rank ceil(90.9) = 91
    tail((1 to 101).map(_.toDouble)) shouldBe Tail(91.0, 90, 101, 10)
    for (n <- 11 to 500) {
      val t = tail((1 to n).map(_.toDouble))
      t.beyond should be >= 10
      // one percentile higher would leave fewer than ten beyond
      val next = math.ceil((t.percentile + 1).toDouble * n / 100).toInt
      (n - next) should be < 10
      t.samples shouldBe n
    }
  }

  test("tail: with ten samples or fewer no percentile qualifies; the maximum is reported") {
    tail(Seq(5.0, 1.0, 3.0)) shouldBe Tail(5.0, 100, 3, 0)
    tail((1 to 10).map(_.toDouble)) shouldBe Tail(10.0, 100, 10, 0)
  }

  test("tail ignores sample order") {
    val xs = scala.util.Random.shuffle((1 to 57).map(_.toDouble))
    tail(xs) shouldBe tail(xs.sorted)
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Interval(0, -1, 0, 100),
      Interval(1, 0, 10, 30),
      Interval(2, 0, 20, 50),   // overlaps child 1: covered 10..50 once
      Interval(3, 0, 90, 120),  // sticks out of the parent: 90..100 counts
      Interval(4, 2, 25, 45))   // grandchild: only reduces its own parent
    val self = selfTimes(spans)
    self(0) shouldBe 100 - 40 - 10
    self(1) shouldBe 20
    self(2) shouldBe 30 - 20
    self(3) shouldBe 30
    self(4) shouldBe 20
  }

  test("self time of a span without children is its duration") {
    selfTimes(Seq(Interval(7, -1, 5, 9))) shouldBe Map(7 -> 4L)
  }

  test("prefix differencing: self times are the prefix differences") {
    prefixSelf(Seq(10.0, 25.0, 40.0, 70.0), 100.0) shouldBe Seq(10.0, 15.0, 15.0, 30.0, 30.0)
  }

  test("prefix differencing: non-negative and summing to the op's time, whatever the noise") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val prefixes = Seq.fill(1 + rnd.nextInt(5))(rnd.nextDouble() * 200)
      val total = rnd.nextDouble() * 200
      val self = prefixSelf(prefixes, total)
      self should have size (prefixes.size + 1)
      all(self) should be >= 0.0
      self.sum shouldBe total +- 1e-9
    }
  }

  test("prefix differencing: a prefix slower than a longer one counts as no time") {
    prefixSelf(Seq(30.0, 20.0), 50.0) shouldBe Seq(30.0, 0.0, 20.0)
    prefixSelf(Seq(30.0, 60.0), 50.0) shouldBe Seq(30.0, 20.0, 0.0)
  }
}
