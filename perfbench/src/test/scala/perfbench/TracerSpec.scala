package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class TracerSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def counts(tr: Tracer, name: String): SpanCounts =
    tr.countsOf(tr.spans.find(_.name == name).get.id)

  test("jobs, stages and tasks go to the innermost open span through the local property") {
    val tr = new Tracer(spark)
    try {
      val sc = spark.sparkContext
      sc.parallelize(1 to 10, 2).count() // before any span: attributed to none
      tr.span("outer", 0) {
        // one job of two stages (map side, reduce side), 2 + 2 tasks
        sc.parallelize(1 to 100, 2).map(x => (x % 3, x)).reduceByKey(_ + _, 2).count()
        tr.span("inner", 0)(sc.parallelize(1 to 10, 3).count())
      }
      tr.span("empty", 0)(())
      val outer = counts(tr, "outer")
      val inner = counts(tr, "inner")
      (outer.jobs, outer.stages, outer.tasks) shouldBe ((1, 2, 4))
      (inner.jobs, inner.stages, inner.tasks) shouldBe ((1, 1, 3))
      (counts(tr, "empty").jobs, counts(tr, "empty").tasks) shouldBe ((0, 0))
      outer.shuffleWriteBytes should be > 0L
      outer.shuffleReadBytes shouldBe outer.shuffleWriteBytes
      spark.sparkContext.getLocalProperty(Tracer.SpanKey) shouldBe null
      val byName = tr.spans.map(s => s.name -> s).toMap
      byName("inner").parent shouldBe byName("outer").id
      byName("outer").parent shouldBe -1
    } finally tr.detach()
  }

  test("jobs submitted from a thread started inside a span carry the span") {
    val tr = new Tracer(spark)
    try {
      tr.span("threaded", 0) {
        val t = new Thread(() => spark.sparkContext.parallelize(1 to 10, 2).count())
        t.start()
        t.join()
      }
      counts(tr, "threaded").jobs shouldBe 1
    } finally tr.detach()
  }

  test("a query execution's planning time and files read go to the innermost span it ran in") {
    val dir = "target/tracer-spec-table"
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir) // one file
    def scan(): Unit = spark.read.parquet(dir).write.format("noop").mode("overwrite").save()
    val tr = new Tracer(spark)
    try {
      scan() // before any span: dropped
      tr.span("outer", 0) {
        scan()
        tr.span("write", 0)(scan())
        tr.span("idle", 0)(())
      }
      counts(tr, "outer").filesRead shouldBe 1
      counts(tr, "write").filesRead shouldBe 1
      counts(tr, "idle").filesRead shouldBe 0
      counts(tr, "idle").planMs shouldBe 0
    } finally tr.detach()
  }
}
