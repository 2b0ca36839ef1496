package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a fixed set of ops, run as passes in a
  * closed loop by [[Main]]. */
trait Workload {
  /** The ops of one pass, in the order the pass runs them. */
  def passOrder(pass: Int): Seq[String]

  /** Untimed preparation before each pass. */
  def resetPass(): Unit = ()

  /** One op; `tracer` is set in the traced run only. */
  def run(op: String, opId: Int, tracer: Option[Tracer]): Unit

  /** Input rows one op consumes. */
  def inputRows(op: String): Long

  /** The untimed warm-up op that ends a set-up; it runs once per
    * set-up, each time on a fresh session. */
  def warmUp(): Unit

  /** Untimed, between the set-ups and the loop: leaves on disk, or in
    * `checkFacts`, what the output checks compare. */
  def writeChecks(): Unit

  /** Span names whose Spark work makes up the untraced op. */
  def execSpans: Set[String]

  /** Workload-specific per-layer metrics of the traced run, per op. */
  def layerMetrics(): Map[String, Double]

  /** Facts for the output checks, written into the result. */
  def checkFacts: Map[String, Any]
}

object Workload {
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def apply(name: String, spark: SparkSession, args: Args): Workload = name match {
    case "daily_load" => new DailyLoad(spark, args)
    case "bar_queries" => new BarQueries(spark, args)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
