package graft.tools

import org.apache.spark.sql.SparkSession

/** The session and query selection shared by the tools that drive the
  * registry (`graft.Bench`, `graft.Verify`, [[JobProfile]],
  * [[ExplainDump]]), so every one of them measures or dumps the same
  * engine configuration. The scale tools keep their own builders:
  * they default to 8 cores and size partitions from
  * `SPARK_GRAFT_PARTS`. */
object Harness {

  /** Core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `local[cpus]` with shuffle partitions equal to the cores, UTC
    * session time zone, ANSI off and the UI off. */
  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Registry names in sorted order: all of them when `args` is
    * empty, else those given by exact name or by short key (the
    * prefix before the first '_'). Fails when nothing matches. */
  def select(args: Seq[String]): Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) all
      else all.filter(n => args.contains(n) || args.contains(n.takeWhile(_ != '_')))
    require(names.nonEmpty, s"no queries match args ${args.mkString(",")}")
    names
  }
}
