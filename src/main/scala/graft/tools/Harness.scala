package graft.tools

import org.apache.spark.sql.SparkSession

/** The session and query selection shared by the tools that drive the
  * registry (`graft.Bench`, `graft.Verify`, [[ExplainDump]]), so every
  * one of them measures or dumps the same engine configuration. This
  * is the only session builder in the library. */
object Harness {

  /** Core count: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = positiveInt(sys.env, "SPARK_GRAFT_CPUS", 4)

  /** `env(key)` as a positive Int, `default` when the key is unset;
    * any other value fails with a message naming the key. */
  def positiveInt(env: Map[String, String], key: String, default: Int): Int =
    env.get(key).fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'"))
    }

  /** `env(key)` as a positive Double, `default` when the key is unset;
    * any other value fails with a message naming the key. */
  def positiveDouble(env: Map[String, String], key: String, default: Double): Double =
    env.get(key).fold(default) { v =>
      v.trim.toDoubleOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive number, got '$v'"))
    }

  /** `local[cpus]` with shuffle partitions equal to the cores, UTC
    * session time zone, ANSI off, the UI off, and TIMESTAMP(NANOS)
    * parquet read as long (the `graft.core.Tables.events` nanos arm). */
  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
