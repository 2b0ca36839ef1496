package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole test run: Spark session
  * startup costs seconds, so suites must not each build their own. */
object SparkSpec {
  lazy val spark: SparkSession = {
    // local[4, 2]: 4 threads, maxFailures = 2 — task RETRY is enabled
    // so TaskRetrySpec can drill the failed-and-retried-task path (the
    // default local[4] kills the job on the first task failure, which
    // no cluster does). Harmless elsewhere: a test that wants a job to
    // fail still sees the failure, one retry later.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp dir named after `prefix`, deleted with its contents
    * once the suite's last test has run. */
  protected def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.foreach { dir =>
        val walk = Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      }
      tempDirs.clear()
    } finally super.afterAll()

  def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))), schema)

  /** Run `f` with SQL confs temporarily set (restored after) — for
    * interpreted-vs-codegen equivalence tests. */
  protected def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` and counts the Spark jobs it submits. The listener bus
    * is drained before the listener is added, so no earlier job leaks
    * in, and again before the count is read, so no job of `body` is
    * missed. */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Order-insensitive frame compare on fully-collected rows. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    actual.columns.sorted shouldBe expected.columns.sorted
    val cols = actual.columns.sorted.toIndexedSeq
    def norm(d: DataFrame) =
      d.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    norm(actual) shouldBe norm(expected)
  }
}
