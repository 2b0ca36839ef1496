package graft.tools

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bench's per-query counts come from [[TagCounter]]: each tag must see
  * exactly what a plain untagged counter sees over the window of that
  * tag's action, and untagged work must land under no tag. */
class TagCounterSpec extends SparkSpec {

  /** Counts every job, completed stage and task end it hears. */
  private final class WindowCounter extends SparkListener {
    @volatile var jobs, stages, tasks = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks += 1
  }

  test("each tag counts what a window counter sees; untagged work counts under no tag") {
    val sc = spark.sparkContext
    val tagged = new TagCounter
    val window = new WindowCounter

    /** (jobs, stages, tasks) the window counter sees while `body` runs
      * under `tag` (no tag when null) */
    def run(tag: String)(body: => Any): (Long, Long, Long) = {
      ListenerBusDrain.drain(sc)
      window.jobs = 0; window.stages = 0; window.tasks = 0
      sc.setLocalProperty(TagCounter.Key, tag)
      try body finally sc.setLocalProperty(TagCounter.Key, null)
      ListenerBusDrain.drain(sc)
      (window.jobs, window.stages, window.tasks)
    }

    sc.addSparkListener(tagged)
    sc.addSparkListener(window)
    try {
      val a = run("a") {
        spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
      }
      val untagged = run(null) {
        spark.range(0, 1000, 1, 3).groupBy(col("id") % 5).count().collect()
      }
      val b = run("b") {
        val l = spark.range(0, 500, 1, 4).withColumn("k", col("id") % 11)
        val r = spark.range(0, 11, 1, 2).withColumnRenamed("id", "k")
        l.join(r, "k").agg(sum("id")).collect()
      }
      Seq(a, untagged, b).foreach { case (j, s, t) =>
        j should be > 0L
        s should be > 0L
        t should be >= s
      }
      a._2 should be > 1L // a shuffle: more than one stage under the tag
      tagged.counts shouldBe Map("a" -> a, "b" -> b)
    } finally {
      sc.removeSparkListener(tagged)
      sc.removeSparkListener(window)
    }
  }
}
