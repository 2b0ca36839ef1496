package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profile — the measure-first companion to
  * [[ExplainDump]] for ITERATIVE queries, whose per-round plans never
  * appear in the final frame's explain output (each round runs eagerly
  * behind `Iterate.barrier` while the query is being CONSTRUCTED).
  * Counting scheduler events is the honest way to see what a fixpoint
  * loop actually submits: a round-latency-bound query shows hundreds
  * of jobs with single-digit tasks each, and an optimization that cuts
  * exchanges per round moves the stage count, not the task time.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> [query ...]
  * Prints one line per query: name, wall seconds, jobs, stages, tasks.
  * The timed action is the noop sink (guide §1.4), same as Bench.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <sfDir> [query ...]")
    val sfDir = args(0)
    val names = Harness.select(args.drop(1).toSeq)
    val spark = Harness.session("ERROR")
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1 }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        synchronized { tasks += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    def run(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    run(names.head) // untimed warmup, same protocol as Bench
    for (name <- names) {
      Thread.sleep(200) // let the async listener bus drain
      synchronized { jobs = 0; stages = 0; tasks = 0 }
      val t0 = System.nanoTime()
      run(name)
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the async listener bus drain
      println(f"[profile] $name%-28s ${sec}%7.3f s  jobs=$jobs%-5d stages=$stages%-5d tasks=$tasks%-7d")
    }
    spark.stop()
  }
}
