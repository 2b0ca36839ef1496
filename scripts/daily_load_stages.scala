// Per-stage log of daily_load ops: for every stage an op runs, its task
// count, executor deserialize ms and executor run ms; for every op, the
// sums and the number of whole-stage/expression code compiles. It runs
// the benchmark's own DailyLoad workload (warm-up, then two passes over
// the same days, so the second pass shows what a warm session still
// compiles) and writes one JSON object per line to $STAGELOG_OUT.
//
// Run from a checkout whose benchmark build exists (any
// `python3 perfbench/run.py ...` call makes it), ASCII only:
//
//   W=/tmp/stagelog; rm -rf $W; mkdir -p $W
//   python3 -c "import sys; sys.path.insert(0, 'perfbench'); import gen; gen.write('$W/landing', 1)"
//   STAGELOG_WORK=$W STAGELOG_OUT=$W/stages.jsonl $SPARK_HOME/bin/spark-shell \
//     --master 'local[4]' --driver-memory 4g \
//     --driver-class-path "$(cat .bench_build/perfbench/classpath.txt)" \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.ansi.enabled=false --conf spark.ui.enabled=false \
//     --conf spark.sql.codegen.cache.maxEntries=2000 \
//     -i scripts/daily_load_stages.scala
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

spark.sparkContext.setLogLevel("ERROR")
val work = sys.env("STAGELOG_WORK")
val outPath = sys.env("STAGELOG_OUT")

case class StageRow(id: Int, name: String, tasks: Int, deserMs: Long, runMs: Long)
val stages = ArrayBuffer.empty[StageRow]
spark.sparkContext.addSparkListener(new SparkListener {
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRow(i.stageId, i.name.takeWhile(_ != ' '), i.numTasks,
      if (m == null) 0L else m.executorDeserializeTime,
      if (m == null) 0L else m.executorRunTime)
  }
})

val args = perfbench.Args("daily_load", 1L, 0.0, false, 4, "", "", work)
val w = new perfbench.DailyLoad(spark, args)
w.warmUp()
Thread.sleep(2000)
stages.synchronized(stages.clear())

val out = ArrayBuffer.empty[String]
for (pass <- 0 until 2) {
  w.resetPass()
  for (day <- w.passOrder(pass)) {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    w.run(day, 0, None)
    val wallMs = (System.nanoTime() - t0) / 1e6
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    Thread.sleep(2000) // let the listener bus deliver the op's last stages
    val ss = stages.synchronized { val c = stages.toList; stages.clear(); c }
    ss.foreach { s =>
      out += f"""{"pass":$pass,"day":"$day","stage":${s.id},"name":"${s.name}","tasks":${s.tasks},"deserialize_ms":${s.deserMs},"run_ms":${s.runMs}}"""
    }
    out += f"""{"pass":$pass,"day":"$day","op_wall_ms":$wallMs%.0f,"stages":${ss.size},"tasks":${ss.map(_.tasks).sum},"deserialize_ms":${ss.map(_.deserMs).sum},"run_ms":${ss.map(_.runMs).sum},"compiles":$compiles}"""
    println(out.last)
  }
}
java.nio.file.Files.write(java.nio.file.Paths.get(outPath), out.mkString("", "\n", "\n").getBytes("UTF-8"))
System.exit(0)
