package graft.tools

/** Dump `.explain("formatted")` for named registry queries to files —
  * the plan-evidence tool for the optimization rounds (guide §1:
  * capture the plan shape before and after every change).
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> [query ...]
  * Writes <outDir>/<name>.txt per query (full names or short keys,
  * the [[Harness.select]] rule shared with Bench).
  *
  * Cost caveat (r19 advice): for most queries only the plan is
  * compiled, nothing runs — but ITERATIVE queries (q199/q255/q277 …)
  * execute their full fixpoint during CONSTRUCTION (each round is an
  * eager localCheckpoint/barrier job), and fixture-backed queries
  * build their disk fixture on first touch. Dumping the whole
  * registry therefore RUNS those workloads; their dumped plan is only
  * the final frame's (per-round plans never appear — count their jobs,
  * stages and tasks with `graft.Bench <query>`, whose `jobs_by_name`
  * line reports them). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val names = Harness.select(args.drop(2).toSeq)
    val spark = Harness.session("ERROR")
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(new java.io.File(outDir, s"$name.txt"))
      try w.write(plan) finally w.close()
      println(s"[explain] wrote $name")
    }
    spark.stop()
  }
}
