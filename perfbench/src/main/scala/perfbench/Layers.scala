package perfbench

/** Per-layer metrics of a traced run, each a mean per traced op. A name's
  * prefix is the layer (repo module) it measures. Times are span self
  * times. The names and units are BENCHMARK.json's `per_layer` list;
  * `run.py` checks every name emitted here against it and reports a
  * listed metric the workload does not reach as 0. */
object Layers {

  def metrics(w: Workload, tr: Tracer, ops: Int, cores: Int,
              untracedPassS: Double, tracedPassS: Double): Map[String, Double] = {
    val spans = tr.spans
    val self = Stats.selfTimes(spans.map(s => Stats.Interval(s.id, s.parent, s.start, s.end)))
    def in(names: Set[String]) = spans.filter(s => names(s.name))
    def ms(names: Set[String]) = in(names).map(s => self(s.id) / 1e6).sum
    def count(names: Set[String])(f: SpanCounts => Long) =
      in(names).map(s => f(tr.countsOf(s.id))).sum.toDouble
    def perOp(x: Double) = x / ops
    val ex = w.execSpans
    val planMs = count(ex)(_.planMs)
    val generic = Map(
      "entry.construct_ms" -> perOp(ms(Set("entry.construct"))),
      "entry.construct_jobs" -> perOp(count(Set("entry.construct"))(_.jobs)),
      "plan.ms" -> perOp(planMs),
      "exec.ms" -> perOp(ms(ex) - planMs),
      "exec.jobs" -> perOp(count(ex)(_.jobs)),
      "exec.stages" -> perOp(count(ex)(_.stages)),
      "exec.tasks" -> perOp(count(ex)(_.tasks)),
      "exec.task_ms" -> perOp(count(ex)(_.taskMs)),
      "exec.task_cpu_ms" -> perOp(count(ex)(_.taskCpuMs)),
      "exec.gc_ms" -> perOp(count(ex)(_.gcMs)),
      "exec.idle_core_share" -> (if (ms(ex) == 0) 0.0 else 1 - count(ex)(_.taskMs) / (ms(ex) * cores)),
      "exec.shuffle_write_bytes" -> perOp(count(ex)(_.shuffleWriteBytes)),
      "exec.shuffle_read_bytes" -> perOp(count(ex)(_.shuffleReadBytes)),
      "exec.spill_bytes" -> perOp(count(ex)(_.spillBytes)),
      "tables.read_ms" -> perOp(ms(Set("tables.read"))),
      "transform.ms" -> perOp(ms(Set("transform"))),
      "merge.ms" -> perOp(ms(Set("merge"))),
      "sources.extract_ms" -> perOp(ms(Set("sources.extract"))),
      "quality.gate_ms" -> perOp(ms(Set("quality.gate"))),
      "quality.gate_jobs" -> perOp(count(Set("quality.gate"))(_.jobs)),
      "pipeline.run_ms" -> perOp(ms(Set("pipeline.run"))),
      "store.write_ms" -> perOp(ms(Set("store.write"))),
      "upsert.ms" -> perOp(ms(Set("upsert"))),
      "store.catalog_ms" -> perOp(ms(Set("store.catalog"))),
      "store.view_read_ms" -> perOp(ms(Set("store.view_read"))),
      "store.files_read" -> perOp(count(Set("store.view_read"))(_.filesRead)),
      "trace.overhead_s" -> (tracedPassS - untracedPassS),
      "trace.overhead_share" -> (tracedPassS - untracedPassS) / untracedPassS)
    generic ++ w.layerMetrics()
  }
}
