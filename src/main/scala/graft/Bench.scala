package graft

/** Benchmark main (driver-run per round at sf0.1). Methodology:
  *  - queries run in sorted name order, after one untimed warmup query
  *    that absorbs JVM/codegen/parquet-footer warmup (round-1 bench
  *    charged ~14 s of warmup to whichever query ran first);
  *  - the timed action is a write to the `noop` sink, which executes
  *    the FULL physical plan (including deterministic final sorts that
  *    a `.count()` action would let Catalyst eliminate) with zero IO;
  *  - each query runs `repeats` times (heavy-tier queries: at most
  *    two — see the tier protocol at the sampling plan) and reports the MIN (the plan's
  *    cost; round-2 numbers showed 3-5x within-run variance on
  *    tiny-output aggregates from GC/JIT interactions across ~90
  *    sequential queries in one JVM) AND the MEDIAN (steady-state) —
  *    a query whose min and median disagree wildly is jitter, not a
  *    regression, which makes cross-round adjudication possible;
  *  - failures are LOUD but not fatal: a crashed query is recorded in
  *    the emitted JSON (`"failed":["name",…]`, timing omitted) and the
  *    process exits nonzero AFTER printing — rounds 10/11 lost all
  *    timing signal for 122 healthy queries because one analysis
  *    error aborted the whole run before any JSON was emitted.
  *  - each query's first timed sample runs under the local property
  *    [[tools.TagCounter.Key]] set to its name, and the
  *    `jobs_by_name` detail line reports the jobs, stages and tasks
  *    that sample submitted — construction included, since the
  *    constructor runs inside the sample. The tag is set outside the
  *    timer and the counts are read after `spark.stop()` has drained
  *    the listener bus.
  *
  * Cross-round adjudication caveat, measured (round 8): two
  * back-to-back full-registry runs at identical settings produced
  * q62_corr_matrix = 69.2 s (min AND median — every sample poisoned)
  * and then 2.07 s, with the slow run showing zero full GCs, zero
  * codecache-full events, healthy 30 ms young pauses, and ~12 other
  * queries inflated in one contiguous window of the schedule. That
  * profile — a multi-minute whole-process slowdown unexplained by any
  * JVM counter, vanishing on rerun — is host-level interference (the
  * box is virtualized; CPU steal is invisible in-process), the same
  * class as round 7's q45/q46 6x swings on untouched code. Treat any
  * cross-round swing as noise unless it reproduces in a second run;
  * min-vs-median disagreement flags within-run jitter, but a
  * whole-run phase can poison every sample of one query, so the only
  * reliable signal for "this query regressed" is two consecutive
  * rounds agreeing.
  */
object Bench {

  /** The median of a query's samples: the middle sample when the count
    * is odd, the mean of the two middle samples when it is even. A
    * heavy query keeps two samples, the first of them usually its cold
    * first touch; taking the larger of two would report that touch. */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Host-calibration micro-probe (round-16 protocol): a FIXED
    * synthetic workload — pure codegen'd CPU (chained xxhash64 over a
    * 16M-row range) plus one small shuffle (64Ki-key hash aggregate) —
    * with zero IO and zero dependence on the registry or testdata. Its
    * min-of-3 time, divided by [[HostProbeReferenceSec]], is the
    * `host_factor` emitted in the bench tail: the round-15
    * adjudication burned a day of manual A/B reruns proving a 1.37×
    * UNIFORM host slowdown on untouched code (virtualized box; CPU
    * steal invisible in-process) — this probe turns that proof into
    * arithmetic. `scripts/bench_diff.py` divides the factor out before
    * flagging cross-round movers. */
  def hostProbeSec(spark: org.apache.spark.sql.SparkSession,
                   parallelism: Int): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 16L * 1000 * 1000, 1L, parallelism)
        .select(col("id"), pmod(
          xxhash64(xxhash64(xxhash64(col("id")))), lit(65536L)).as("k"))
        .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("c"))
        .agg(sum(col("s")).as("ss"), sum(col("c")).as("sc"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // untimed: absorbs the probe's own codegen compile
    (1 to 3).map(_ => once()).min
  }

  /** The probe's min-of-3 on the round-16 reference host (the box that
    * produced BENCH_r16) at the driver's default 4-CPU bench settings —
    * three independent JVMs measured 0.638/0.658/0.685 s.
    * host_factor = probe_sec / this; 1.0 means "same speed as the
    * round-16 host", 1.37 means "the round-15 drift". Re-pin only if
    * the probe workload itself changes (then also note the repin in
    * SURVEY §6.0 so cross-round factors stay comparable). */
  val HostProbeReferenceSec: Double = 0.66

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = tools.Harness.cpus
    val repeats = tools.Harness.positiveInt(sys.env, "SPARK_GRAFT_BENCH_REPEATS", 3)
    val spark = tools.Harness.session("WARN")
    val counter = new tools.TagCounter
    spark.sparkContext.addSparkListener(counter)
    // Calibration first, on a fresh JVM state identical across rounds
    // (the probe carries its own untimed warmup for codegen compile).
    val probeSec = hostProbeSec(spark, cpus)

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Optional args restrict the run to the named queries (exact names
    // or short keys), for local single-query probes; the driver passes
    // no args and always benches the full registry.
    val names = tools.Harness.select(args.toSeq)
    // One query failing must not zero the timing signal for the other
    // ~120 (the round-10/11 blackout): every execution is wrapped, the
    // first failure per query is recorded (name -> exception summary),
    // and the failed set is carried into the emitted JSON.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def tryRun(name: String): Boolean =
      try { run(name); true }
      catch {
        // Fatal VM errors (OOM, code-cache exhaustion) leave the JVM in
        // a state where every subsequent timing is unreliable — rethrow
        // instead of benching past them.
        case e: VirtualMachineError => throw e
        case e: Throwable =>
          if (!failed.contains(name)) {
            failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
            System.err.println(s"[bench] FAILED $name: ${failed(name)}")
          }
          false
      }
    // Warm up with a query that is actually IN this run: warming with
    // all.head would, on an arg-restricted probe run, record a failure
    // for a query the caller never asked about and force exit(1).
    tryRun(names.head) // untimed warmup

    // Sampling plan: one pass over the whole registry, then one
    // PHASE-SEPARATED second pass (none when repeats = 1), then
    // (repeats-2) BACK-TO-BACK runs per query: exactly `repeats`
    // samples per query. Rationale
    // (round-8 measurements): a transient JVM phase (GC pressure, JIT
    // deopt, code-cache sweep) lasts seconds and parks on whichever
    // queries run inside it — back-to-back-only repeats put ALL of a
    // query's samples inside the same phase, so even the min was
    // poisoned (q82: 4.4 s back-to-back, min == median, vs 1.1 s
    // isolated). But FULLY round-robin sampling is worse: cycling ~100
    // queries between repeats churns the bounded codegen-class cache,
    // so every sample pays whole-stage recompilation and the registry
    // total inflates ~20% across the board. The hybrid keeps the tight
    // warm-cache min for healthy queries and lets the separated sample
    // (taken far away in time, almost surely outside the phase) rescue
    // a poisoned one via the min.
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    def sample(name: String): Unit = if (!failed.contains(name)) {
      val t0 = System.nanoTime()
      if (tryRun(name))
        times(name) = times(name) :+ (System.nanoTime() - t0) / 1e9
      else times.remove(name) // mid-run failure poisons earlier samples too
    }
    // Tier protocol (round-15 budget guard): the full-registry bench
    // grows linearly with registry size (262 s of min-sum at 305
    // queries), and the heavy tail dominates wall-clock. Every query
    // still gets a min-time record every round — coverage never
    // shrinks — but a query whose MIN over its first two samples (the
    // first pass and the phase-separated pass) exceeds the heavy
    // threshold is tagged `heavy` and skips the extra back-to-back
    // repeats, keeping min(2, repeats) samples (the min of two still
    // dodges a single poisoned phase). The first sample alone would
    // not do: it is the query's cold first touch (fixture builds,
    // first codegen), which tagged q266, q270 and q271 heavy on first
    // samples above 3 s although their later samples ran 2.1-2.3 s.
    // Core queries keep the full `repeats` plan. Cross-round
    // adjudication of a heavy mover uses the established
    // two-consecutive-runs rule — rerun the mover in isolation, only
    // when it moved. The tier split is emitted on its own detail line
    // so the adjudicator can tell which sampling plan produced a
    // number.
    val heavySec = tools.Harness.positiveDouble(sys.env, "SPARK_GRAFT_BENCH_HEAVY_SEC", 3.0)
    for (name <- names) {
      spark.sparkContext.setLocalProperty(tools.TagCounter.Key, name)
      sample(name)
    }
    spark.sparkContext.setLocalProperty(tools.TagCounter.Key, null)
    if (repeats >= 2) for (name <- names) sample(name)
    val heavy = names.filter(n => times(n).nonEmpty && times(n).min > heavySec).toSet
    for (name <- names; _ <- 2 until repeats) if (!heavy(name)) sample(name)
    val results = names.filter(times(_).nonEmpty).map(name => name -> (times(name): Seq[Double]))
    // A future name collision on the short key (e.g. q53_funnel vs
    // q53_retention) would silently emit duplicate JSON keys in the
    // adjudicated line and drop a measurement — fail loudly instead.
    require(names.map(_.takeWhile(_ != '_')).distinct.size == names.size,
      "bench short keys (prefix before first '_') must be unique")
    // The driver snapshots only the LAST 2000 chars of stdout and
    // json-parses the final line. At 198 queries even the short-key
    // per-query map is ~3.5 kB — it can never fit, and through round
    // 13 it was the FINAL line, so the tail cut it mid-line and the
    // official artifact lost per-query detail AND the parseable
    // summary (BENCH_r13.json parsed:null). The contract is now
    // ordered so the final bytes are always complete: all per-query
    // detail lines (full-name min, full-name median, short-key min —
    // their heads may fall outside the tail; the committed
    // scripts/bench_local_r*.jsonl carries them in full) print FIRST,
    // and the LAST line is a guaranteed-small (~500 B) closing
    // summary: total, median_total, n, failures, and a top-10
    // min-time digest under the driver-expected "queries" key. 10
    // entries * ~30 B + fixed fields stays far inside 2000 B even
    // with every failure name listed. Printed AFTER spark.stop() so
    // no late executor/log line can land after them; build.sbt sets
    // Global/showSuccess := false so sbt's "[success] Total time"
    // epilogue cannot displace the metric line either. Locale.ROOT
    // pins the decimal separator: f"$v%.3f" under a comma-decimal
    // locale (de_DE) would emit "1,234" — invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def render(entries: Seq[(String, Seq[Double])], short: Boolean, stat: Seq[Double] => Double): String =
      entries.map { case (k, ts) =>
        "\"" + (if (short) k.takeWhile(_ != '_') else k) + "\":" + fmt(stat(ts))
      }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val totalMedian = results.map(r => median(r._2)).sum
    // Top-10 digest: the heaviest queries by min-time, the ones whose
    // cross-round movement actually matters for adjudication.
    val top10 = results.sortBy(-_._2.min).take(10)
    spark.stop()
    // Two full-name lines for humans and cross-round adjudication: the
    // per-query MIN (the plan's cost) and the per-query MEDIAN (what a
    // steady-state run sees) — a query whose min and median disagree
    // by 5x is jitter, not a regression (the round-7 q45/q46 lesson).
    val failedJson =
      if (failed.isEmpty) ""
      else failed.keys.map(k => "\"" + k.takeWhile(_ != '_') + "\"").mkString(""","failed":[""", ",", "]")
    // Failure messages can carry any character the exception chose —
    // escape backslash/quote and strip the rest of the control range
    // (a raw tab or CR inside a JSON string is invalid and would make
    // the driver fail to parse the metrics line).
    def jsonStr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"").filter(_ >= ' ') + "\""
    println(s"""{"metric":"queries_by_name","queries":${render(results, short = false, _.min)},"failures":${failed.map { case (k, v) => "\"" + k + "\":" + jsonStr(v) }.mkString("{", ",", "}")}}""")
    println(s"""{"metric":"queries_median_by_name","queries":${render(results, short = false, median)}}""")
    println(s"""{"metric":"queries_min_short","queries":${render(results, short = true, _.min)}}""")
    println(s"""{"metric":"tiers","heavy_threshold_sec":${fmt(heavySec)},"heavy":${heavy.toSeq.sorted.map(k => "\"" + k.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")}}""")
    val jobCounts = counter.counts
    println(names.flatMap(n => jobCounts.get(n).map { case (j, st, t) =>
      s""""$n":{"jobs":$j,"stages":$st,"tasks":$t}"""
    }).mkString("""{"metric":"jobs_by_name","queries":{""", ",", "}}"))
    // cpus is part of the calibration identity: the 0.66 s reference is
    // pinned at 4 CPUs, so a round benched with a different
    // SPARK_GRAFT_CPUS shifts the factor for host-independent reasons —
    // bench_diff.py refuses to divide factors from unequal cpu counts.
    println(s"""{"metric":"host_factor","probe_sec":${fmt(probeSec)},"reference_sec":${fmt(HostProbeReferenceSec)},"factor":${fmt(probeSec / HostProbeReferenceSec)},"cpus":$cpus}""")
    println(s"""{"metric":"total","value":${fmt(total)},"median_total":${fmt(totalMedian)},"unit":"sec","n":${results.size},"sf":"$sfDir"$failedJson,"queries":${render(top10, short = true, _.min)},"detail":"top-10 min digest; full per-query maps on the 3 preceding lines"}""")
    // Exit nonzero AFTER the metric lines so a failure is loud in the
    // driver's rc without erasing the timings of healthy queries.
    if (failed.nonEmpty) sys.exit(1)
  }
}
