package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, sf: String, checkSf: String, work: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("cores").toInt, get("sf"), get("check-sf"), get("work"))
  }
}

final case class OpRecord(op: String, pass: Int, seconds: Double, ok: Boolean, rows: Long)

/** One workload in one JVM: set-ups, each ending in an untimed warm-up
  * op; untimed, the output capture; a closed loop of passes (one client
  * thread; the next op starts when the previous one returns); then,
  * untimed, the host probe. Writes `result.json` into the work directory for
  * `run.py`, which attaches the metrics' units from BENCHMARK.json. */
object Main {
  implicit private val formats: Formats = DefaultFormats

  /** Set-ups per timed run; `setup_s` is their median. A traced run,
    * which does not report `setup_s`, sets up once. */
  val SetUps = 3

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    // Each set-up is JVM start (measured once, up to here), a fresh
    // SparkSession and the untimed warm-up op; the later ones stop the
    // previous session first. The last session runs the loop.
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val setUps = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (_ <- 1 to (if (args.trace) 1 else SetUps)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args)
      w = Workload(args.workload, spark, args)
      w.warmUp()
      setUps += jvmStartS + (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(setUps.toSeq)

    // Untimed, before the loop: what the output checks compare is taken
    // here. For bar_queries this runs every query's plan once, so the
    // measured pass does not depend on which query the seed puts first.
    // The resident peak is reset after it, so `rss_peak_mb` is the loop's.
    val captureStart = System.nanoTime()
    w.writeChecks()
    val captureS = (System.nanoTime() - captureStart) / 1e9
    resetVmHwm()

    val rows = w.passOrder(0).map(op => op -> w.inputRows(op)).toMap
    val loopStart = System.nanoTime()
    val ops = ArrayBuffer.empty[OpRecord]
    val (metrics, extra) =
      if (!args.trace) {
        val passes = loop(w, args.seconds, None, ops, rows)
        // Read before the untimed host probe, so the peak is the loop's.
        val rss = vmHwmMb()
        (endToEnd(setupS, passes, ops.toSeq, rss),
          tailContext(ops.toSeq) ++ Map("passes_s" -> passes))
      } else {
        // One pass warms every op, so the untraced and traced passes
        // compared for the tracing overhead are both warm.
        loop(w, 0, None, ops, rows)
        val untraced = loop(w, 0, None, ops, rows)
        val tracer = new Tracer(spark)
        val firstTraced = ops.size
        val traced = loop(w, args.seconds, Some(tracer), ops, rows)
        val layers = Layers.metrics(w, tracer, ops.size - firstTraced, args.cores,
          Stats.median(untraced), Stats.median(traced))
        (layers, Map("untraced_pass_s" -> Stats.median(untraced),
          "traced_pass_s" -> Stats.median(traced), "traced_ops" -> (ops.size - firstTraced)))
      }
    val measureS = (System.nanoTime() - loopStart) / 1e9

    val probeS = graft.Bench.hostProbeSec(spark, args.cores)

    val result = Map(
      "metrics" -> metrics,
      "ops" -> ops.map(o => Map("op" -> o.op, "pass" -> o.pass, "s" -> o.seconds, "ok" -> o.ok)),
      "checks" -> w.checkFacts,
      "context" -> (Map(
        "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
        "setups_s" -> setUps, "capture_s" -> captureS, "measure_s" -> measureS,
        "host_probe_s" -> probeS,
        "host_factor" -> probeS / graft.Bench.HostProbeReferenceSec) ++ extra))
    Files.writeString(Paths.get(s"${args.work}/result.json"), Serialization.write(result))
    spark.stop()
  }

  /** Closed loop of whole passes: passes run until `seconds` have gone
    * by at the end of one, so at least one pass runs. Returns the wall
    * time of each pass; the resets between passes are not timed. */
  def loop(w: Workload, seconds: Double, tracer: Option[Tracer],
           ops: ArrayBuffer[OpRecord], rows: Map[String, Long]): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = ArrayBuffer.empty[Double]
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val pass = passes.size
      w.resetPass()
      val start = System.nanoTime()
      for (op <- w.passOrder(pass)) {
        val t0 = System.nanoTime()
        val ok =
          try { w.run(op, ops.size, tracer); true }
          catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] op $op failed: $e")
              false
          }
        ops += OpRecord(op, pass, (System.nanoTime() - t0) / 1e9, ok, rows(op))
        System.err.println(f"[perfbench] pass $pass op $op ${ops.last.seconds}%.3f s")
      }
      passes += (System.nanoTime() - start) / 1e9
    }
    passes.toSeq
  }

  def endToEnd(setupS: Double, passes: Seq[Double], ops: Seq[OpRecord],
               rssMb: Double): Map[String, Double] = {
    val lat = ops.map(_.seconds)
    Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passes),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> Stats.tail(lat).value,
      "rows_per_s" -> ops.filter(_.ok).map(_.rows).sum / lat.sum,
      "rss_peak_mb" -> rssMb)
  }

  private def tailContext(ops: Seq[OpRecord]): Map[String, Any] = {
    val t = Stats.tail(ops.map(_.seconds))
    Map("op_p50_samples" -> ops.size, "op_tail_percentile" -> t.percentile,
      "op_tail_samples" -> t.samples, "op_tail_beyond" -> t.beyond)
  }

  /** Resets this process's VmHWM to its current resident set. */
  def resetVmHwm(): Unit = Files.writeString(Paths.get("/proc/self/clear_refs"), "5")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
