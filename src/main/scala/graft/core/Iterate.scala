package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, min, sum, when}

/** Round barrier and loop for iterative dataframe algorithms (label
  * propagation, frontier relaxation, closure squaring, fixpoints).
  * Every convergence loop in LinkGraph, Dedup.componentLabels and
  * Hierarchy runs through [[fixpoint]] (round index, convergence test,
  * cap, loud error); each round body materializes its state through
  * [[barrier]] / [[barrierCounted]], whose observed count is the
  * loop's convergence signal.
  *
  * `localCheckpoint()` alone cuts LINEAGE but not the STATS feedback:
  * the checkpointed `LogicalRDD` leaf inherits the origin plan's
  * ESTIMATED `sizeInBytes`, and Catalyst's size-only estimator
  * multiplies child sizes through joins and unions — so when round
  * k+1's plan contains round k's leaf two or three times (a self-join
  * or a multi-branch union, the normal shape of a fixpoint round),
  * the estimate's DIGIT COUNT doubles or triples per round. Measured
  * on a constant-size 100-row fixpoint: 6 → 12 → 22 → … → 11,172
  * digits by round 12 with plain localCheckpoint. By round ~15 the
  * driver is single-threadedly multiplying million-digit BigIntegers
  * inside stats estimation — the job looks "hung" at 100% driver CPU
  * while every executor idles (caught live on q255's entity-resolution
  * components at sf0.1: componentLabels' 3-branch union tripled digits
  * per round and the per-round checkpoint itself stalled in
  * `LogicalRDD.fromDataset` → `stats`).
  *
  * `barrier` materializes the round AND rebuilds the frame from the
  * checkpointed RDD (the public GraphFrames connected-components
  * device), so the new leaf's statistics reset to the session default
  * every round — measured flat at 19 digits over the same 12 rounds.
  * The reset makes the leaf's size estimate conservative (never
  * broadcast), which is the correct default for a fixpoint's state
  * frame anyway: at scale the label/distance table is the BIG side.
  * Frames checkpointed ONCE outside a loop (edge lists, inputs) should
  * keep plain `localCheckpoint()` — their real estimates stay useful
  * and nothing compounds. The row re-encoding this adds is linear in
  * the (node-sized, narrow) state frame — noise next to the shuffle
  * each round already pays. */
object Iterate {

  def barrier(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** [[barrier]] plus a changed-row count collected DURING the
    * checkpoint's own materialization action — the fixpoint loops'
    * convergence check for free. Plain `barrier` + a separate
    * `filter(changed).isEmpty` costs a second job per round (cheap —
    * it scans the materialized RDD — but a full plan-compile +
    * driver↔cluster round trip each iteration). Here the count rides
    * the eager localCheckpoint as an `observe` metric
    * (`CollectMetrics` — Spark's exactly-once accumulator path,
    * immune to the task-retry double-count a raw LongAccumulator
    * risks), so one action yields both the materialized round and its
    * convergence signal.
    *
    * The metric is read SYNCHRONOUSLY from the observed frame's own
    * `queryExecution.observedMetrics` — accumulator updates are
    * applied before the materializing action returns, so the value is
    * ready the moment localCheckpoint comes back. (The previous
    * listener-based read — `Observation.future` + Await — waited on
    * the async QueryExecutionListener bus and measured +25 ms/round
    * of pure delivery latency across this repo's ~50-round fixpoint
    * queries, r19.) If the metric is ever absent (defensive branch
    * only — never observed), the count falls back to one extra job
    * over the already-checkpointed RDD, the old two-action behavior:
    * correctness never depends on the fast path. */
  def barrierCounted(df: DataFrame, changed: Column): (DataFrame, Long) = {
    val name = "__n_changed_" + java.util.UUID.randomUUID().toString
    val obsDf = df.observe(name,
      sum(when(changed, 1L).otherwise(0L)).as("n_changed"))
    val cp = obsDf.localCheckpoint()
    val out = cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
    val n = obsDf.queryExecution.observedMetrics.get(name) match {
      case Some(r) if !r.isNullAt(r.fieldIndex("n_changed")) =>
        r.getAs[Number]("n_changed").longValue()
      case Some(_) => 0L // empty input: sum over zero rows is null
      case None => out.filter(changed).count() // defensive fallback
    }
    (out, n)
  }

  // r20: the r19 `withAqeGate` device (disable AQE for fixpoint loops
  // with state under 1M rows) was REMOVED. It traded AQE's ~120 ms/round
  // stage-job overhead (measured at local[4]) for running every
  // per-round shuffle at raw `spark.sql.shuffle.partitions` — a cost
  // proportional to the CLUSTER shape, not the data: at the driver's
  // local[32] it regressed the whole fixpoint family 1.5–2.9× (q255
  // 5.7→13.0 s; every affected query ran FASTER at 8 cores than at
  // 32), and at warehouse shuffle.partitions≈2000 the shrinking-tail
  // rounds it targeted become 2000-tiny-task storms — AQE partition
  // coalescing IS the tail's fix, never its disease. It also mutated
  // the session-global AQE conf around a loop, racing any concurrent
  // query on the same session.

  /** Broadcast hint gated on a MEASURED row count (guide §3.1: pick
    * the join strategy deliberately — broadcast the side that fits).
    * Fixpoint state frames deliberately reset their size statistics
    * every round ([[barrier]]'s conservative-never-broadcast default),
    * which is right when nothing better is known — but the loops that
    * call this KNOW the state's exact row count for free (it rides the
    * round's own barrier as an observe metric), so the decision can be
    * made on DATA, not estimates: below [[BroadcastRowFloor]] the
    * state side of the round's join broadcasts, removing every
    * exchange of the (at scale, far larger) edge/relation side; at or
    * above it the join keeps the shuffle path that big state genuinely
    * needs. The floor is rows, not bytes, because these state frames
    * are uniformly narrow (an id and a label/count); 500k rows of two
    * ids is a few tens of MB framed — well inside the guide's "a few
    * hundred MB is usually fine" broadcast budget, and far under the
    * 8 GB / 512M-row hard cap. Unlike the removed AQE gate this
    * mutates nothing session-global: the hint rides the one plan it
    * belongs to. */
  def broadcastIfSmall(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows >= 0 && measuredRows < BroadcastRowFloor) broadcast(df)
    else df

  private val BroadcastRowFloor = 500000L

  /** The one convergence loop of every fixpoint operator: starting
    * from `seed`, run `round(state, i)` for i = 1, 2, … until `done`
    * holds. `done` is checked BEFORE each round, so a seed that is
    * already done runs zero rounds. Once `maxRounds` rounds have run
    * and `done` still fails, throws `IllegalStateException(onCap)` —
    * a capped fixpoint is a wrong answer, never a silent
    * approximation (the componentLabels contract). Only the control
    * logic lives here; each round body materializes its own state
    * through [[barrier]]/[[barrierCounted]] (the loops take one to
    * five barriers per round). */
  def fixpoint[S](seed: S, maxRounds: Int, onCap: => String)
                 (done: S => Boolean)(round: (S, Int) => S): S = {
    @annotation.tailrec
    def go(s: S, i: Int): S =
      if (done(s)) s
      else if (i >= maxRounds) throw new IllegalStateException(onCap)
      else go(round(s, i + 1), i + 1)
    go(seed, 0)
  }

  /** One fused min-label relaxation round, shared by
    * `Dedup.componentLabels` and `LinkGraph.stronglyConnected`: every
    * node d receives label(s) over ONE relation R = `rel` ∪ pointer
    * edges (label(v), v) ∪ tagged self-loops (v, v), so "pull labels
    * across edges", "pointer-jump to label(label(v))" and "keep own
    * label" are one join + one (d) aggregate per round (r19 opt,
    * guide §2.1: the three relaxations as separate joins cost ≈5–7
    * exchanges per round, each its own AQE stage-job). `rel` carries
    * (s, d); `labels` carries (node, label) with exactly one row per
    * node, `labelRows` of them (measured), so below the broadcast
    * floor the labels side broadcasts and the aggregate is the
    * round's only exchange. The self branch is the only one tagged
    * `__self`, so max(when(__self, label)) is each node's previous
    * label: returns the barrier-materialized (node, label, __old)
    * frame and the count of nodes whose label changed, from the same
    * action (one job per round).
    *
    * A second pointer jump per round (label³) was measured slower in
    * both callers, in r19 as an extra shuffled join and in r20 as a
    * broadcast-gated map-side join (11-query fixpoint suite 45.8 s
    * with it vs 43.9 s without, min of 3): extra rounds of this cheap
    * fused round beat an extra join per round. */
  def minLabelRound(rel: DataFrame, labels: DataFrame,
                    labelRows: Long): (DataFrame, Long) = {
    val labelType = labels.schema("label").dataType
    val relation = rel.select(col("s"), col("d"), lit(false).as("__self"))
      .union(labels.select(col("label").as("s"), col("node").as("d"),
        lit(false).as("__self")))
      .union(labels.select(col("node").as("s"), col("node").as("d"),
        lit(true).as("__self")))
    barrierCounted(relation
      .join(broadcastIfSmall(
        labels.select(col("node").as("s"), col("label")), labelRows), "s")
      .groupBy(col("d").as("node"))
      .agg(min("label").as("label"),
        max(when(col("__self"), col("label"))
          .otherwise(lit(null).cast(labelType))).as("__old")),
      col("label") =!= col("__old"))
  }
}
