package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph centrality over an edge list — the crawl-prioritization
  * signal behind CommonCrawl's harmonic/PageRank domain ranking (and
  * the quality prior several LLM corpus pipelines reuse: a page on a
  * well-linked domain is worth crawling and keeping before an orphan).
  *
  * Reference scope: the reference pipeline has no graph operator; this
  * extends the SURVEY §2.13 training-data surface (link harvest from
  * E-html feeds an edge list; this ranks it).
  *
  * Design — exact fixed-point PageRank (Page et al. 1999), NOT floats:
  * a float PageRank sums per-target contributions in partition order,
  * so the same graph can hash to different doubles run-to-run; ranks
  * here are BIGINT micro-units (`unit` = 1.0), every step is integer
  * multiply / floor-div / exact BIGINT sum, so the result is
  * bit-identical under ANY partitioning and any engine. The rounding
  * policy (floor at the contribution split and at the damping
  * multiply) is part of the operator's spec — the DuckDB oracle
  * applies the identical policy and must hash-match.
  *
  * Dangling nodes (in-links but no out-links) leak their mass rather
  * than redistributing it: redistribution needs a global
  * sum-of-dangling term each iteration, which is one more all-reduce
  * per step for a constant that vanishes under normalization; the
  * leaked variant keeps every step a local join+sum and is the
  * documented spec here.
  *
  * Scale shape: each iteration is (ranks ⋈ outdeg on node) ⋈ edges on
  * src → groupBy dst SUM — two hash joins and one partial-agg shuffle,
  * all keyed on the node id, linear in |edges|. Nothing is collected;
  * the iteration count is a small constant. Plans compose lazily and
  * depth grows linearly with `iterations`; for dozens of iterations
  * pass `materialize` (e.g. `_.localCheckpoint()`) to cut lineage —
  * at the default 3–10 the pure plan is better because Catalyst sees
  * the whole pipeline.
  */
object LinkGraph {

  /** One rank unit = 1.0 of probability mass, in micro-units. 1e12
    * leaves ~6 decimal digits of headroom above a billion-node graph
    * before BIGINT sums could overflow (total mass is bounded by
    * n·unit ≤ 9.2e18 for n ≤ 9.2e6 at this unit; pick a smaller unit
    * for larger node universes — the parameter exists for that). */
  val DefaultUnit: Long = 1000000000000L

  /** Exact fixed-point PageRank. `edges` is any DataFrame with string
    * (or other equatable) `src`/`dst` columns; multi-edges are
    * deduplicated and self-loops dropped (a self-loop is a rank
    * no-op that only distorts the out-degree split). Damping is the
    * rational `dampNum/dampDen` (default 85/100) so the damped step
    * stays in integers.
    *
    * Returns one row per node: (node, out_degree, rank_units) where
    * rank_units is the rank after `iterations` steps from a uniform
    * `unit` start. out_degree = 0 marks a dangling node.
    */
  def pagerank(edges: DataFrame, src: String, dst: String,
               iterations: Int = 3,
               unit: Long = DefaultUnit,
               dampNum: Long = 85, dampDen: Long = 100,
               materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")

    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

    // Node universe: anything that appears on either side. The rank
    // vector lives on this frame; every join below is keyed on `node`.
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()

    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))

    // Base (teleport) mass: floor(unit * (1 - d)) in one integer step.
    val base = (unit * (dampDen - dampNum)) / dampDen

    var ranks = nodes.withColumn("rank_units", lit(unit))
    for (_ <- 1 to iterations) {
      // Split each node's rank evenly over its out-edges (floor div —
      // the remainder, < out_degree micro-units, leaks; that loss is
      // part of the exact spec). Dangling nodes have no outdeg row and
      // contribute nothing.
      // Integer `div`, not double division + cast: a double round-trip
      // is only exact below 2^53, which a billion-node mass sum clears.
      val contribs = e
        .join(ranks.join(outdeg, "node").withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("rank_units div out_degree").as("contrib"))
      val inMass = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      ranks = materialize(
        nodes.join(inMass, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampNum * coalesce(in_mass, 0L)) div $dampDen"))
              .as("rank_units")))
    }

    nodes.join(outdeg, Seq("node"), "left")
      .join(ranks, "node")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        col("rank_units"))
  }

  /** TrustRank — seed-personalized PageRank (Gyöngyi, Garcia-Molina &
    * Pedersen, *Combating Web Spam with TrustRank*, VLDB 2004): the
    * teleport mass lands ONLY on a trusted seed set, so trust flows
    * outward along links and pages unreachable from any seed decay to
    * zero — the published quality-propagation prior a web corpus uses
    * to damp spam neighborhoods before per-domain caps. Same exact
    * BIGINT micro-unit arithmetic and iteration plan as [[pagerank]]
    * (two hash joins + one agg per step, nothing collected,
    * bit-identical under any partitioning); the ONLY differences are
    * the start vector (unit on seeds, 0 elsewhere) and the teleport
    * base (seeds only). Seeds arrive as a DataFrame (a seed list at
    * corpus scale is itself a table, not a literal), joined once and
    * carried as a flag.
    *
    * Returns (node, out_degree, is_seed, rank_units). */
  def trustRank(edges: DataFrame, seeds: DataFrame,
                src: String = "src", dst: String = "dst",
                seedCol: String = "node",
                iterations: Int = 3,
                unit: Long = DefaultUnit,
                dampNum: Long = 85, dampDen: Long = 100,
                materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")

    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val flagged = nodes
      .join(seeds.select(col(seedCol).as("node"), lit(true).as("is_seed")).distinct(),
        Seq("node"), "left")
      .withColumn("is_seed", coalesce(col("is_seed"), lit(false)))

    val base = (unit * (dampDen - dampNum)) / dampDen
    var ranks = flagged.select(col("node"),
      when(col("is_seed"), lit(unit)).otherwise(lit(0L)).as("rank_units"))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.join(outdeg, "node").withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("rank_units div out_degree").as("contrib"))
      val inMass = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      ranks = materialize(
        flagged.join(inMass, Seq("node"), "left")
          .select(col("node"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
              expr(s"($dampNum * coalesce(in_mass, 0L)) div $dampDen"))
              .as("rank_units")))
    }

    flagged.join(outdeg, Seq("node"), "left")
      .join(ranks, "node")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        col("is_seed"), col("rank_units"))
  }

  /** Harmonic centrality (the OTHER CommonCrawl ranking, used for its
    * published host-level rank alongside PageRank): H(v) = Σ 1/d(u,v)
    * over nodes u with a directed path to v, here EXACT within a
    * bounded radius — contributions are integer micro-units
    * floor(`scale`/d) summed in BIGINT, so like [[pagerank]] the
    * result is bit-identical under any partitioning and any engine
    * (1/d as a double would sum in partition order). Unreachable and
    * beyond-radius pairs contribute zero, which is the standard
    * harmonic treatment of disconnection (the reason CommonCrawl
    * prefers it over closeness).
    *
    * Algorithm: BFS frontier propagation on (node, from) pairs —
    * depth-d frontier = (depth-(d-1) frontier ⋈ edges), anti-joined
    * against every shallower pair so each pair contributes at its
    * SHORTEST distance only (BFS level = min distance, the invariant
    * the spec pins); per depth the new pairs collapse immediately
    * into a per-node count · floor(scale/d) partial sum — the pair
    * set is never materialized beyond the frontier itself.
    *
    * Scale shape: each depth is one hash join + one anti-join + one
    * partial agg, all keyed on node ids, nothing collected. The
    * honest caveat, documented not hidden: the frontier holds
    * REACHABLE-PAIR state — O(Σ_v |ball(v, maxDepth)|), fine for
    * bounded radius over sparse link graphs (the diameter-bounded
    * neighborhoods a domain graph has), quadratic on a dense giant
    * component at full depth. Web-scale full-radius harmonic
    * centrality uses HyperBall-style HLL counters per node (Boldi &
    * Vigna 2013) — approximate by construction and therefore not
    * hash-oracle-able; this operator is the exact bounded-radius
    * form that CAN be gated, and the one curation pipelines run on
    * domain-level graphs (|nodes| = domains, not pages).
    *
    * Unlike [[pagerank]] (linear plan growth, pure plan fine at small
    * iteration counts), the BFS recursion REFERENCES ITSELF TWICE per
    * depth — `visited` feeds both the anti-join and the next union —
    * so an unmaterialized plan doubles in size every level (measured:
    * ~9 s at radius 4 on a 29-node graph, pure plan-compile cost).
    * `materialize` therefore defaults to `localCheckpoint()`: each
    * frontier/visited is computed once and the lineage cut, the same
    * frontier-checkpoint discipline every iterative graph engine uses
    * (pass `identity` only for plan-inspection tests). Round 14: the
    * default is [[graft.core.Iterate.barrier]] — lineage cutting
    * alone leaves the stats-estimate feedback compounding (see
    * Iterate's scaladoc).
    *
    * Returns (node, reached, harmonic_units): in-ball size and the
    * micro-unit harmonic sum after radius `maxDepth`. */
  def harmonicCentrality(edges: DataFrame, src: String, dst: String,
                         maxDepth: Int = 4,
                         scale: Long = 1000000L,
                         materialize: DataFrame => DataFrame =
                           graft.core.Iterate.barrier)
      : DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()

    // (node, from) = "a shortest path from `from` reaches `node`";
    // depth 1 is the reversed edge list itself.
    var visited = e.select(col("dst").as("node"), col("src").as("from"))
    var frontier = visited
    // depth-1 partial: every in-neighbor contributes floor(scale/1)
    var scores = frontier.groupBy("node")
      .agg((count(lit(1)) * lit(scale / 1)).as("partial"))
    for (d <- 2 to maxDepth) {
      // extend every known shortest path one edge backward: a path
      // from `w` to `node` plus an edge u→w is a path from u of
      // length d — kept only if (node, u) was not reached shallower.
      val extended = frontier
        .join(e.withColumnRenamed("dst", "from"), "from")
        .select(col("node"), col("src").as("from"))
        .where(col("from") =!= col("node"))
        .distinct()
      frontier = materialize(
        extended.join(visited, Seq("node", "from"), "left_anti"))
      visited = materialize(visited.union(frontier))
      scores = scores.union(
        frontier.groupBy("node")
          .agg((count(lit(1)) * lit(scale / d)).as("partial")))
    }

    nodes.join(
        visited.groupBy("node").agg(count(lit(1)).as("reached")),
        Seq("node"), "left")
      .join(scores.groupBy("node").agg(sum(col("partial")).as("harmonic_units")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("harmonic_units"), lit(0L)).as("harmonic_units"))
  }

  /** Stress centrality (Shimbel 1953) — "how many shortest paths run
    * THROUGH this node": the EXACT-INTEGER member of the betweenness
    * family, completing the centrality shelf (PageRank/TrustRank =
    * stationary mass, harmonic = closeness, HITS = endorsement, THIS =
    * brokerage). Betweenness proper divides by σ_st — a rational with
    * unbounded denominators, no cross-engine exact form (the stated
    * nDCG discipline: compute exactly or state what you compute);
    * stress keeps the raw path counts σ_st(v), ranks brokers the same
    * way on real graphs, and stays BIGINT end to end.
    *
    * Brandes-shaped two-phase computation (Brandes 2001's structure,
    * integer variant):
    *  1. FORWARD multi-source BFS on the pair state (src, node):
    *     dist(s,v) by round, σ(s,v) = Σ over dist-1 in-neighbors of
    *     σ — one join + one (s,v) aggregate per round, frontier-only
    *     (the [[harmonicCentrality]] skeleton with a σ column).
    *  2. BACKWARD continuation counts by DESCENDING level: p(s,v) =
    *     Σ_{w ∈ DAG-succ(v)} (p(s,w) + 1) — the number of shortest
    *     paths from v onward to ANY endpoint, an INTEGER recursion
    *     (each term counts path-endpoint pairs, no division). One
    *     level-filtered join per round over the visited frame.
    *  Then stress(v) = Σ_s σ(s,v)·p(s,v) over v ∉ {s}: s→t paths
    *  through v = (ways to reach v) × (shortest continuations).
    *
    * Sources default to EVERY node (exact stress; right for the
    * bounded fixture/domain graphs this inventory audits); at 100 TB
    * the stated governor is `sources` — a deterministic hash-chosen
    * pivot set (Brandes & Pich 2007's sampling, made reproducible),
    * with state = |sources|·|reachable| pairs, shuffle-partitioned on
    * (src, node). Directed semantics (paths follow edge direction);
    * `maxDepth` caps both phases and THROWS if the diameter exceeds
    * it (a silent cap would undercount brokerage silently).
    * Every round materializes via [[graft.core.Iterate.barrier]]. */
  def stressCentrality(edges: DataFrame, src: String, dst: String,
                       sources: DataFrame = null,
                       maxDepth: Int = 12): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val srcSet =
      (if (sources == null) nodes.select(col("node").as("s"))
       else sources.select(col(sources.columns.head).as("s")).distinct())
        .localCheckpoint()
    val (visited, d, nVisited) = stressForward(e, srcSet, maxDepth)

    // ---- backward: p(s,v) = Σ_{w ∈ succ} (p(s,w) + 1) --------------
    // DAG successor = edge v→w with dist(s,w) = dist(s,v) + 1.
    // Deepest level has no successors: p = 0. One join per level.
    // r19 opt, two structural cuts (guide §2.1/§2.2):
    //  - a DAG successor of a level-L node sits at EXACTLY level L+1,
    //    so the per-level join needs only the PREVIOUS level's p rows,
    //    not the whole accumulated table (the old shape joined every
    //    deeper level and filtered them out by key miss);
    //  - p is accumulated as a lazy union of the per-level
    //    checkpointed frames instead of re-checkpointing the whole
    //    accumulation every level (the stressForward device).
    val deepest = graft.core.Iterate.barrier(
      visited.filter(col("dist") === lit(d))
        .select(col("s"), col("node"), lit(0L).as("p")))
    // r20 (guide §3.1): every frame of a backward level — the level's
    // visited slice, the previous level's p rows, the aggregated
    // contrib — is bounded by the measured pair total (nVisited, free
    // from the forward pass), so below the floor all three joins
    // broadcast their small side and the (s, node) aggregate is the
    // level's only exchange (was ~5). The checkpointed edge table —
    // the big side at scale — then never shuffles per level.
    def ifSmall(df: DataFrame): DataFrame =
      graft.core.Iterate.broadcastIfSmall(df, nVisited)
    val pLevels = (d - 1 to 0L by -1L).scanLeft(deepest) { (prevLevel, level) =>
      val contrib = ifSmall(visited.filter(col("dist") === lit(level))
          .select(col("s"), col("node")))
        .join(e.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("s"), col("node"), col("dst"))
        .join(ifSmall(prevLevel.select(col("s"), col("node").as("dst"),
          col("p"))), Seq("s", "dst"))
        .groupBy(col("s"), col("node"))
        .agg(sum(col("p") + 1L).as("p"))
      graft.core.Iterate.barrier(visited.filter(col("dist") === lit(level))
        .select(col("s"), col("node"))
        .join(ifSmall(contrib), Seq("s", "node"), "left")
        .select(col("s"), col("node"), coalesce(col("p"), lit(0L)).as("p")))
    }
    val p = pLevels.reduce(_ unionByName _)

    // stress(v) = Σ_s σ(s,v)·p(s,v), v ≠ s
    nodes.join(
        visited.join(p, Seq("s", "node"))
          .filter(col("s") =!= col("node"))
          .groupBy(col("node"))
          .agg(sum(col("sigma") * col("p")).as("stress")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("stress"), lit(0L)).as("stress"))
  }

  /** [[stressCentrality]]'s forward multi-source BFS, extracted so the
    * spec can assert the GOVERNOR'S state bound directly: the returned
    * frame holds exactly one (s, node, dist, sigma) row per source ×
    * reachable-node pair (self included) — |sources|·|reachable|, not
    * |V|² — which is the whole point of the sampled-pivot path at
    * 100 TB. Returns (visited, exit round counter d, total visited
    * row count; the deepest materialized dist is the last round that
    * found pairs). */
  private[graph] def stressForward(e: DataFrame, srcSet: DataFrame,
                                   maxDepth: Int): (DataFrame, Long, Long) = {
    val (seed, nSeed) = graft.core.Iterate.barrierCounted(srcSet
      .select(col("s"), col("s").as("node"), lit(0L).as("dist"),
        lit(1L).as("sigma")), lit(true))
    // r19 opt: `visited` is kept as a LAZY union of the per-level
    // checkpointed frontiers instead of re-checkpointing the whole
    // accumulated frame every round — the old shape re-materialized
    // O(total·depth) rows across a BFS (every round rewrote all prior
    // levels); each leaf is already materialized, so the union costs
    // plan nodes only, and the anti-join scans the same row volume
    // either way.
    def visitedOf(levels: Seq[DataFrame]): DataFrame =
      levels.reduce(_ unionByName _)
    // Round cap is maxDepth + 1: the round at d == maxDepth + 1 is an
    // emptiness PROBE — a BFS that completes at exactly depth maxDepth
    // is a complete answer (the probe finds nothing and growing flips),
    // and the throw fires only when pairs exist BEYOND the cap. Without
    // the probe, diameter == maxDepth was spuriously refused. The probe
    // costs one round only when the frontier is still live at maxDepth.
    // State: (levels, frontier rows, visited rows, growing).
    val (levels, _, total, _) = graft.core.Iterate.fixpoint(
        (Vector(seed), nSeed, nSeed, true), maxDepth + 1,
        s"stressCentrality: pairs exist past depth $maxDepth — graph " +
          "diameter exceeds the cap; raise maxDepth (a silent cap would " +
          "undercount brokerage)")(!_._4) {
      case ((levels, nFrontier, total, _), d) =>
        // r20 (guide §3.1): the frontier's and visited's exact row
        // counts are measured (they ride each round's own barrier), so
        // both joins can broadcast the small side when it fits — the
        // edge table, the big side at scale, then never shuffles for
        // the expansion join, and the (s, node) aggregate is the
        // round's only exchange (was 5). Above the floor both joins
        // keep the shuffle path that big pair-state genuinely needs.
        val (next, nNew) = graft.core.Iterate.barrierCounted(
          graft.core.Iterate.broadcastIfSmall(levels.last, nFrontier)
            .join(e.withColumnRenamed("src", "node"), "node")
            .select(col("s"), col("dst").as("node"), col("sigma"))
            .join(graft.core.Iterate.broadcastIfSmall(
              visitedOf(levels).select(col("s"), col("node")), total),
              Seq("s", "node"), "left_anti")
            .groupBy(col("s"), col("node"))
            .agg(sum(col("sigma")).as("sigma"))
            .withColumn("dist", lit(d.toLong)), lit(true))
        if (nNew == 0L) (levels, nFrontier, total, false)
        else (levels :+ next.select("s", "node", "dist", "sigma"), nNew,
          total + nNew, true)
    }
    // every round but the last (empty) one added a level
    (visitedOf(levels), levels.size.toLong, total)
  }

  /** Truncated Katz centrality (Katz, Psychometrika 1953) — the
    * WALK-counting member of the centrality shelf (stress counts
    * shortest paths; PageRank normalizes per-step; Katz counts ALL
    * incoming walks, geometrically damped by length): x(v) =
    * Σ_{k=1..depth} β^k · #walks(·→v, length k). The standard
    * practical truncation (β^depth ≤ 2⁻⁸ by default — deeper terms
    * are sub-permille); β = 2^(−betaBits) so every term is a power
    * of two and the damped sum has an EXACT integer form:
    * `katz_units` = Σ_k w_k(v) · 2^(betaBits·(depth−k)) — the true
    * truncated Katz times the stated constant 2^(betaBits·depth),
    * same ranking, zero floats.
    *
    * Per round, Horner's rule: acc ← acc·2^betaBits + w_k with
    * w_k(v) = Σ_{u→v} w_{k−1}(u) — one edge join + one (node)
    * aggregate + one accumulator join behind `Iterate.barrier`;
    * exactly `depth` rounds, no convergence polling. Arithmetic runs
    * in DECIMAL(38,0) internally (walk counts compound by in-degree
    * per step; int64 products are the overflow risk the q304 rule
    * names), and the final BIGINT cast is guarded by one max-check
    * action — refuse loudly, never wrap (the mannKendall contract).
    * Directed; walks may revisit nodes (that IS Katz — use
    * [[stressCentrality]]/[[harmonicCentrality]] for path
    * semantics). */
  def katzCentrality(edges: DataFrame, src: String, dst: String,
                     betaBits: Int = 1, depth: Int = 8): DataFrame = {
    require(betaBits >= 1, "betaBits must be >= 1 (beta < 1 or the sum diverges)")
    require(depth >= 1 && depth * betaBits <= 60,
      "depth*betaBits must stay <= 60 (the 2^(betaBits*depth) unit " +
        "must fit a BIGINT)")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val two = math.pow(2, betaBits).toLong
    var w = graft.core.Iterate.barrier(
      nodes.select(col("node"), lit(1L).cast("decimal(38,0)").as("w")))
    var acc = graft.core.Iterate.barrier(
      nodes.select(col("node"), lit(0L).cast("decimal(38,0)").as("acc")))
    for (_ <- 1 to depth) {
      w = graft.core.Iterate.barrier(
        e.join(w.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"))
          .agg(sum(col("w")).as("w")))
      acc = graft.core.Iterate.barrier(
        acc.join(w, Seq("node"), "left")
          .select(col("node"),
            (col("acc") * two + coalesce(col("w"),
              lit(0L).cast("decimal(38,0)"))).cast("decimal(38,0)").as("acc")))
    }
    // Two guards in one action: (a) DECIMAL(38,0) overflow under
    // non-ANSI mode yields NULL — and max() SKIPS nulls, so without the
    // null count an overflowed node would silently emit NULL katz_units
    // while the max-check passed; (b) a finite max must still fit
    // BIGINT. Refuse loudly on either, never wrap (the q304 rule).
    val chk = acc.agg(max(col("acc")),
      count(when(col("acc").isNull, 1)).as("n_null")).head
    require(chk.getLong(1) == 0L,
      s"katzCentrality: ${chk.getLong(1)} node(s) overflowed " +
        "DECIMAL(38,0) (NULL acc under non-ANSI arithmetic) — lower " +
        "depth or raise betaBits")
    val maxAcc = if (chk.isNullAt(0)) BigDecimal(0)
      else BigDecimal(chk.getDecimal(0))
    require(maxAcc <= BigDecimal(Long.MaxValue),
      s"katzCentrality: max katz_units $maxAcc overflows BIGINT — " +
        "lower depth or raise betaBits")
    acc.select(col("node"), col("acc").cast("long").as("katz_units"))
  }

  /** Per-node eccentricity over the directed reachable set — the
    * diameter/radius diagnostic (diameter = max ecc, radius = min ecc
    * over nodes that reach anything; both one aggregate over this
    * output): ecc(s) = max_{v reachable, v ≠ s} dist(s, v), with
    * `n_reached` reporting the reachable-set size so a disconnected
    * graph's small eccentricities read as what they are (stated —
    * unreachable pairs contribute nothing, the harmonicCentrality
    * convention; a node reaching nothing reports ecc 0 / n_reached
    * 0, never NULL). The [[stressCentrality]] forward BFS minus the
    * σ column: frontier-only (s, node) pair state, one join + one
    * aggregate per round behind `Iterate.barrierCounted`; `maxDepth`
    * THROWS only when pairs exist past the cap — diameter == maxDepth
    * succeeds via an emptiness-probe round (a silently capped
    * eccentricity is a wrong answer, not an approximation). */
  def eccentricity(edges: DataFrame, src: String, dst: String,
                   maxDepth: Int = 12): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val seed = graft.core.Iterate.barrier(
      nodes.select(col("node").as("s"), col("node"), lit(0L).as("dist")))
    // maxDepth + 1 cap = one emptiness-probe round past the cap, so a
    // diameter of exactly maxDepth succeeds (see stressCentrality).
    // State: (visited, frontier, growing).
    val (visited, _, _) = graft.core.Iterate.fixpoint((seed, seed, true),
        maxDepth + 1,
        s"eccentricity: pairs exist past depth $maxDepth — graph " +
          "diameter exceeds the cap; raise maxDepth")(!_._3) {
      case ((visited, frontier, _), d) =>
        val (next, nNew) = graft.core.Iterate.barrierCounted(
          frontier.join(e.withColumnRenamed("src", "node"), "node")
            .select(col("s"), col("dst").as("node"))
            .join(visited.select(col("s"), col("node")),
              Seq("s", "node"), "left_anti")
            .distinct()
            .withColumn("dist", lit(d.toLong)), lit(true))
        if (nNew == 0L) (visited, frontier, false)
        else (graft.core.Iterate.barrier(visited.unionByName(next)), next, true)
    }
    nodes.join(
        visited.filter(col("s") =!= col("node"))
          .groupBy(col("s").as("node"))
          .agg(max(col("dist")).as("eccentricity"),
            count(lit(1)).as("n_reached")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("eccentricity"), lit(0L)).as("eccentricity"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"))
  }

  /** HITS hubs & authorities (Kleinberg, *Authoritative Sources in a
    * Hyperlinked Environment*, JACM 1999) — the mutually-recursive
    * companion to [[pagerank]]: a good HUB links to good authorities,
    * a good AUTHORITY is linked from good hubs. For a corpus crawl the
    * two scores answer different questions than PageRank's single
    * stationary mass: authority ranks pages worth KEEPING (endorsed
    * content), hub ranks pages worth EXPANDING the frontier from
    * (directories/link pages — high hub, often worthless as training
    * text). Completes the centrality family next to PageRank (E108),
    * TrustRank (E113), and harmonic (q133).
    *
    * Exact-integer power iteration, same contract as [[pagerank]]:
    * hub/authority values are BIGINT micro-units, every step an exact
    * BIGINT sum or floor-div, so the result is bit-identical under any
    * partitioning and any engine. Kleinberg normalizes with an L2 norm
    * (irrational — not exactly computable); the documented spec here
    * renormalizes each matvec to total L1 mass n·unit by
    * `v·(n·unit) div Σv` — same fixed point direction, exactly
    * representable, and the floor remainder (< n units per step) is
    * part of the spec the oracle reproduces.
    *
    * Scale shape per half-iteration: one hash join of the score vector
    * onto the edge list (keyed on the score side's node id) + one
    * partial-agg shuffle on the other endpoint, then the rescale —
    * a 1-row exact-total aggregate broadcast back (the
    * [[normalizedRank]] pattern), linear in |edges|, nothing
    * collected. Exactness bound (multiply-before-divide):
    * maxRaw·n·unit < 2^63 where maxRaw ≤ maxDegree·n·unit — at the
    * default unit 1e6 that holds to ~10^5 nodes · degree 100; pass a
    * smaller `unit` for bigger universes (the pagerank parameter
    * precedent). Iterations compose lazily; pass `materialize` to cut
    * lineage on deep runs (the [[pagerank]] hook).
    *
    * Returns one row per node:
    * (node, out_degree, in_degree, hub_units, auth_units) after
    * `iterations` full (authority, hub) rounds from a uniform `unit`
    * hub start. Source-less nodes keep authority 0; sink-less nodes
    * keep hub 0.
    */
  def hits(edges: DataFrame, src: String, dst: String,
           iterations: Int = 2, unit: Long = 1000000L,
           materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // r19 opt: checkpoint the deduplicated edge list and the node
    // universe ONCE — every half-iteration references both (matvec
    // joins e and lands on nodes; rescale references its input twice
    // for the exact-total broadcast), so the lazy subtrees compound
    // ~4^iterations deep and q155's 2-iteration plan compiled to
    // 15k formatted lines with the driver spending 3.5 of its 4.4 s
    // in Catalyst, not in jobs (guide §1.3/§5: plan growth is driver
    // memory/time). Two tiny eager jobs bound the whole tree.
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()

    // L1 renormalization to total mass n·unit, exact: one 1-row
    // aggregate broadcast back to every row. Σv > 0 whenever the
    // graph has an edge (the uniform start puts `unit` on every
    // node and every edge carries its source's mass).
    def rescale(raw: DataFrame, valueCol: String): DataFrame = {
      val totals = raw.agg(
        sum(col(valueCol)).as("__sum"),
        (count(lit(1)) * lit(unit)).as("__mass"))
      raw.crossJoin(broadcast(totals))
        .select(col("node"),
          expr(s"($valueCol * __mass) div __sum").as(valueCol))
    }
    // One matvec: pull `scores` onto the `from` endpoint of each
    // edge, sum per `to` endpoint, land on the full node frame so
    // unreached nodes carry an explicit 0 into the rescale's count.
    def matvec(scores: DataFrame, from: String, to: String,
               valueCol: String): DataFrame =
      nodes.join(
          e.join(scores.withColumnRenamed("node", from), from)
            .groupBy(col(to).as("node"))
            .agg(sum(valueCol).as(valueCol)),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col(valueCol), lit(0L)).as(valueCol))

    var hubs = nodes.withColumn("hub_units", lit(unit))
    var auths = nodes.withColumn("auth_units", lit(0L))
    for (_ <- 1 to iterations) {
      auths = materialize(rescale(
        matvec(hubs.withColumnRenamed("hub_units", "auth_units"),
          "src", "dst", "auth_units"), "auth_units"))
      hubs = materialize(rescale(
        matvec(auths.withColumnRenamed("auth_units", "hub_units"),
          "dst", "src", "hub_units"), "hub_units"))
    }

    val outd = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val ind = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    nodes.join(outd, Seq("node"), "left")
      .join(ind, Seq("node"), "left")
      .join(hubs, "node")
      .join(auths, "node")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        col("hub_units"), col("auth_units"))
  }

  /** Link-graph structure audit — the degree/reciprocity health
    * check run before trusting any centrality score: per node, out-
    * and in-degree plus the count of RECIPROCATED out-edges (v→w with
    * w→v also present). High reciprocity concentrated in a
    * neighborhood is the classic link-farm / spam-ring signature
    * (TrustRank's motivating pattern), and the degree distribution is
    * the first thing to audit when a crawl's frontier goes weird.
    *
    * Scale shape: two partial-agg shuffles for the degrees and ONE
    * hash self-join on the (src, dst) pair for reciprocity — the
    * reversed side is the same deduplicated edge frame re-keyed, so
    * the join is linear in |edges| with no fan-out (edge pairs are
    * unique after dedup). All keys are node ids / id pairs; nothing
    * is collected. */
  def graphAudit(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outd = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
    val ind = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_degree"))
    val recip = e
      .join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("reciprocal_edges"))
    nodes.join(outd, Seq("node"), "left")
      .join(ind, Seq("node"), "left")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("reciprocal_edges"), lit(0L)).as("reciprocal_edges"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara, Phys. Rev. E 76, 2007) — the near-linear community
    * detector next to connected components: where components ask "is
    * there ANY path", LPA asks "where does the DENSITY sit", so a
    * sparse bridge between two tight clusters yields two communities
    * where components yield one (the spec pins exactly that graph).
    * Runs on the UNDIRECTED closure of the edge list (links are
    * affinity here, not endorsement — the paper's setting).
    *
    * Determinism (the published algorithm is randomized; this is the
    * deterministic variant): SYNCHRONOUS updates (every round reads
    * only the previous round's labels — no update-order dependence),
    * initial label = the node's own id, each round every node adopts
    * the most frequent neighbor label with ties broken to the
    * SMALLEST label. Fixed iteration count, not convergence polling:
    * synchronous LPA can 2-cycle on bipartite structure (documented
    * here), and a fixed horizon keeps the output a pure function of
    * (edges, iterations) on any engine. Isolated nodes never appear
    * (the node universe comes from edges), so every node has ≥1
    * neighbor and the adoption aggregate covers the whole frame.
    *
    * Scale shape: per round, ONE labels⋈edges hash join + one
    * (node, label) partial-agg shuffle + one per-node window whose
    * frame is the node's DISTINCT neighbor labels (bounded by
    * degree); community sizes are one more keyed agg. Nothing is
    * collected; `materialize` is the lineage-cut hook for deep runs,
    * exactly as in [[pagerank]]. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       iterations: Int = 4,
                       materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val dir = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // undirected: every node appears on the src side
    val nodes = und.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val byVotes = Window.partitionBy(col("node"))
        .orderBy(col("__c").desc, col("label"))
      labels = materialize(
        und.join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__rn", row_number().over(byVotes))
          .filter(col("__rn") === 1)
          .select(col("node"), col("label")))
    }
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("community_size"))
    labels.select(col("node"), col("label").as("community"))
      .join(sizes, "community")
      .select(col("node"), col("community"), col("community_size"))
  }

  /** Seed-reachability frontier growth — the crawl-planning question
    * ("how much of the graph do k hops from our seeds cover?") and
    * TrustRank's set-valued shadow: per hop 0..maxHops, the count of
    * DISTINCT nodes reachable from the seed set within that many
    * directed hops, plus the share of the node universe in exact
    * permille. Hop h's set is hop h−1's plus one edge expansion —
    * monotone by construction (spec-pinned), so the curve's plateau
    * IS the reachable component boundary.
    *
    * Shape: per hop ONE frontier⋈edges hash join + a distinct union
    * (node-keyed); the reachable set is carried as a frame, nothing
    * collected; hop count is the bounded driver loop (the pagerank
    * iteration pattern). `materialize` is the lineage-cut hook. */
  def seedReach(edges: DataFrame, seeds: DataFrame,
                src: String = "src", dst: String = "dst",
                seedCol: String = "node", maxHops: Int = 3,
                materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val total = nodes.agg(count(lit(1)).as("__n"))
    // seeds restricted to the node universe: an off-graph seed
    // reaches nothing and shouldn't inflate hop 0
    var reach = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, "node")
    val rows = (0 to maxHops).map { h =>
      if (h > 0) {
        reach = materialize(
          reach.unionByName(
            e.join(reach.withColumnRenamed("node", "src"), "src")
              .select(col("dst").as("node")))
            .distinct())
      }
      reach.agg(count(lit(1)).as("n_reachable"))
        .select(lit(h).as("hop"), col("n_reachable"))
    }
    rows.reduce(_.unionByName(_))
      .crossJoin(broadcast(total))
      .withColumn("share_permille", expr("(n_reachable * 1000) div __n"))
      .drop("__n")
  }

  /** Bounded weighted single-source-SET shortest paths (`dist ≤
    * maxDist` from the nearest seed) — the per-node metric
    * [[seedReach]]'s coverage curve aggregates away, and the weighted
    * complement to its hop counts: link-cost distance from a trusted
    * (or spam) seed set is the classic graph-proximity quality prior
    * (TrustRank's set framing with path cost instead of teleport
    * mass). Weights are non-negative BIGINTs (exact arithmetic, the
    * module's no-floats discipline).
    *
    * Algorithm: frontier (delta) Bellman–Ford — per round only the
    * nodes IMPROVED last round join the edge list (frontier⋈edges →
    * candidate dst distances → min-merge into the table), not the
    * whole distance table; on real graphs the frontier collapses
    * after a few rounds and late rounds are near-free. The distance
    * bound is the termination governor on cyclic graphs AND the state
    * bound at scale (web-scale "distance to seeds" is only ever used
    * within a radius — the E117 bounded-radius stance): candidates
    * beyond `maxDist` are pruned before the merge, so rounds ≤
    * maxDist/min(w) regardless of cycles. Loud `maxRounds` cap (the
    * componentLabels contract: throw, never silently-wrong output).
    *
    * Shape per round: one frontier⋈edges hash join + one node-keyed
    * min-merge partial agg, both on the node key; localCheckpoint
    * cuts the iterated lineage. Returns (node, dist), seeds at 0;
    * unreachable-within-bound nodes are absent, not ∞. */
  def seedDistances(edges: DataFrame, seeds: DataFrame,
                    src: String = "src", dst: String = "dst",
                    weight: String = "w", seedCol: String = "node",
                    maxDist: Long = Long.MaxValue,
                    maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"),
        col(weight).cast("long").as("__w"))
      .groupBy(col("src"), col("dst")).agg(min(col("__w")).as("__w"))
      .localCheckpoint()
    val seed = seeds.select(col(seedCol).as("node"))
      .distinct().withColumn("dist", lit(0L)).localCheckpoint()
    // State: (dist, frontier, converged).
    graft.core.Iterate.fixpoint((seed, seed, false), maxRounds,
        s"seedDistances did not converge in $maxRounds rounds " +
          "(frontier still improving); raise maxRounds or lower maxDist")(
        _._3) { case ((dist, frontier, _), _) =>
      val cand = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("__w")).as("dist"))
        .filter(col("dist") <= maxDist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // improved = candidates strictly better than the current table
      // barrier, not plain localCheckpoint: dist and frontier feed
      // the next round — the stats-feedback reset of
      // [[graft.core.Iterate]] keeps estimate digits flat
      // barrierCounted: the emptiness signal rides the checkpoint's
      // own action as an observe metric — one job per round, not two
      val (improved, nImproved) = graft.core.Iterate.barrierCounted(
        cand.join(
          dist.withColumnsRenamed(Map("dist" -> "__old")), Seq("node"), "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select(col("node"), col("dist")), lit(true))
      if (nImproved == 0L) (dist, frontier, true)
      else (graft.core.Iterate.barrier(dist.unionByName(improved)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))),
        improved, false)
    }._1
  }

  /** Weighted PageRank — [[pagerank]] with edge weights (anchor-count
    * or link-multiplicity weights are the standard web-graph refinement:
    * a page linking somewhere 50 times endorses it more than once):
    * each node's rank splits over out-edges PROPORTIONALLY to weight,
    * contrib = (rank·w) div ΣW_out — still pure BIGINT floor
    * arithmetic, bit-identical on any engine/partitioning. Parallel
    * edges merge ADDITIVELY at ingest (one grouped sum — the
    * multiplicity IS the weight); self-loops drop as in the
    * unweighted form. Exactness bound: rank·maxW < 2^63 — with the
    * default unit that is maxW ≲ 9e5 at a 10k-node mass; pass a
    * smaller `unit` for heavier weights (same escape hatch as
    * pagerank's).
    *
    * Iteration shape identical to [[pagerank]]: two hash joins + one
    * partial-agg shuffle per step, nothing collected, `materialize`
    * lineage-cut hook. Returns (node, out_weight, rank_units). */
  def pagerankWeighted(edges: DataFrame, src: String, dst: String,
                       weight: String, iterations: Int = 3,
                       unit: Long = DefaultUnit,
                       dampNum: Long = 85, dampDen: Long = 100,
                       materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    val e = edges
      .select(col(src).as("src"), col(dst).as("dst"),
        col(weight).cast("long").as("w"))
      .where(col("src") =!= col("dst") && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outw = e.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("out_weight"))
    val base = (unit * (dampDen - dampNum)) / dampDen
    var ranks = nodes.withColumn("rank_units", lit(unit))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.join(outw, "node").withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(rank_units * w) div out_weight").as("contrib"))
      val inMass = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      ranks = materialize(
        nodes.join(inMass, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"($dampNum * coalesce(in_mass, 0L)) div $dampDen"))
              .as("rank_units")))
    }
    nodes.join(outw, Seq("node"), "left")
      .join(ranks, "node")
      .select(col("node"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        col("rank_units"))
  }

  /** k-core decomposition by iterative pruning (Seidman, Social
    * Networks 1983; the standard peeling algorithm) — the cohesion
    * filter next to components/LPA: the k-core is the maximal
    * subgraph where EVERY node keeps ≥ k neighbors inside it, the
    * "dense kernel" crawl prioritization and spam-farm analysis both
    * read (a link farm's core survives high k; organic periphery
    * peels away). Undirected closure; each round recomputes degrees
    * over the SURVIVING subgraph and drops nodes below k — degrees
    * cascade, which is why one degree filter is not enough and the
    * fixed point is the spec.
    *
    * Fixed `rounds` horizon, not convergence polling — the output is
    * a pure function of (edges, k, rounds) on any engine; peeling
    * converges when a round removes nothing, and each round removes
    * ≥ 1 node until convergence, so rounds ≥ the peel depth of the
    * graph guarantees the true k-core (the spec pins a cascade that
    * needs every round it is given). Returns survivors as
    * (node, core_degree).
    *
    * Shape per round: one degree partial-agg + TWO semi-join prunes
    * (src side, dst side) — all keyed on node; `materialize` is the
    * lineage-cut hook, as in [[pagerank]], and matters more here
    * because the edge frame itself iterates. */
  def kCore(edges: DataFrame, src: String, dst: String,
            k: Int = 3, rounds: Int = 3,
            materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val dir = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
    var e = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("src"))
      e = materialize(
        e.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select(col("src"), col("dst")))
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Exact triangle count + local clustering coefficient via
    * degree-ordered edge orientation (Schank & Wagner, WEA 2005; the
    * algorithm behind every big-graph triangle benchmark) — the
    * cohesion microstructure next to k-core's macrostructure: a link
    * farm shows HIGH clustering (everyone links everyone), a star
    * spammer ZERO. Each undirected edge is oriented toward its
    * higher-(degree, id) endpoint, so every wedge enumeration fans
    * out only over a node's HIGHER-ordered out-neighbors —
    * out-degrees are bounded by O(√m) and a celebrity hub's
    * quadratic wedge explosion never happens (the published bound,
    * and the reason this beats the naive 3-way join at scale). Each
    * triangle is found exactly once, at its order-minimal corner.
    * No global rank is materialized — the (deg, node) order is
    * compared inline in the join conditions, so nothing needs a
    * single-partition window.
    *
    * Returns (node, degree, triangles, clustering_permille) with
    * clustering = 2000·T div (d·(d−1)) — exact floor permille of
    * Watts–Strogatz local clustering; degree-1 nodes report 0.
    *
    * Shape: one degree aggregate, two degree-attach joins, ONE
    * wedge self-join (the √m-bounded one), one closing equi-join,
    * one explode + count. All keyed; nothing collected. */
  /** k-truss decomposition (Cohen 2008) — the edge-level cohesion
    * filter: keep exactly the edges supported by ≥ k−2 triangles
    * WITHIN the surviving subgraph, peeling until fixpoint. The
    * community-core primitive one notch stronger than k-core (a
    * k-truss is always inside a (k−1)-core, never vice versa), and
    * the principled "stronger pair verification" for an
    * entity-resolution match graph: the q255 capstone measures how
    * transitive closure over weak pairwise edges over-merges; a
    * 3/4-truss pass BEFORE components keeps only edges corroborated
    * by triangles, cutting exactly the chain-of-coincidences bridges
    * (spec-pinned on a two-clique bridge fixture).
    *
    * Per round: triangles are enumerated ONCE via the
    * [[triangleStats]] degree-ordered orientation (each triangle from
    * its lowest-(degree, id) apex — wedge fan-out is governed by the
    * SMALLER endpoint degree, the standard compact-forward bound),
    * exploded to their three edges, hash-aggregated to per-edge
    * support, and edges below k−2 dropped; `Iterate.barrierCounted`
    * materializes each round (stats reset) and yields the
    * convergence count with no extra action. Peeling is monotone
    * (edge sets only shrink), so the fixpoint is unique —
    * order-independent and partitioning-proof. Throws at
    * `maxIterations` rather than return a half-peeled subgraph (the
    * componentLabels discipline); each round removes ≥ 1 edge or
    * stops, so |E| rounds always suffice.
    *
    * Input edges are undirected (canonicalized to a < b, self-loops
    * dropped, duplicates collapsed). Returns the surviving edges
    * with their final within-truss support. */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int = 4,
             maxIterations: Int = 30): DataFrame = {
    require(k >= 3, "k must be >= 3 (every edge is a 2-truss)")
    val minSup = (k - 2).toLong
    val (e0, nEdges0) = graft.core.Iterate.barrierCounted(
      edges.select(least(col(src), col(dst)).as("a"),
          greatest(col(src), col(dst)).as("b"))
        .where(col("a") =!= col("b")).distinct(), lit(true))
    // State: (edges, edge count, converged).
    val (e, _, _) = graft.core.Iterate.fixpoint((e0, nEdges0, false),
        maxIterations,
        s"kTruss: still peeling after $maxIterations rounds — raise " +
          "maxIterations (a half-peeled subgraph is not a k-truss)")(_._3) {
      case ((e, nEdges, _), _) =>
        val (next, nKept) = graft.core.Iterate.barrierCounted(
          e.join(edgeSupport(e), Seq("a", "b"), "left")
            .filter(coalesce(col("support"), lit(0L)) >= minSup)
            .select(col("a"), col("b")), lit(true))
        (next, nKept, nKept == nEdges)
    }
    e.join(edgeSupport(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Per-edge triangle support of a canonical (a < b) edge frame —
    * the degree-ordered compact-forward enumeration shared with
    * [[triangleStats]], re-aggregated per EDGE instead of per node. */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.withColumnsRenamed(Map("node" -> "a", "deg" -> "__da")), "a")
      .join(deg.withColumnsRenamed(Map("node" -> "b", "deg" -> "__db")), "b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dv"))
    val lo = oriented.select(col("u"), col("v").as("__v1"),
      col("__dv").as("__d1"))
    val hi = oriented.select(col("u"), col("v").as("__v2"),
      col("__dv").as("__d2"))
    val tri = lo.join(hi, "u")
      .filter(col("__d1") < col("__d2") ||
        (col("__d1") === col("__d2") && col("__v1") < col("__v2")))
      .join(oriented.select(col("u").as("__v1"), col("v").as("__v2")),
        Seq("__v1", "__v2"))
    def ce(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(least(x, y).as("a"), greatest(x, y).as("b"))
    tri.select(explode(array(ce(col("u"), col("__v1")),
        ce(col("u"), col("__v2")), ce(col("__v1"), col("__v2")))).as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  def triangleStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val dir = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
    val und = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = und.filter(col("src") < col("dst"))
      .join(deg.select(col("node").as("src"), col("deg").as("__ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("__dd")), "dst")
    val srcFirst = col("__ds") < col("__dd") ||
      (col("__ds") === col("__dd") && col("src") < col("dst"))
    // oriented: u -> v where u precedes v in the (deg, node) order
    val oriented = pairs.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
      when(srcFirst, col("__dd")).otherwise(col("__ds")).as("__dv"))
    val lo = oriented.select(col("u"), col("v").as("__v1"),
      col("__dv").as("__d1"))
    val hi = oriented.select(col("u"), col("v").as("__v2"),
      col("__dv").as("__d2"))
    val wedges = lo.join(hi, "u")
      .filter(col("__d1") < col("__d2") ||
        (col("__d1") === col("__d2") && col("__v1") < col("__v2")))
    val tri = wedges.join(
      oriented.select(col("u").as("__v1"), col("v").as("__v2")),
      Seq("__v1", "__v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("__v1"), col("__v2"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("CASE WHEN deg < 2 THEN 0 " +
          "ELSE (coalesce(triangles, 0L) * 2000) div (deg * (deg - 1)) END")
          .as("clustering_permille"))
  }

  /** Co-citation similarity (Small, JASIS 1973) — "related pages"
    * from link structure alone: two nodes are similar when the same
    * third pages link to BOTH (the recommendation/related-domain
    * primitive next to content similarity; co-citation needs no text
    * and finds topical kinship content hashes can't). Per unordered
    * pair: the common in-neighbor count and the exact integer Jaccard
    * permille over the two in-neighbor sets.
    *
    * Scale governor — the same Σ df² argument as the shingle postings
    * plans: the self-join fans out quadratically in each CITER's
    * out-degree, so citers above `maxOutDegree` are dropped BEFORE
    * the join (a page linking to everything co-cites everything and
    * carries no signal — the df-cap of link analysis). The in-degree
    * denominators are computed from the SAME capped edge set, so the
    * Jaccard stays internally consistent (a capped citer vanishes
    * from numerator and denominator together — the ratio never
    * inflates). Unordered pairs surface once (`dst_a < dst_b`).
    *
    * Shape: one out-degree aggregate + semi-join filter, ONE
    * citer-keyed self-join, one pair aggregate, two broadcast-scale
    * in-degree joins. Nothing collected. */
  def coCitation(edges: DataFrame, src: String, dst: String,
                 maxOutDegree: Long = 100L,
                 minCommon: Long = 2L): DataFrame = {
    require(maxOutDegree >= 2, "cap below 2 kills every pair")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("__od"))
      .filter(col("__od") <= maxOutDegree)
      .select(col("src"))
    val f = e.join(keep, "src")
    val pairs = f.select(col("src"), col("dst").as("node_a"))
      .join(f.select(col("src"), col("dst").as("node_b")), "src")
      .filter(col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    val indeg = f.groupBy(col("dst")).agg(count(lit(1)).as("__in"))
    pairs
      .join(indeg.select(col("dst").as("node_a"), col("__in").as("__ina")),
        "node_a")
      .join(indeg.select(col("dst").as("node_b"), col("__in").as("__inb")),
        "node_b")
      .select(col("node_a"), col("node_b"), col("common"),
        expr("(common * 1000) div (__ina + __inb - common)")
          .as("jaccard_permille"))
  }

  /** Graph feature propagation — the GraphSAGE-mean / label-smoothing
    * precursor as an exact batch operator: per hop k, every node's
    * `h_k` is the FLOOR-mean of its in-neighbors' `h_(k-1)` (h_0 = its
    * own feature), the attribute analogue of [[pagerank]]'s mass flow.
    * What it's for in a curation pipeline: impute/smooth a per-doc
    * signal (quality score, token count, spam probability) across the
    * link structure — a page linked only by long documents probably
    * isn't a stub, whatever its own length says.
    *
    * Exactness: `sum DIV count` per node per hop — pure integers, no
    * damping constant, no drift. Nodes with no in-neighbors get NULL
    * at hop 1 (nothing to average — visible, not fabricated) and drop
    * out of hop k+1's numerator AND denominator together (count is
    * over non-null contributions), so a null never poisons a mean.
    *
    * Shape per hop: one (edge ⋈ previous-hop) hash join + one
    * dst-keyed partial aggregate — identical cost to a pagerank step,
    * nothing collected; hops bounded (≤ 5 — deep propagation
    * oversmoothes anyway, the GNN literature's own finding). Output:
    * (node, f0, h1 … h_hops). */
  def propagateFeatures(edges: DataFrame, feats: DataFrame,
                        src: String, dst: String, node: String,
                        featCol: String, hops: Int = 2): DataFrame = {
    require(hops >= 1 && hops <= 5, "hops must be in [1, 5]")
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val base = feats.select(col(node).as("node"),
      col(featCol).cast("long").as("f0"))
    var out = base
    var cur = base.select(col("node"), col("f0").as("h"))
    for (k <- 1 to hops) {
      val hk = e.join(cur.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(col("h")).as("__s"), count(col("h")).as("__c"))
        .select(col("dst").as("node"),
          when(col("__c") > 0, expr("__s div __c")).as(s"h$k"))
      out = out.join(hk, Seq("node"), "left")
      cur = out.select(col("node"), col(s"h$k").as("h"))
    }
    out
  }

  /** Link prediction by resource allocation (Zhou, Lü & Zhang, Eur.
    * Phys. J. B 2009) — the MISSING-edge complement to [[coCitation]]'s
    * existing-similarity: score non-adjacent pairs by their common
    * neighbors, each neighbor z contributing 1/deg(z) (a low-degree
    * mutual friend is strong evidence; a hub is none). RA is the
    * member of the common-neighbor family (CN, Adamic–Adar, RA) that
    * is EXACT without transcendentals: `ra_e6 = Σ_z (10⁶ DIV deg(z))`
    * — Adamic–Adar's 1/ln deg would need a stated log table, RA needs
    * only floor division, and the 2009 study found RA ≥ AA on
    * accuracy anyway.
    *
    * Semantics: undirected (edges symmetrized + distinct'd, self
    * loops dropped); candidates are 2-hop pairs NOT already adjacent
    * (anti-join against the edge set — predicting what exists is the
    * classic leakage bug); unordered pairs surface once.
    *
    * Scale governor: the wedge self-join fans out in Σ deg(z)², so
    * middles above `maxDegree` are dropped BEFORE the join (the
    * [[coCitation]] cap — a hub wedge carries ~0 score by the very
    * 1/deg weighting that motivates RA, so the cap removes exactly
    * the pairs RA itself calls noise; capped scores under-report,
    * never inflate). Survivor middles have true deg ≤ cap, so the
    * attached degree IS the true degree — numerator and weight stay
    * consistent. One degree aggregate, one middle-keyed self-join,
    * one pair aggregate, one anti-join. Nothing collected. */
  def linkPrediction(edges: DataFrame, src: String, dst: String,
                     maxDegree: Long = 100L,
                     minCommon: Long = 2L): DataFrame = {
    require(maxDegree >= 2, "cap below 2 kills every wedge")
    val dir0 = edges.select(col(src).as("u"), col(dst).as("v"))
      .where(col("u") =!= col("v"))
    val und = dir0.unionAll(dir0.select(col("v").as("u"), col("u").as("v")))
      .distinct() // both directions present once: deg(u) = count over u
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val mid = und.join(deg.filter(col("deg") <= maxDegree), "u")
      .select(col("u").as("z"), col("v"), col("deg"))
    val pairs = mid.select(col("z"), col("v").as("node_a"), col("deg"))
      .join(mid.select(col("z"), col("v").as("node_b")), "z")
      .filter(col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div deg")).as("ra_e6"))
      .filter(col("common") >= minCommon)
    pairs.join(und.select(col("u").as("node_a"), col("v").as("node_b")),
        Seq("node_a", "node_b"), "left_anti")
      .select(col("node_a"), col("node_b"), col("common"), col("ra_e6"))
  }

  /** Strongly connected components — the DIRECTED complement to the
    * undirected component family ([[graft.dedup.Dedup.componentLabels]]
    * / E27) and to [[labelPropagation]]'s density communities: nodes u
    * and v share an SCC iff each reaches the other, which is what
    * link-ring/spam-cycle analysis actually asks (a link FARM is a
    * directed cycle; an undirected component can't tell a farm from a
    * chain of one-way endorsements).
    *
    * Algorithm: iterative forward-coloring + backward reachability
    * within color — the distributed SCC decomposition of Orzan's
    * coloring/heads-off scheme (Orzan 2004; the FW-BW family of
    * Fleischer, Hendrickson & Pınar 2000). Per outer round, over the
    * still-unassigned subgraph:
    *
    *  1. COLOR: propagate c(v) = min(id over ancestors(v) ∪ {v})
    *     forward along edges to fixpoint (min-label propagation, the
    *     q131 loop shape). Roots are nodes with c(v) = v.
    *  2. CAPTURE: within each color class, propagate backward from
    *     the root: every node of color r with a directed path to r
    *     THROUGH color-r nodes is exactly SCC(r). (Why staying inside
    *     the color is sound: on any v→…→r path every waypoint w has r
    *     as an ancestor — r reaches v reaches w — so c(w) ≤ r; and a
    *     smaller ancestor u < r of w would, via w→…→r, be an ancestor
    *     of r, contradicting c(r) = r. Hence c(w) = r.)
    *  3. PEEL: remove the captured SCCs; iterate. Every round
    *     assigns at least each color's root, so the loop strictly
    *     shrinks; the number of rounds is bounded by the longest
    *     min-id-decreasing chain in the SCC condensation DAG (small
    *     for real link graphs — the q131 "gate at the diameter"
    *     argument, applied per level).
    *
    * Both inner loops are the SAME primitive — min-label propagation
    * to fixpoint WITH POINTER DOUBLING (each step relaxes over edges
    * AND over label-of-label, so a length-d chain converges in
    * O(log d) rounds, not O(d) — the hash-to-min acceleration of
    * Rastogi et al., ICDE 2013, applied to the directed ancestor/
    * descendant min) — run TO CONVERGENCE with a loud failure cap
    * (the componentLabels contract: silently-wrong labels are never
    * an option); convergence checks ride the carried-`__old` trick
    * (no second join re-running the round). Capture reduces to the
    * same primitive by a small theorem: a color-class root is the
    * MINIMUM id in its class (a smaller class member would be its own
    * ancestor below the root, contradicting the root's minimality),
    * so "v reaches the root within its class" ⟺ the within-class
    * DESCENDANT-min of v equals its color.
    *
    * Scale shape: every step is two node-keyed hash joins + one
    * partial agg — nothing collected, no all-pairs reachability
    * materialized (the pair-doubling alternative is O(n²) pair state
    * and is exactly what this construction avoids); localCheckpoint
    * cuts lineage each step since the frames iterate on themselves.
    *
    * Returns (node, scc, scc_size): scc = min member id, the
    * canonical label the DuckDB oracle re-derives from a WITH
    * RECURSIVE transitive closure + mutual-reachability predicate —
    * a structurally independent algorithm, so agreement is a real
    * cross-check (the q131 precedent). */
  def stronglyConnected(edges: DataFrame, src: String, dst: String,
                        maxPropIters: Int = 25,
                        maxRounds: Int = 12): DataFrame = {
    val e0 = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val edges0 = e0.localCheckpoint()
    val nodes = edges0.select(col("src").as("node"))
      .union(edges0.select(col("dst").as("node")))
      .distinct() // materialized (with its count) by the first barrier below

    /** Min-label fixpoint with pointer doubling: label(v) starts at v
      * and relaxes per round over (a) `rel` edges — label(s) flows
      * s→d — and (b) the label AT the current label's node
      * ([[graft.core.Iterate.minLabelRound]]). Fixpoint = min id over
      * `rel`-ancestors ∪ {v}. Throws past the cap. */
    def minLabelFixpoint(universe: DataFrame, universeRows: Long,
                         rel: DataFrame, what: String): DataFrame = {
      // no checkpoint on the seed labels: `universe` is already a
      // materialized barrier frame and this is a pure projection of it
      // — checkpointing it again cost one extra job per fixpoint call
      // (2 per peel round), measured as pure overhead (r19 opt; the
      // round-1 plan re-derives the projection at projection cost)
      // State: (labels, converged).
      graft.core.Iterate.fixpoint(
          (universe.withColumn("label", col("node")), false), maxPropIters,
          s"stronglyConnected $what did not converge in $maxPropIters " +
            "iterations (even doubled, the chain exceeds the cap); labels " +
            "would be silently wrong — raise maxPropIters")(_._2) {
        case ((labels, _), _) =>
          val (next, nChanged) =
            graft.core.Iterate.minLabelRound(rel, labels, universeRows)
          (next.select("node", "label"), nChanged == 0L)
      }._1
    }

    // r19 opt: the remaining-node count rides each peel's own barrier
    // as an observe metric (the barrierCounted device) instead of a
    // separate isEmpty job per round; the final round skips rebuilding
    // `e` entirely once the count hits zero. Same labels, fewer jobs.
    // State: (remaining nodes, their count, remaining edges, captured
    // SCC frames so far).
    val (nodes0, count0) = graft.core.Iterate.barrierCounted(nodes, lit(true))
    val (_, _, _, captures) = graft.core.Iterate.fixpoint(
        (nodes0, count0, edges0, Vector.empty[DataFrame]), maxRounds,
        s"stronglyConnected did not assign every node in $maxRounds rounds " +
          "(SCC-condensation chain exceeds the cap); raise maxRounds")(
        _._2 == 0L) { case ((nodes, nRemaining, e, captures), _) =>
      // -- 1. forward coloring: color = min ancestor-or-self --------
      // no extra barrier: the fixpoint's result IS a materialized
      // barrier frame; the rename is a projection replayed at
      // projection cost by its three consumers (r19 opt)
      val colors = minLabelFixpoint(nodes, nRemaining,
        e.select(col("src").as("s"), col("dst").as("d")), "coloring")
        .withColumnRenamed("label", "color")
      // -- 2. capture: within-class descendant-min == color ---------
      // only same-color edges can sit on a capture path (scaladoc
      // proof), so restrict once; descendant-min propagates BACKWARD.
      // r20 (guide §3.1): colors / dmin / captured are all one row per
      // remaining node — nRemaining is measured, so below the floor
      // every per-peel join broadcasts the node-sized side and the
      // edge table (the big side at scale) never shuffles.
      def ifSmall(df: DataFrame): DataFrame =
        graft.core.Iterate.broadcastIfSmall(df, nRemaining)
      val ec = graft.core.Iterate.barrier(e
        .join(ifSmall(colors.select(col("node").as("src"),
          col("color").as("__cs"))), "src")
        .join(ifSmall(colors.select(col("node").as("dst"),
          col("color").as("__cd"))), "dst")
        .filter(col("__cs") === col("__cd"))
        .select(col("src"), col("dst")))
      val dmin = minLabelFixpoint(nodes, nRemaining,
        ec.select(col("dst").as("s"), col("src").as("d")), "capture")
      val captured = graft.core.Iterate.barrier(dmin
        .join(ifSmall(colors), "node")
        .filter(col("label") === col("color"))
        .select(col("node"), col("color").as("scc")))
      // -- 3. peel ---------------------------------------------------
      val (nNext, cNext) = graft.core.Iterate.barrierCounted(
        nodes.join(ifSmall(captured.select("node")), Seq("node"), "left_anti"),
        lit(true))
      val eNext =
        if (cNext == 0L) e
        else graft.core.Iterate.barrier(
          e.join(ifSmall(captured.select(col("node").as("src"))),
            Seq("src"), "left_anti")
            .join(ifSmall(captured.select(col("node").as("dst"))),
              Seq("dst"), "left_anti"))
      (nNext, cNext, eNext, captures :+ captured)
    }
    val assigned = captures.reduce(_ union _)
    val sizes = assigned.groupBy(col("scc")).agg(count(lit(1)).as("scc_size"))
    assigned.join(sizes, "scc")
      .select(col("node"), col("scc"), col("scc_size"))
  }

  /** Markov-chain mass evolution over an empirical weighted digraph —
    * "where does the flow settle": start uniform, repeatedly push each
    * node's mass along its out-edges proportionally to weight (the
    * power-iteration step toward the chain's stationary distribution,
    * here over the OBSERVED transition matrix — e.g.
    * [[graft.events.EventAnalytics.transitionMatrix]]'s counts — the
    * equilibrium read of an event flow that the per-step
    * share_permille table can't show). Differences from
    * [[pagerankWeighted]] are exactly the chain semantics: NO teleport
    * (damping 1), SELF-LOOPS KEPT (click→click is a real transition;
    * pagerank drops them as endorsement noise), and DANGLING nodes
    * RETAIN their mass (absorbing-state semantics — mass flows in and
    * never leaves, so absorbing states visibly accumulate).
    *
    * Same exactness contract as the rest of the family: BIGINT
    * micro-units, floor at the proportional split (the remainder
    * leak is part of the spec), bit-identical under any partitioning.
    * Exactness bound: mass·maxW < 2^63 (the pagerankWeighted bound).
    * Fixed `iterations` horizon — a periodic chain has no limit to
    * poll for; the output is a pure function of (edges, iterations).
    *
    * Iteration shape identical to [[pagerank]]: two hash joins + one
    * partial-agg shuffle per step, nothing collected, `materialize`
    * lineage-cut hook. Returns (node, out_weight, mass_units). */
  def stationary(edges: DataFrame, src: String, dst: String, weight: String,
                 iterations: Int = 3, unit: Long = DefaultUnit,
                 materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = edges
      .select(col(src).as("src"), col(dst).as("dst"),
        col(weight).cast("long").as("w"))
      .where(col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val outw = e.groupBy(col("src").as("node")).agg(sum(col("w")).as("out_w"))
    var pi = nodes.withColumn("mass_units", lit(unit))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(pi.join(outw, "node").withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(mass_units * w) div out_w").as("contrib"))
      val inMass = contribs.groupBy(col("dst").as("node"))
        .agg(sum(col("contrib")).as("in_mass"))
      pi = materialize(
        nodes
          .join(pi.withColumnRenamed("mass_units", "__prev"), "node")
          .join(outw, Seq("node"), "left")
          .join(inMass, Seq("node"), "left")
          .select(col("node"),
            (coalesce(col("in_mass"), lit(0L)) +
              when(col("out_w").isNull, col("__prev")).otherwise(lit(0L)))
              .as("mass_units")))
    }
    nodes.join(outw, Seq("node"), "left")
      .join(pi, "node")
      .select(col("node"),
        coalesce(col("out_w"), lit(0L)).as("out_weight"),
        col("mass_units"))
  }

  /** Condensation DAG over [[stronglyConnected]]'s labels — the
    * collapsed graph where every SCC becomes one node: per ordered
    * label pair, the number of DISTINCT underlying edges crossing
    * between the two components (intra-component edges vanish — they
    * ARE the component). Acyclic BY THEOREM (any cycle among
    * condensation nodes would merge its members into one SCC), which
    * the spec verifies self-referentially: running
    * [[stronglyConnected]] on the condensation must yield all
    * singletons. This is the graph spam analysis actually reads —
    * link FARMS collapse to single nodes and the remaining DAG is the
    * endorsement flow between them — and the planning view for any
    * "process components in dependency order" pipeline.
    *
    * Shape: the SCC labeling (see [[stronglyConnected]]'s bounds) +
    * two node-keyed label joins onto the edge list + one pair
    * aggregate. Nothing collected. */
  def condensation(edges: DataFrame, src: String, dst: String,
                   maxPropIters: Int = 25,
                   maxRounds: Int = 12): DataFrame = {
    val labels = stronglyConnected(edges, src, dst, maxPropIters, maxRounds)
      .select(col("node"), col("scc"))
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    e.join(labels.select(col("node").as("src"), col("scc").as("scc_src")), "src")
      .join(labels.select(col("node").as("dst"), col("scc").as("scc_dst")), "dst")
      .filter(col("scc_src") =!= col("scc_dst"))
      .groupBy(col("scc_src"), col("scc_dst"))
      .agg(count(lit(1)).as("n_edges"))
  }

  /** Normalized centrality over [[pagerank]]'s output: each node's
    * share of probability mass as an EXACT rational pair
    * (`share_num`/`share_den` = rank_units / n·unit) plus integer
    * permille projections against both the IDEAL mass n·unit and the
    * RETAINED mass Σ rank_units. The two denominators differ by
    * exactly the documented dangling/floor leak, so their gap doubles
    * as the leak audit; no floats anywhere, so the result is
    * bit-identical under any partitioning, like [[pagerank]] itself.
    *
    * Scale shape: no window, no collect — the totals are one 1-row
    * aggregate broadcast-joined to every row (the repo's standard
    * exact-total pattern), linear in nodes. Exactness bound:
    * multiply-before-divide needs rank_units·1000 < 2^63, i.e.
    * n·unit ≤ 9.2e15 — beyond ~9e3 nodes at the default unit, pass
    * the smaller `unit` the pagerank parameter exists for. */
  def normalizedRank(ranked: DataFrame, unit: Long = DefaultUnit): DataFrame = {
    val totals = ranked.agg(
      (count(lit(1)) * lit(unit)).as("share_den"),
      sum(col("rank_units")).as("retained_units"))
    ranked.crossJoin(broadcast(totals))
      .select(col("node"), col("out_degree"),
        col("rank_units").as("share_num"),
        col("share_den"),
        expr("(rank_units * 1000) div share_den").as("share_permille"),
        col("retained_units"),
        expr("(rank_units * 1000) div retained_units").as("retained_permille"))
  }

  /** Degree assortativity (Newman, PRL 2002) — does the graph wire
    * hubs to hubs (r > 0, social networks) or hubs to leaves (r < 0,
    * the web, most infrastructure)? The one-number summary of mixing
    * structure: the Pearson correlation of endpoint degrees over the
    * EDGE list, every undirected edge contributing both orientations
    * (the standard symmetrization — r is then direction-free).
    * Determinism is the q62 recipe: degrees are integers, all five
    * sums exact (DECIMAL-widened — degree products reach deg²·m),
    * the final r in an identical double tree; NULL on regular graphs
    * (every degree equal — zero variance).
    *
    * Shape: one degree aggregate + two degree-attach joins + one
    * 5-sum aggregate — the triangle counter's degree-pass skeleton;
    * nothing collected. */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = edges.select(col(src).cast("string").as("a"),
        col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val oriented = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val paired = oriented
      .join(deg.select(col("node").as("a"), col("__d").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("__d").as("__db")), Seq("b"))
    val agg = paired.agg(
      count(lit(1)).as("n_endpoints"),
      sum(col("__da").cast("decimal(38,0)")).cast("double").as("__sx"),
      sum(col("__db").cast("decimal(38,0)")).cast("double").as("__sy"),
      sum((col("__da") * col("__da")).cast("decimal(38,0)")).cast("double")
        .as("__sxx"),
      sum((col("__db") * col("__db")).cast("decimal(38,0)")).cast("double")
        .as("__syy"),
      sum((col("__da") * col("__db")).cast("decimal(38,0)")).cast("double")
        .as("__sxy"))
    val n = col("n_endpoints").cast("double")
    val varx = n * col("__sxx") - col("__sx") * col("__sx")
    val vary = n * col("__syy") - col("__sy") * col("__sy")
    agg.select(col("n_endpoints"),
      when(varx > 0 && vary > 0,
        (n * col("__sxy") - col("__sx") * col("__sy")) /
          (sqrt(varx) * sqrt(vary))).as("assortativity"))
  }

  /** Two-hop reach — per node the exact count of DISTINCT nodes
    * reachable in ≤ 2 directed hops, self excluded: the
    * friends-of-friends audience metric (how far does one crawl
    * frontier step + one more see?), the local complement to
    * [[seedReach]]'s global BFS and the precursor every
    * influence/propagation estimate starts from.
    *
    * Scale governor — the Σ df² argument yet again: the two-hop join
    * fans out in the INTERMEDIATE node's out-degree, so hop-2
    * traversal drops edges whose source out-degree exceeds
    * `maxOutDegree` (a hub that links to everything makes everything
    * "2 hops away" and carries no signal — the link-analysis df-cap;
    * paths THROUGH over-cap hubs are undercounted, stated, while
    * hop-1 stays exact and uncapped). Distinctness is one UNION +
    * dedup keyed on (node, reached) — never a per-node set in memory.
    *
    * Shape: one out-degree aggregate, one semi-join cap filter, ONE
    * edge self-join, one distinct + count. Output bounded by the
    * source universe. */
  /** Newman–Girvan modularity of a node partition (Newman & Girvan
    * 2004), exact — the quality score that makes community output
    * COMPARABLE: Q = Σ_c [e_c/m − (d_c/2m)²] says how much denser
    * each community is than the degree-preserving random graph, so
    * two partitions (label propagation vs components vs a domain
    * map) can be ranked instead of eyeballed. Per community the
    * exact pieces (inner edges e_c, degree sum d_c, m) plus the
    * contribution in micro-units via the cleared-denominator
    * identity Q·4m² = Σ(4m·e_c − d_c²) — integers end to end; the
    * truncating `div` (toward zero, identical on both engines) at
    * the ÷4m² is the stated dust. BIGINT headroom bounds the SCALED
    * contribution at 4m²·10⁶ < 2⁶³ ⇒ m ≤ 1.5·10⁶ edges; beyond
    * that the exact PIECES (also emitted) stay valid to m < 1.5·10⁹
    * and the consumer widens to decimals for the ratio.
    * Contributions can be NEGATIVE (a community sparser than
    * chance — the signal the score exists to expose).
    *
    * Input contract: `labels` assigns every node of the undirected
    * simple graph (direction and multiplicity dropped here, stated).
    * Shape: one degree aggregate, one two-sided label join over the
    * canonical a<b edge set, two bounded label-keyed aggregates +
    * one 1-row totals broadcast. */
  def modularity(edges: DataFrame, src: String, dst: String,
                 labels: DataFrame): DataFrame = {
    val und = edges.select(col(src).cast("string").as("a"),
        col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    val lab = labels.select(col("node").cast("string").as("node"),
      col("label").cast("string").as("label"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__d"))
    val degByC = deg.join(lab, Seq("node"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"),
        sum(col("__d")).as("degree_sum"))
    val innerByC = und
      .join(lab.select(col("node").as("a"), col("label").as("__la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("__lb")), Seq("b"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("inner_edges"))
    val m = und.agg(count(lit(1)).as("__m"))
    degByC.join(innerByC, Seq("label"), "left")
      .withColumn("inner_edges", coalesce(col("inner_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"), col("inner_edges"),
        col("degree_sum"), col("__m").as("m_edges"),
        expr("""((4 * __m * inner_edges - degree_sum * degree_sum)
                 * 1000000) div (4 * __m * __m)""").as("contrib_e6"))
  }

  def twoHopReach(edges: DataFrame, src: String, dst: String,
                  maxOutDegree: Long = 64L): DataFrame = {
    val e = edges.select(col(src).cast("string").as("src"),
        col(dst).cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_degree"))
    val capped = e.join(
      outDeg.filter(col("out_degree") <= maxOutDegree).select(col("src")),
      Seq("src"))
    val hop1 = e.select(col("src").as("node"), col("dst").as("__r"))
    val hop2 = e.join(
        capped.select(col("src").as("dst"), col("dst").as("__r")), Seq("dst"))
      .select(col("src").as("node"), col("__r"))
    val reach = hop1.unionAll(hop2)
      .filter(col("node") =!= col("__r")).distinct()
      .groupBy(col("node")).agg(count(lit(1)).as("n_reach2"))
    outDeg.select(col("src").as("node"), col("out_degree"))
      .join(reach, Seq("node"), "left")
      .select(col("node"), col("out_degree"),
        coalesce(col("n_reach2"), lit(0L)).as("n_reach2"))
  }
}
