package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy (parent-child dimension) aggregation — the OLAP rollup
  * a FLAT `GROUP BY` cannot express: org charts, category trees,
  * bill-of-materials, geo containment all ship as (node, parent)
  * edges, and the question is per-node SUBTREE totals ("sales under
  * this category, all depths"), not per-level slices (E31's ROLLUP
  * handles the fixed-column case; this handles the recursive one).
  *
  * Algorithm: materialize the ancestor–descendant closure by
  * SQUARING (pointer doubling on paths — the E27/E188 device at the
  * pair level): start from the parent edges (distance 1) and union
  * P ∘ P each round, so covered distance doubles — a depth-d
  * hierarchy closes in ⌈log₂ d⌉ self-joins, not d. Then one join of
  * measures onto descendants and one ancestor-keyed aggregate.
  *
  * State bound, stated honestly: the closure holds Σ_v depth(v)
  * pairs — linear×depth, fine for real hierarchies (org charts,
  * product taxonomies: depth ≤ tens), NOT for path-shaped graphs
  * pretending to be hierarchies. Convergence is count-stability
  * (closure growth is monotone and finite). Two loud failure modes,
  * never wrong output (the componentLabels contract): depth beyond
  * 2^maxRounds throws at the cap, and a CYCLE — whose closure is
  * finite and would otherwise converge to nonsense totals counting
  * every cycle member as its own descendant — is detected directly
  * as a node that is its own PROPER ancestor and refused.
  *
  * Output per node: own measure, subtree count/total (self
  * included), and exact share-of-parent permille (subtree_total ·
  * 1000 div parent's subtree_total — NULL at roots, where the share
  * is undefined). */
object Hierarchy {

  def subtreeRollup(df: DataFrame, nodeCol: String, parentCol: String,
                    measureCol: String, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val nodes = df.select(col(nodeCol).as("node"),
      col(parentCol).as("parent"),
      col(measureCol).cast("long").as("own"))
    val (p0, size0) = graft.core.Iterate.barrierCounted(
      nodes.filter(col("parent").isNotNull)
        .select(col("parent").as("anc"), col("node").as("des"))
        .distinct(), lit(true))
    // State: (closure, its size, converged); the size rides each
    // barrier's own action (no separate count job).
    val (p, _, _) = graft.core.Iterate.fixpoint((p0, size0, false),
        maxRounds,
        s"subtreeRollup closure still growing after $maxRounds squaring " +
          "rounds (depth over 2^rounds); refusing to emit wrong totals")(
        _._3) { case ((p, size, _), _) =>
      // barrier, not plain localCheckpoint: p appears three times in
      // this round's plan — the stats-feedback reset of
      // [[graft.core.Iterate]] keeps estimate digits flat
      val (next, nextSize) = graft.core.Iterate.barrierCounted(p.union(
          p.select(col("anc"), col("des").as("__mid"))
            .join(p.select(col("anc").as("__mid"), col("des")), "__mid")
            .select(col("anc"), col("des")))
        .distinct(), lit(true))
      if (nextSize == size) (p, size, true) else (next, nextSize, false)
    }
    if (!p.filter(col("anc") === col("des")).isEmpty)
      throw new IllegalStateException(
        "subtreeRollup: cycle detected (a node is its own proper " +
          "ancestor) — a cyclic parent relation has no subtree semantics")
    val withSelf = p.union(nodes.select(col("node").as("anc"),
      col("node").as("des")))
    val agg = withSelf
      .join(nodes.select(col("node").as("des"), col("own")), "des")
      .groupBy(col("anc"))
      .agg(count(lit(1)).as("subtree_count"),
        sum(col("own")).as("subtree_total"))
    val parentTotals = agg.select(col("anc").as("parent"),
      col("subtree_total").as("__ptotal"))
    nodes.join(agg.withColumnRenamed("anc", "node"), "node")
      .join(parentTotals, Seq("parent"), "left")
      .select(col("node"), col("parent"), col("own"),
        col("subtree_count"), col("subtree_total"),
        expr("""CASE WHEN __ptotal IS NOT NULL AND __ptotal <> 0 THEN
          (subtree_total * 1000) div __ptotal END""")
          .as("share_of_parent_permille"))
  }

  /** Materialized root-paths — the flattened addressing scheme
    * ("/0/4/13") every hierarchy UI, breadcrumb, and prefix query
    * wants, and the other artifact of [[subtreeRollup]]'s closure:
    * per node, its root, depth (root = 0), and the full
    * slash-delimited path of ids from the root. A prefix LIKE over
    * the path column answers "all descendants of X" with ZERO joins —
    * the read-side payoff the build pass buys.
    *
    * Same squaring device, but on PARTIAL PATH segments: the state is
    * (top, node, hops, path-from-top-to-node); squaring joins segment
    * (a→b) to segment (b→c) concatenating paths — covered distance
    * doubles per round, so depth d closes in ⌈log₂ d⌉ rounds. Only
    * maximal segments survive to the end: a node's FULL path is the
    * one whose top has no parent. Loud cap and cycle refusal as in
    * [[subtreeRollup]], with one extra guard the path state makes
    * NECESSARY: a cycle's segments would grow forever (hops
    * proliferate, paths double per round — exponential state long
    * before the round cap fires), so every round drops segments with
    * hops ≥ node count — a simple path can't be that long, the filter
    * is a no-op on any true hierarchy, and on a cycle the segment set
    * saturates. Degenerate inputs are then caught by COVERAGE: a
    * non-root node with no root-reaching segment sits on a cycle (or
    * under a dangling parent id) — refused loudly, never silently
    * dropped from the output. */
  def materializedPaths(df: DataFrame, nodeCol: String,
                        parentCol: String,
                        maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val nodes = df.select(col(nodeCol).as("node"),
      col(parentCol).as("parent"))
    val nNodes = nodes.count()
    // segments: top --(hops, path suffix "/n1/n2")--> node
    val (seg0, size0) = graft.core.Iterate.barrierCounted(
      nodes.filter(col("parent").isNotNull)
        .select(col("parent").as("top"), col("node"),
          lit(1L).as("hops"),
          concat(lit("/"), col("node").cast("string")).as("path"))
        .distinct(), lit(true))
    // State: (segments, their count, converged).
    val (seg, _, _) = graft.core.Iterate.fixpoint((seg0, size0, false),
        maxRounds,
        s"materializedPaths closure still growing after $maxRounds " +
          "squaring rounds (depth over 2^rounds); refusing partial paths")(
        _._3) { case ((seg, size, _), _) =>
      val (next, nextSize) = graft.core.Iterate.barrierCounted(seg.union(
          seg.select(col("top"), col("node").as("__mid"),
              col("hops").as("__h1"), col("path").as("__p1"))
            .join(seg.select(col("top").as("__mid"), col("node"),
              col("hops").as("__h2"), col("path").as("__p2")), "__mid")
            .select(col("top"), col("node"),
              (col("__h1") + col("__h2")).as("hops"),
              concat(col("__p1"), col("__p2")).as("path"))
            .filter(col("hops") < nNodes))
        .distinct(), lit(true))
      if (nextSize == size) (seg, size, true) else (next, nextSize, false)
    }
    val roots = nodes.filter(col("parent").isNull)
      .select(col("node").as("top"))
    // maximal segments = those whose top is a root; roots themselves
    // are their own trivial path
    val nonRoots = seg.join(roots, "top")
      .select(col("node"), col("top").as("root"), col("hops").as("depth"),
        concat(lit("/"), col("top").cast("string"), col("path"))
          .as("path"))
    val uncovered = nodes.filter(col("parent").isNotNull)
      .join(nonRoots.select(col("node")), Seq("node"), "left_anti")
    if (!uncovered.isEmpty) throw new IllegalStateException(
      "materializedPaths: some non-root nodes reach no root — a cycle " +
        "or a dangling parent id; refusing to emit partial paths")
    val rootRows = roots.select(col("top").as("node"),
      col("top").as("root"), lit(0L).as("depth"),
      concat(lit("/"), col("top").cast("string")).as("path"))
    nonRoots.unionByName(rootRows)
  }

  /** Exact top-down allocation — [[subtreeRollup]]'s inverse
    * direction: a budget/cost/quota at the top spreads down the
    * hierarchy proportionally to child weights, level by level, with
    * LARGEST-REMAINDER rounding at every sibling group (Hamilton's
    * method): base_i = (A·wᵢ) div ΣW, then the A − Σbase leftover
    * units go to the children with the largest remainders (node-id
    * tiebreak — a stated total order). The invariant that makes this
    * an ACCOUNTING operator rather than a ratio report: every sibling
    * group sums EXACTLY to its parent's amount — no floor dust lost,
    * no unit invented, at any depth (spec-pinned: leaf sums replay
    * the root budget to the unit).
    *
    * Iteration is one level per round (allocation is inherently
    * level-sequential — a child's amount needs its parent's FINAL
    * amount), each round one join + two partitioned windows, frontier
    * = the just-allocated level ([[graft.core.Iterate.barrierCounted]]
    * per round; an empty level ends the descent). Depth is the round
    * count — hierarchies are shallow (stated). Zero/negative weights refused loudly (a zero-weight
    * sibling group cannot split anything); nodes not reachable from
    * the seeded roots are absent from the output (seeding a subtree
    * is a legitimate call), but a round cap throws rather than spin
    * on a cyclic parent relation. Seed amounts must be non-negative:
    * `div` truncates toward zero, so a negative parent would make
    * each base overshoot the exact share and drive `__leftover`
    * negative, where the `__rnk <= __leftover` distribution never
    * fires — children would sum to MORE than the parent. Refused
    * loudly (like the weight guard); with a non-negative seed and
    * strictly positive weights every descendant amount stays
    * non-negative, so the guard holds at all depths.
    * Returns (node, depth, amount). */
  def allocateDown(tree: DataFrame, amounts: DataFrame,
                   nodeCol: String, parentCol: String, weightCol: String,
                   amountCol: String, maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val t = tree.select(col(nodeCol).as("node"),
      col(parentCol).as("parent"),
      col(weightCol).cast("long").as("__w")).localCheckpoint()
    if (!t.filter(col("parent").isNotNull && col("__w") <= 0).isEmpty)
      throw new IllegalArgumentException(
        "allocateDown: non-positive child weight — largest-remainder " +
          "allocation needs strictly positive sibling weights")
    val seed = amounts.select(col(nodeCol).as("node"),
        col(amountCol).cast("long").as("amount"))
      .withColumn("depth", lit(0L)).localCheckpoint()
    if (!seed.filter(col("amount") < 0).isEmpty)
      throw new IllegalArgumentException(
        "allocateDown: negative seed amount — truncating div breaks " +
          "the exact-sum invariant for negative parents (children " +
          "would sum to more than the parent)")
    val wSib = org.apache.spark.sql.expressions.Window
      .partitionBy(col("parent"))
    // State: (allocated levels, root level first; done). A round that
    // allocates no child ends the descent; its count rides the level's
    // own barrier (no separate emptiness job).
    val (levels, _) = graft.core.Iterate.fixpoint((Vector(seed), false),
        maxRounds,
        s"allocateDown still descending after $maxRounds rounds " +
          "(depth over the cap, or a cyclic parent relation)")(_._2) {
      case ((levels, _), _) =>
        val kids = t.join(levels.last.select(col("node").as("parent"),
          col("amount").as("__pa"), col("depth").as("__pd")), "parent")
        val (alloc, nAlloc) = graft.core.Iterate.barrierCounted(kids
          .withColumn("__sw", sum(col("__w")).over(wSib))
          .withColumn("__base", expr("(__pa * __w) div __sw"))
          .withColumn("__rem", expr("(__pa * __w) % __sw"))
          .withColumn("__leftover",
            col("__pa") - sum(col("__base")).over(wSib))
          .withColumn("__rnk", row_number().over(
            wSib.orderBy(col("__rem").desc, col("node"))))
          .select(col("node"),
            (col("__pd") + 1L).as("depth"),
            (col("__base") +
              when(col("__rnk") <= col("__leftover"), 1L).otherwise(0L))
              .as("amount"))
          .select(col("node"), col("amount"), col("depth")), lit(true))
        if (nAlloc == 0L) (levels, true) else (levels :+ alloc, false)
    }
    levels.reduce(_ unionByName _)
      .select(col("node"), col("depth"), col("amount"))
  }
}
