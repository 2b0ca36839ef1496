package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  private val edgeSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType)))

  private def edges(pairs: (String, String)*) =
    df(edgeSchema, pairs.map(p => Row(p._1, p._2)): _*)

  // Small unit keeps the hand arithmetic readable: 1.0 = 1000 units.
  private val U = 1000L

  test("one iteration matches hand-computed fixed-point arithmetic") {
    // a -> b, a -> c, b -> c; c dangling.
    val ranked = LinkGraph.pagerank(
      edges("a" -> "b", "a" -> "c", "b" -> "c"),
      "src", "dst", iterations = 1, unit = U)
      .orderBy("node").collect()

    // base = (1000 * 15) div 100 = 150
    // contribs: a splits 1000 over 2 -> 500 each; b sends 1000 to c.
    // a: in 0      -> 150 + (85*0)    div 100 = 150
    // b: in 500    -> 150 + (85*500)  div 100 = 150 + 425  = 575
    // c: in 1500   -> 150 + (85*1500) div 100 = 150 + 1275 = 1425
    ranked.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", 2L, 150L), ("b", 1L, 575L), ("c", 0L, 1425L))
  }

  test("second iteration compounds exactly (floor at every step)") {
    val ranked = LinkGraph.pagerank(
      edges("a" -> "b", "a" -> "c", "b" -> "c"),
      "src", "dst", iterations = 2, unit = U)
      .orderBy("node").collect()

    // From (a,b,c) = (150, 575, 1425):
    // a splits 150 over 2 -> 75 each; b sends 575 to c.
    // a: 150 + 0 = 150
    // b: 150 + (85*75)  div 100 = 150 + 63  = 213
    // c: 150 + (85*650) div 100 = 150 + 552 = 702
    ranked.map(r => (r.getString(0), r.getLong(2))).toSeq shouldBe
      Seq(("a", 150L), ("b", 213L), ("c", 702L))
  }

  test("multi-edges deduplicate and self-loops drop") {
    val ranked = LinkGraph.pagerank(
      edges("a" -> "b", "a" -> "b", "a" -> "a", "b" -> "c", "b" -> "c"),
      "src", "dst", iterations = 1, unit = U)
      .orderBy("node").collect()
    // Effective graph: a->b, b->c. a out_degree 1 (self-loop gone).
    ranked.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", 1L, 150L), ("b", 1L, 1000L), ("c", 0L, 1000L))
  }

  test("mass never exceeds n*unit (leak-only spec) and stays positive") {
    val pairs = (0 until 200).map(i => (s"d${i % 23}", s"d${(3 * i + 1) % 29}"))
    val r = LinkGraph.pagerank(edges(pairs: _*), "src", "dst", 4, unit = U)
    val n = r.count()
    val agg = r.agg(sum("rank_units"), min("rank_units")).head()
    agg.getLong(0) should be <= n * U
    // Every node keeps at least the teleport base.
    agg.getLong(1) should be >= (U * 15) / 100
  }

  test("hits: one round matches hand-computed matvec + L1 rescale") {
    // a -> b, a -> c, b -> c; n = 3, mass M = 3000.
    // h0 = (1000, 1000, 1000).
    // a_raw: a 0, b 1000, c 2000; sum 3000 -> rescale identity.
    // h_raw: a a1(b)+a1(c)=3000, b a1(c)=2000, c 0; sum 5000
    //   -> h1 = v*3000//5000 = (1800, 1200, 0).
    val r = LinkGraph.hits(edges("a" -> "b", "a" -> "c", "b" -> "c"),
      "src", "dst", iterations = 1, unit = U).orderBy("node").collect()
    r.map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).toSeq shouldBe Seq(
      ("a", 2L, 0L, 1800L, 0L),
      ("b", 1L, 1L, 1200L, 1000L),
      ("c", 0L, 2L, 0L, 2000L))
  }

  test("hits: second round compounds exactly, floor at every rescale") {
    // From h1 = (1800, 1200, 0):
    // a_raw: b 1800, c 3000; sum 4800 -> a2 = (0, 1125, 1875).
    // h_raw: a 3000, b 1875, c 0; sum 4875
    //   -> h2 = (3000*3000//4875, 1875*3000//4875, 0) = (1846, 1153, 0).
    val r = LinkGraph.hits(edges("a" -> "b", "a" -> "c", "b" -> "c"),
      "src", "dst", iterations = 2, unit = U).orderBy("node").collect()
    r.map(x => (x.getString(0), x.getLong(3), x.getLong(4))).toSeq shouldBe
      Seq(("a", 1846L, 0L), ("b", 1153L, 1125L), ("c", 0L, 1875L))
  }

  test("hits: multi-edges deduplicate, self-loops drop, L1 mass within floor slack") {
    val pairs = (0 until 200).map(i => (s"d${i % 23}", s"d${(3 * i + 1) % 29}")) ++
      Seq(("d1", "d1"), ("d0", "d4"), ("d0", "d4"))
    val r = LinkGraph.hits(edges(pairs: _*), "src", "dst",
      iterations = 3, unit = U)
    val n = r.count()
    // Each rescale floors per node: total mass lands in (n*U - n, n*U].
    val agg = r.agg(sum("hub_units"), sum("auth_units")).head()
    agg.getLong(0) should be <= n * U
    agg.getLong(0) should be > n * U - n
    agg.getLong(1) should be <= n * U
    agg.getLong(1) should be > n * U - n
  }

  test("trustRank: teleport only to seeds, trust decays along links, unreachable stays 0") {
    import spark.implicits._
    // a -> b -> c, seed = {a}. Start: a=1000, b=0, c=0.
    // iter 1: a: base 150 + 0;           b: 0 + 85% of 1000 = 850; c: 0
    // iter 2: a: 150; b: 0 + 85% of 150 = 127; c: 85% of 850 = 722
    val seeds = Seq("a").toDF("node")
    val r = LinkGraph.trustRank(edges("a" -> "b", "b" -> "c"), seeds,
      iterations = 2, unit = U).orderBy("node").collect()
    r.map(x => (x.getString(0), x.getBoolean(2), x.getLong(3))).toSeq shouldBe
      Seq(("a", true, 150L), ("b", false, 127L), ("c", false, 722L))
    // a node with no path from any seed holds exactly zero trust
    val iso = LinkGraph.trustRank(edges("a" -> "b", "x" -> "y"), seeds,
      iterations = 3, unit = U).orderBy("node").collect()
    iso.filter(x => Set("x", "y")(x.getString(0)))
      .map(_.getLong(3)).toSeq shouldBe Seq(0L, 0L)
  }

  test("normalizedRank: exact rational share + permilles vs ideal and retained mass") {
    // From the 1-iteration fixture: ranks (a,b,c) = (150, 575, 1425),
    // n = 3 so share_den = 3000; retained = 2150 (leak = 850).
    val norm = LinkGraph.normalizedRank(
      LinkGraph.pagerank(edges("a" -> "b", "a" -> "c", "b" -> "c"),
        "src", "dst", iterations = 1, unit = U), unit = U)
      .orderBy("node").collect()
    norm.map(r => (r.getString(0), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))).toSeq shouldBe Seq(
      // (node, share_num, share_den, share_permille, retained_units, retained_permille)
      ("a", 150L, 3000L, 50L, 2150L, 69L),    // 150000 div 2150 = 69
      ("b", 575L, 3000L, 191L, 2150L, 267L),  // 575000 div 3000 = 191
      ("c", 1425L, 3000L, 475L, 2150L, 662L)) // floor, never round
  }

  test("normalizedRank plan: totals arrive by broadcast, rank rows never shuffle for the total") {
    // The totals frame is one row; it must reach every rank row as a
    // broadcast (nested-loop, there is no join key), never by
    // repartitioning the rank side. A shuffle here would be the
    // classic scalar-total scalability bug at a billion nodes.
    val r = LinkGraph.normalizedRank(
      LinkGraph.pagerank(edges("a" -> "b", "b" -> "c"), "src", "dst", 1, unit = U),
      unit = U)
    r.collect() // force planning through AQE to the executed plan
    val plan = r.queryExecution.executedPlan.toString
    plan should include ("BroadcastNestedLoopJoin")
  }

  test("deep iteration: exact integer fixed point on the pure plan") {
    // 25 iterations reach the integer fixed point: iteration 26
    // changes nothing — floor arithmetic converges exactly, no epsilon.
    val pairs = (0 until 120).map(i => (s"d${i % 17}", s"d${(5 * i + 3) % 19}"))
    val base = edges(pairs: _*)
    assertSameRows(LinkGraph.pagerank(base, "src", "dst", 25, unit = U),
      LinkGraph.pagerank(base, "src", "dst", 26, unit = U))
  }

  test("harmonicCentrality: hand-computed micro-unit sums on a chain + fork") {
    // a -> b -> c, d -> c: distances into c are b:1, a:2, d:1.
    val r = LinkGraph.harmonicCentrality(
      edges("a" -> "b", "b" -> "c", "d" -> "c"), "src", "dst", maxDepth = 4)
      .orderBy("node").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
    // H(c) = 1/1 (b) + 1/2 (a) + 1/1 (d) = 2,500,000 micro-units
    r shouldBe Seq(
      ("a", 0L, 0L),
      ("b", 1L, 1000000L),
      ("c", 3L, 2500000L),
      ("d", 0L, 0L))
  }

  test("harmonicCentrality: BFS level is the MIN distance when paths tie and diverge") {
    // two routes a->c: direct (d=1) and via b (d=2) — the pair must
    // contribute once, at the shorter distance.
    val r = LinkGraph.harmonicCentrality(
      edges("a" -> "b", "b" -> "c", "a" -> "c"), "src", "dst", maxDepth = 4)
      .orderBy("node").collect()
      .map(x => (x.getString(0), x.getLong(2))).toSeq
    // H(c) = b:1/1 + a:1/1 (NOT 1/2) = 2,000,000
    r shouldBe Seq(("a", 0L), ("b", 1000000L), ("c", 2000000L))
  }

  test("harmonicCentrality: radius bounds contributions; cycles do not loop mass") {
    // ring a -> b -> c -> a at radius 1: only direct in-neighbors.
    val ring = edges("a" -> "b", "b" -> "c", "c" -> "a")
    val r1 = LinkGraph.harmonicCentrality(ring, "src", "dst", maxDepth = 1)
      .orderBy("node").collect().map(x => (x.getString(0), x.getLong(2))).toSeq
    r1 shouldBe Seq(("a", 1000000L), ("b", 1000000L), ("c", 1000000L))
    // radius 2 adds the 2-hop neighbor; the 3-hop walk back to self
    // is excluded (no self pairs), so mass never circulates.
    val r2 = LinkGraph.harmonicCentrality(ring, "src", "dst", maxDepth = 2)
      .orderBy("node").collect().map(x => (x.getString(0), x.getLong(2))).toSeq
    r2 shouldBe Seq(("a", 1500000L), ("b", 1500000L), ("c", 1500000L))
    val r5 = LinkGraph.harmonicCentrality(ring, "src", "dst", maxDepth = 5)
      .orderBy("node").collect().map(x => (x.getString(0), x.getLong(2))).toSeq
    r5 shouldBe r2 // the whole ring is within radius 2; deeper adds nothing
  }

  test("property: harmonicCentrality matches Floyd-Warshall on random digraphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val SCALE = 1000000L
    val DEPTH = 3
    def reference(n: Int, edges: Set[(Int, Int)]): Map[String, (Long, Long)] = {
      val INF = Int.MaxValue / 2
      val d = Array.tabulate(n, n)((i, j) =>
        if (i == j) 0 else if (edges((i, j))) 1 else INF)
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
      // node universe = nodes touching an edge (operator's contract)
      val live = (0 until n).filter(v => edges.exists(e => e._1 == v || e._2 == v))
      live.map { v =>
        val ds = live.filter(u => u != v && d(u)(v) <= DEPTH).map(u => d(u)(v))
        s"n$v" -> (ds.size.toLong, ds.map(SCALE / _).sum)
      }.toMap
    }
    val graphs = for {
      n <- Gen.choose(2, 8)
      pairs = for { i <- 0 until n; j <- 0 until n if i != j } yield (i, j)
      es <- Gen.someOf(pairs)
    } yield (n, es.toSet)
    val prop = Prop.forAll(graphs) { case (n, es) =>
      es.isEmpty || {
        val got = LinkGraph.harmonicCentrality(
          edges(es.toSeq.map(e => (s"n${e._1}", s"n${e._2}")): _*),
          "src", "dst", maxDepth = DEPTH)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        got == reference(n, es)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"harmonic vs Floyd-Warshall: $res")
  }

  test("graphAudit: hand-computed degrees and reciprocated edges") {
    // a<->b reciprocated; a->c one-way; c->b one-way; d isolated-ish
    // (only an out-edge to a). Multi-edge a->b duplicated to prove
    // dedup happens before counting.
    val r = LinkGraph.graphAudit(
      edges("a" -> "b", "a" -> "b", "b" -> "a", "a" -> "c",
        "c" -> "b", "d" -> "a"),
      "src", "dst")
      .orderBy("node").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq
    r shouldBe Seq(
      ("a", 2L, 2L, 1L),  // out: b,c; in: b,d; reciprocal: a->b
      ("b", 1L, 2L, 1L),  // out: a; in: a,c; reciprocal: b->a
      ("c", 1L, 1L, 0L),
      ("d", 1L, 0L, 0L))
  }

  test("labelPropagation: two cliques over a bridge split where components merge") {
    // K4 on a1..a4, K4 on b1..b4, one bridge a1-b1: ONE connected
    // component, but density pulls LPA into TWO communities.
    def clique(ns: Seq[String]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val as = Seq("a1", "a2", "a3", "a4"); val bs = Seq("b1", "b2", "b3", "b4")
    val g = edges(clique(as) ++ clique(bs) :+ ("a1" -> "b1"): _*)
    val out = LinkGraph.labelPropagation(g, "src", "dst", iterations = 4)
      .collect().map(r => r.getAs[String]("node") ->
        (r.getAs[String]("community"), r.getAs[Long]("community_size"))).toMap
    as.foreach(n => out(n) shouldBe ("a1", 4L))
    bs.foreach(n => out(n) shouldBe ("b1", 4L))
  }

  test("labelPropagation: synchronous 2-cycle on a single edge; tie to min label") {
    // one edge a-b: synchronous LPA oscillates with period 2 — after
    // an EVEN number of rounds each node is back to its own label
    // (the documented bipartite 2-cycle).
    val out = LinkGraph.labelPropagation(edges("a" -> "b"), "src", "dst",
        iterations = 4)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("community")).toMap
    out shouldBe Map("a" -> "a", "b" -> "b")
    // star center: all leaves tie at count 1 -> smallest leaf label
    val star = LinkGraph.labelPropagation(
        edges("c" -> "z", "c" -> "y", "c" -> "x"), "src", "dst",
        iterations = 1)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[String]("community")).toMap
    star("c") shouldBe "x"
  }

  test("seedReach: monotone frontier growth on a path; off-graph seeds ignored") {
    val g = edges("a" -> "b", "b" -> "c", "c" -> "d")
    val seedSchema = StructType(Seq(StructField("node", StringType)))
    val seeds = df(seedSchema, Row("a"), Row("ghost")) // ghost: not in graph
    val out = LinkGraph.seedReach(g, seeds, maxHops = 3)
      .collect().map(r => r.getAs[Int]("hop") ->
        (r.getAs[Long]("n_reachable"), r.getAs[Long]("share_permille"))).toMap
    out(0) shouldBe ((1L, 250L))
    out(1) shouldBe ((2L, 500L))
    out(2) shouldBe ((3L, 750L))
    out(3) shouldBe ((4L, 1000L))
    // plateau past the component boundary: b's component ends at d
    val plateau = LinkGraph.seedReach(g, df(seedSchema, Row("c")), maxHops = 3)
      .collect().map(r => r.getAs[Int]("hop") -> r.getAs[Long]("n_reachable"))
      .toMap
    plateau(1) shouldBe 2L
    plateau(3) shouldBe 2L // monotone AND flat after exhaustion
  }

  test("pagerankWeighted: proportional split by hand; uniform weights ≡ pagerank") {
    val wSchema = StructType(Seq(StructField("src", StringType),
      StructField("dst", StringType), StructField("w", LongType)))
    // a->b weight 3, a->c weight 1: a's 1000 units split 750/250
    // b: 150 + (85*750) div 100 = 787;  c: 150 + (85*250) div 100 = 362
    val g = df(wSchema, Row("a", "b", 3L), Row("a", "c", 1L))
    val out = LinkGraph.pagerankWeighted(g, "src", "dst", "w",
        iterations = 1, unit = U)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[Long]("rank_units")).toMap
    out shouldBe Map("a" -> 150L, "b" -> 787L, "c" -> 362L)
    // parallel edges merge additively: two w=1 a->b edges == one w=2
    val par = df(wSchema, Row("a", "b", 1L), Row("a", "b", 1L),
      Row("a", "c", 2L))
    val mrg = df(wSchema, Row("a", "b", 2L), Row("a", "c", 2L))
    assertSameRows(
      LinkGraph.pagerankWeighted(par, "src", "dst", "w", 2, U),
      LinkGraph.pagerankWeighted(mrg, "src", "dst", "w", 2, U))
    // uniform weights degenerate to the unweighted operator
    val pairs = (0 until 80).map(i => (s"n${i % 11}", s"n${(3 * i + 1) % 13}"))
    val uw = df(wSchema, pairs.map(p => Row(p._1, p._2, 7L)): _*)
    val a = LinkGraph.pagerankWeighted(uw, "src", "dst", "w", 3, U)
      .select("node", "rank_units")
    val b = LinkGraph.pagerank(edges(pairs: _*), "src", "dst", 3, U)
      .select("node", "rank_units")
    assertSameRows(a, b)
  }

  test("triangleStats: hand counts, K4 full clustering, stars have none") {
    // triangle a-b-c with pendant d on a
    val g = edges("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d")
    val out = LinkGraph.triangleStats(g, "src", "dst").collect()
      .map(r => r.getAs[String]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
         r.getAs[Long]("clustering_permille"))).toMap
    out("a") shouldBe ((3L, 1L, 333L))
    out("b") shouldBe ((2L, 1L, 1000L))
    out("c") shouldBe ((2L, 1L, 1000L))
    out("d") shouldBe ((1L, 0L, 0L))
    // K4: 4 triangles total, 3 through each node, clustering 1000
    def clique(ns: Seq[String]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val k4 = LinkGraph.triangleStats(
        edges(clique(Seq("w", "x", "y", "z")): _*), "src", "dst")
      .collect()
    k4.foreach { r =>
      r.getAs[Long]("triangles") shouldBe 3L
      r.getAs[Long]("clustering_permille") shouldBe 1000L
    }
    // star: the farm signature's opposite — zero clustering everywhere
    val star = LinkGraph.triangleStats(
      edges("h" -> "s1", "h" -> "s2", "h" -> "s3"), "src", "dst").collect()
    star.foreach(_.getAs[Long]("triangles") shouldBe 0L)
  }

  test("triangleStats matches a brute-force triple scan") {
    val pairs = (0 until 160).map(i => (s"n${i % 13}", s"n${(7 * i + 3) % 17}"))
    val base = edges(pairs: _*)
    val got = LinkGraph.triangleStats(base, "src", "dst").collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("triangles")).toMap
    // brute force on the undirected closure
    val und = pairs.flatMap(p => Seq(p, p.swap)).filter(p => p._1 != p._2).toSet
    val nodes = und.map(_._1).toSeq.sorted
    val brute = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      if und.contains((nodes(i), nodes(j)))
      k <- j + 1 until nodes.size
      if und.contains((nodes(j), nodes(k))) && und.contains((nodes(i), nodes(k)))
    } Seq(nodes(i), nodes(j), nodes(k)).foreach(n => brute(n) += 1)
    nodes.foreach(n => got(n) shouldBe brute(n))
  }

  test("kCore: peeling cascades — one degree filter is NOT enough") {
    // path a-b-c-d-e with k=2: every interior node has degree 2, but
    // peeling the endpoints drops b and d to degree 1, then c to 0 —
    // the 2-core is EMPTY, and it takes all three rounds to get there.
    val path = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e")
    LinkGraph.kCore(path, "src", "dst", k = 2, rounds = 3)
      .count() shouldBe 0L
    // after only ONE round, b-c-d still look like a path: not empty —
    // pinning that the cascade, not the first filter, is the operator
    LinkGraph.kCore(path, "src", "dst", k = 2, rounds = 1)
      .count() should be > 0L
    // a triangle IS its own 2-core: stable at any horizon
    val tri = edges("x" -> "y", "y" -> "z", "z" -> "x")
    val out = LinkGraph.kCore(tri, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getAs[String]("node") ->
        r.getAs[Long]("core_degree")).toMap
    out shouldBe Map("x" -> 2L, "y" -> 2L, "z" -> 2L)
  }

  test("kCore: core survives, pendant fringe peels") {
    // K4 core with a pendant chain hanging off a1
    def clique(ns: Seq[String]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val g = edges(clique(Seq("a1", "a2", "a3", "a4")) ++
      Seq("a1" -> "t1", "t1" -> "t2"): _*)
    val out = LinkGraph.kCore(g, "src", "dst", k = 3, rounds = 3)
      .collect().map(_.getAs[String]("node")).toSet
    out shouldBe Set("a1", "a2", "a3", "a4")
  }

  test("coCitation: hand-computed common citers and Jaccard permille") {
    // citers x,y both link a and b; z links only a.
    // in(a) = {x,y,z} = 3, in(b) = {x,y} = 2, common = 2
    // jaccard = 2*1000 div (3+2-2) = 666
    val g = edges("x" -> "a", "x" -> "b", "y" -> "a", "y" -> "b",
      "z" -> "a")
    val out = LinkGraph.coCitation(g, "src", "dst", minCommon = 2)
      .collect().map(r => (r.getAs[String]("node_a"), r.getAs[String]("node_b")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jaccard_permille"))).toMap
    out shouldBe Map(("a", "b") -> ((2L, 666L)))
  }

  test("coCitation: capped citers vanish from numerator AND denominator") {
    // hub h links a,b,c (out-degree 3 > cap 2) -> dropped entirely;
    // x,y link a,b. Without the cap: common(a,b)=3, in(a)=3.
    // With cap 2: common=2, in(a)=in(b)=2, jaccard = 1000.
    val g = edges("h" -> "a", "h" -> "b", "h" -> "c",
      "x" -> "a", "x" -> "b", "y" -> "a", "y" -> "b")
    val out = LinkGraph.coCitation(g, "src", "dst", maxOutDegree = 2,
        minCommon = 2)
      .collect().map(r => (r.getAs[String]("node_a"), r.getAs[String]("node_b")) ->
        (r.getAs[Long]("common"), r.getAs[Long]("jaccard_permille"))).toMap
    out shouldBe Map(("a", "b") -> ((2L, 1000L))) // never inflated past 1000
  }

  // --- strongly connected components -------------------------------

  // two directed cycles joined by a ONE-WAY bridge, plus a tail: the
  // graph where undirected components collapse everything to one blob
  // but the directed answer keeps them apart.
  private def sccFixture = edges(
    "a1" -> "a2", "a2" -> "a3", "a3" -> "a1", // 3-cycle {a1,a2,a3}
    "a1" -> "b1",                             // one-way bridge
    "b1" -> "b2", "b2" -> "b1",               // 2-cycle {b1,b2}
    "b2" -> "c1")                             // singleton tail {c1}

  test("stronglyConnected: cycles stay separate across one-way bridges") {
    val out = LinkGraph.stronglyConnected(sccFixture, "src", "dst")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    out shouldBe Map(
      "a1" -> (("a1", 3L)), "a2" -> (("a1", 3L)), "a3" -> (("a1", 3L)),
      "b1" -> (("b1", 2L)), "b2" -> (("b1", 2L)),
      "c1" -> (("c1", 1L)))
    // the undirected component family would merge ALL of these
    graft.dedup.Dedup.componentLabels(
        sccFixture.withColumnRenamed("src", "doc_a")
          .withColumnRenamed("dst", "doc_b"))
      .select("label").distinct().count() shouldBe 1L
  }

  test("stronglyConnected: condensation chain needs every peel round it is given") {
    // chain of three 2-cycles x -> y -> z: colors flood the whole
    // graph with x1's label each round, so exactly one SCC peels per
    // round — 3 rounds required, 2 must fail LOUDLY (never silently
    // mislabel: the componentLabels contract).
    val chain = edges(
      "x1" -> "x2", "x2" -> "x1", "x1" -> "y1",
      "y1" -> "y2", "y2" -> "y1", "y1" -> "z1",
      "z1" -> "z2", "z2" -> "z1")
    val out = LinkGraph.stronglyConnected(chain, "src", "dst", maxRounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    out shouldBe Map("x1" -> "x1", "x2" -> "x1", "y1" -> "y1",
      "y2" -> "y1", "z1" -> "z1", "z2" -> "z1")
    an[IllegalStateException] should be thrownBy
      LinkGraph.stronglyConnected(chain, "src", "dst", maxRounds = 2)
  }

  test("stronglyConnected: coloring cap binds at the ancestor-chain length") {
    // a directed 6-path: min-label flooding needs 5 propagation steps
    // (+1 to observe the fixpoint); a cap of 3 must throw, not
    // mislabel (the q131 convergence-at-diameter case, directed form)
    val path = edges("p1" -> "p2", "p2" -> "p3", "p3" -> "p4",
      "p4" -> "p5", "p5" -> "p6")
    an[IllegalStateException] should be thrownBy
      LinkGraph.stronglyConnected(path, "src", "dst", maxPropIters = 3)
    // with room to converge every node is its own singleton SCC
    LinkGraph.stronglyConnected(path, "src", "dst")
      .filter(col("scc_size") === 1).count() shouldBe 6L
  }

  test("stronglyConnected matches brute-force mutual reachability on random digraphs") {
    val rnd = new scala.util.Random(14)
    for (_ <- 1 to 5) {
      val n = 8
      val pairs = (0 until 16).map(_ =>
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(p => p._1 != p._2).distinct
      if (pairs.nonEmpty) {
        // Floyd-Warshall closure on the small universe
        val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        val idx = ids.zipWithIndex.toMap
        val m = ids.length
        val r = Array.fill(m, m)(false)
        pairs.foreach(p => r(idx(p._1))(idx(p._2)) = true)
        for (k <- 0 until m; i <- 0 until m; j <- 0 until m)
          if (r(i)(k) && r(k)(j)) r(i)(j) = true
        val expected = ids.map { v =>
          val i = idx(v)
          val members = ids.filter(w => w == v ||
            (r(i)(idx(w)) && r(idx(w))(i)))
          v -> ((members.min, members.size.toLong))
        }.toMap
        val out = LinkGraph.stronglyConnected(edges(pairs: _*), "src", "dst")
          .collect()
          .map(row => row.getString(0) -> ((row.getString(1), row.getLong(2))))
          .toMap
        out shouldBe expected
      }
    }
  }

  private val wSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType),
    StructField("w", LongType)))

  private def wEdges(rows: (String, String, Long)*) =
    df(wSchema, rows.map(r => Row(r._1, r._2, r._3)): _*)

  test("stationary: uniform 2-cycle is a fixed point; absorbing state accumulates") {
    // symmetric 2-cycle: the uniform start IS stationary
    val cyc = LinkGraph.stationary(
        wEdges(("a", "b", 1L), ("b", "a", 1L)),
        "src", "dst", "w", iterations = 3, unit = 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    cyc shouldBe Map("a" -> 1000L, "b" -> 1000L)
    // a -> b only: b is absorbing and ends with ALL the mass
    val abs = LinkGraph.stationary(wEdges(("a", "b", 5L)),
        "src", "dst", "w", iterations = 2, unit = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    abs("a") shouldBe ((5L, 0L))
    abs("b") shouldBe ((0L, 2000L)) // retained + inflow, conserved
  }

  test("stationary: proportional split with floor, self-loops carry mass") {
    // a: 3/4 of its mass to b, 1/4 back to itself (self-loop kept)
    val out = LinkGraph.stationary(
        wEdges(("a", "b", 3L), ("a", "a", 1L), ("b", "a", 1L)),
        "src", "dst", "w", iterations = 1, unit = 1000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // a: self 1000/4=250 + from b 1000; b: 3*1000/4=750
    out shouldBe Map("a" -> 1250L, "b" -> 750L)
  }

  test("stationary conserves mass up to floor") {
    val e = wEdges((0 until 40).map(i =>
      (s"n${i % 7}", s"n${(3 * i + 1) % 7}", (i % 5 + 1).toLong)): _*)
    val a = LinkGraph.stationary(e, "src", "dst", "w", iterations = 4)
    val total = a.agg(org.apache.spark.sql.functions.sum("mass_units"))
      .collect().head.getLong(0)
    val n = a.count()
    total should be <= n * LinkGraph.DefaultUnit
    total should be > (n * LinkGraph.DefaultUnit * 99) / 100 // floor leak only
  }

  test("condensation: intra-SCC edges vanish, crossings count distinct edges") {
    // add a SECOND distinct bridge edge a2 -> b2 so one condensation
    // pair carries n_edges = 2
    val g = sccFixture.unionByName(edges("a2" -> "b2"))
    val out = LinkGraph.condensation(g, "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    out shouldBe Map(
      ("a1", "b1") -> 2L, // a1->b1 and a2->b2 both cross A->B
      ("b1", "c1") -> 1L)
  }

  test("linkPrediction: 4-cycle diagonals score exactly, existing edges never surface") {
    // a-b-c-d-a (undirected square, given in one direction each):
    // diagonals (a,c) and (b,d) have two common neighbors of degree 2
    // -> ra_e6 = 2 * (10^6 div 2) = 1000000; the four existing edges
    // are 2-hop pairs too (via the cycle) but must be anti-joined out
    val e = edges("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    val out = LinkGraph.linkPrediction(e, "src", "dst", minCommon = 2)
      .as[(String, String, Long, Long)].collect().sorted
    out.toSeq shouldBe Seq(("a", "c", 2L, 1000000L), ("b", "d", 2L, 1000000L))
  }

  test("linkPrediction: low-degree mutual neighbors outweigh hubs; cap drops hub wedges") {
    // x-m-y with deg(m)=2, plus p-h-q where h is also linked to 4
    // others (deg(h)=6): RA scores (x,y) three times (p,q)
    val e = edges("x" -> "m", "m" -> "y",
      "p" -> "h", "h" -> "q",
      "h" -> "f1", "h" -> "f2", "h" -> "f3", "h" -> "f4")
    val all = LinkGraph.linkPrediction(e, "src", "dst", minCommon = 1)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    all(("x", "y")) shouldBe 500000L  // 10^6 div 2
    all(("p", "q")) shouldBe 166666L  // 10^6 div 6
    // capping at deg <= 5 removes every wedge through h but keeps m's
    val capped = LinkGraph.linkPrediction(e, "src", "dst",
        maxDegree = 5, minCommon = 1)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    capped should contain(("x", "y"))
    capped.exists(p => p._1 == "p" || p._2 == "q") shouldBe false
  }

  test("propagateFeatures: chain floor-means hop by hop; sources stay NULL") {
    import spark.implicits._
    val e = edges("a" -> "b", "b" -> "c", "x" -> "c")
    val f = Seq(("a", 10L), ("b", 20L), ("c", 30L), ("x", 15L))
      .toDF("node", "f")
    val out = LinkGraph.propagateFeatures(e, f, "src", "dst", "node", "f")
      .as[(String, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out("a") shouldBe ((10L, None, None))       // no in-neighbors: NULL, not 0
    out("x") shouldBe ((15L, None, None))
    out("b") shouldBe ((20L, Some(10L), None))  // h2: a has no h1 -> NULL
    // h1(c) = floor((20 + 15) / 2) = 17; h2(c) = mean of h1 over
    // in-neighbors WITH h1 = h1(b) alone = 10 (x's NULL doesn't poison)
    out("c") shouldBe ((30L, Some(17L), Some(10L)))
  }

  test("condensation is acyclic: its own SCCs are all singletons") {
    // the theorem, checked self-referentially: a cycle among
    // condensation nodes would have merged its members into one SCC
    val cond = LinkGraph.condensation(sccFixture, "src", "dst")
      .withColumnRenamed("scc_src", "src").withColumnRenamed("scc_dst", "dst")
    LinkGraph.stronglyConnected(cond, "src", "dst")
      .filter(col("scc_size") > 1).count() shouldBe 0L
  }

  private def wedges(ts: (String, String, Long)*) = {
    import spark.implicits._
    ts.toDF("src", "dst", "w")
  }

  private def seedSet(ns: String*) = {
    import spark.implicits._
    ns.toDF("node")
  }

  test("seedDistances: two-hop shortcut beats the direct edge") {
    val e = wedges(("A", "B", 10L), ("B", "C", 1L), ("A", "C", 100L))
    val d = LinkGraph.seedDistances(e, seedSet("A"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d shouldBe Map("A" -> 0L, "B" -> 10L, "C" -> 11L)
  }

  test("seedDistances: cycles terminate under the distance bound; beyond-bound nodes are absent") {
    val e = wedges(("A", "B", 1L), ("B", "A", 1L), ("B", "Z", 100L))
    val d = LinkGraph.seedDistances(e, seedSet("A"), maxDist = 5L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d shouldBe Map("A" -> 0L, "B" -> 1L)   // Z at 101 pruned, loop stops
  }

  test("seedDistances: nearest of MULTIPLE seeds wins; parallel edges take min weight") {
    val e = wedges(("A", "M", 9L), ("B", "M", 4L), ("B", "M", 2L))
    val d = LinkGraph.seedDistances(e, seedSet("A", "B"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    d("M") shouldBe 2L
  }

  test("seedDistances: unconverged cap throws loudly rather than emit short distances") {
    val e = wedges(("A", "B", 1L), ("B", "C", 1L), ("C", "D", 1L))
    an[IllegalStateException] should be thrownBy
      LinkGraph.seedDistances(e, seedSet("A"), maxRounds = 1)
  }

  private def reachMap(e: org.apache.spark.sql.DataFrame, cap: Long = 64L) =
    LinkGraph.twoHopReach(e, "src", "dst", maxOutDegree = cap)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("out_degree"), r.getAs[Long]("n_reach2")))).toMap

  test("twoHopReach: hand counts, overlap dedup, self exclusion") {
    // a->{b,e}, b->{c,d}, e->c: reach(a) = {b,e,c,d} = 4 (c via two
    // paths counts once); reach(b) = {c,d}; 2-cycle a<->b excl self
    val m = reachMap(edges("a" -> "b", "a" -> "e", "b" -> "c",
      "b" -> "d", "e" -> "c"))
    m("a") shouldBe ((2L, 4L))
    m("b") shouldBe ((2L, 2L))
    m("e") shouldBe ((1L, 1L))
    val cyc = reachMap(edges("a" -> "b", "b" -> "a"))
    cyc("a") shouldBe ((1L, 1L))   // a->b->a: self never counted
    cyc("b") shouldBe ((1L, 1L))
  }

  test("twoHopReach: the hub cap drops hop-2 paths through super-spreaders") {
    // a->h, h->{x,y,z}: uncapped reach(a) = 4; cap 2 keeps only {h}
    val e = edges("a" -> "h", "h" -> "x", "h" -> "y", "h" -> "z")
    reachMap(e)("a") shouldBe ((1L, 4L))
    reachMap(e, cap = 2L)("a") shouldBe ((1L, 1L))
    // the hub's own hop-1 row stays exact and uncapped
    reachMap(e, cap = 2L)("h") shouldBe ((3L, 3L))
  }

  private def labelDf(pairs: (String, String)*) = {
    import org.apache.spark.sql.functions.{col, lit}
    pairs.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (acc, (n, l)) =>
        val row = edges(n -> n).select(col("src").as("node")).limit(1)
          .select(col("node"), lit(l).as("label"))
        Some(acc.map(_.unionByName(row)).getOrElse(row))
    }.get
  }

  test("modularity: the two-triangles-and-a-bridge textbook value") {
    // triangles {a,b,c} and {x,y,z} joined by c-x: m = 7; each
    // triangle community: e_c = 3, d_c = 7 ->
    // contrib = (84 - 49)e6 // 196 = 178571; Q ~ 0.357
    val e = edges("a" -> "b", "b" -> "c", "c" -> "a",
      "x" -> "y", "y" -> "z", "z" -> "x", "c" -> "x")
    val lab = labelDf("a" -> "T1", "b" -> "T1", "c" -> "T1",
      "x" -> "T2", "y" -> "T2", "z" -> "T2")
    val out = LinkGraph.modularity(e, "src", "dst", lab)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("T1", "T2").foreach { t =>
      out(t).getAs[Long]("inner_edges") shouldBe 3L
      out(t).getAs[Long]("degree_sum") shouldBe 7L
      out(t).getAs[Long]("m_edges") shouldBe 7L
      out(t).getAs[Long]("contrib_e6") shouldBe 178571L
    }
  }

  test("modularity: one-community partition scores exactly zero; sparse goes negative") {
    val tri = edges("a" -> "b", "b" -> "c", "c" -> "a")
    val all = labelDf("a" -> "ALL", "b" -> "ALL", "c" -> "ALL")
    LinkGraph.modularity(tri, "src", "dst", all)
      .collect().head.getAs[Long]("contrib_e6") shouldBe 0L
    // 4-cycle with alternating labels: zero inner edges, d_c = 4,
    // m = 4 -> contrib = -16e6 // 64 = -250000 each
    val cyc = edges("p" -> "q", "q" -> "r", "r" -> "s", "s" -> "p")
    val alt = labelDf("p" -> "EVEN", "r" -> "EVEN", "q" -> "ODD", "s" -> "ODD")
    LinkGraph.modularity(cyc, "src", "dst", alt).collect()
      .foreach(_.getAs[Long]("contrib_e6") shouldBe -250000L)
  }

  test("modularity is invariant under edge direction") {
    val e = edges("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "x",
      "x" -> "y", "y" -> "x")   // duplicate/reversed edges collapse
    val rev = edges("b" -> "a", "c" -> "b", "a" -> "c", "x" -> "c",
      "y" -> "x", "x" -> "y")
    val lab = labelDf("a" -> "L", "b" -> "L", "c" -> "L",
      "x" -> "R", "y" -> "R")
    assertSameRows(LinkGraph.modularity(e, "src", "dst", lab),
      LinkGraph.modularity(rev, "src", "dst", lab))
  }

  test("assortativity: star is maximally disassortative, regular graph NULL") {
    // a 4-leaf star: every edge pairs degree 4 with degree 1 -> r = -1
    val star = edges("h" -> "a", "h" -> "b", "h" -> "c", "h" -> "d")
    LinkGraph.assortativity(star, "src", "dst").collect().head
      .getAs[Double]("assortativity") shouldBe -1.0 +- 1e-12
    // a cycle is 2-regular: zero degree variance -> NULL
    val cyc = edges("a" -> "b", "b" -> "c", "c" -> "a")
    val r = LinkGraph.assortativity(cyc, "src", "dst").collect().head
    r.getAs[Long]("n_endpoints") shouldBe 6L
    r.isNullAt(r.fieldIndex("assortativity")) shouldBe true
  }

  test("assortativity: hub-to-hub wiring scores positive; direction-free") {
    // two K3 triangles joined hub-to-hub beat a star's mixing
    val e = edges("a" -> "b", "b" -> "c", "c" -> "a",
      "x" -> "y", "y" -> "z", "z" -> "x", "a" -> "x")
    val fwd = LinkGraph.assortativity(e, "src", "dst").collect().head
      .getAs[Double]("assortativity")
    val rev = LinkGraph.assortativity(
      edges("b" -> "a", "c" -> "b", "a" -> "c", "y" -> "x",
        "z" -> "y", "x" -> "z", "x" -> "a"), "src", "dst")
      .collect().head.getAs[Double]("assortativity")
    fwd shouldBe rev   // symmetrization makes direction irrelevant
    // the bridge joins the two degree-3 hubs: assortative vs the star
    val starR = LinkGraph.assortativity(
      edges("h" -> "a", "h" -> "b", "h" -> "c", "h" -> "d"),
      "src", "dst").collect().head.getAs[Double]("assortativity")
    fwd should be > starR
  }

  private def stressMap(e: org.apache.spark.sql.DataFrame) =
    LinkGraph.stressCentrality(e, "src", "dst").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("stressCentrality: chain, diamond, and double-route hand cases") {
    // chain x->y->z: only x->z runs through y
    stressMap(edges("x" -> "y", "y" -> "z")) shouldBe
      Map("x" -> 0L, "y" -> 1L, "z" -> 0L)
    // diamond a->b->d, a->c->d: b and c each broker one of the two
    // shortest a->d paths; endpoints broker nothing
    stressMap(edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")) shouldBe
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 0L)
    // a->b then b->c->e and b->d->e: through-b paths are a->c, a->d,
    // and a->e TWICE (once per route) = 4; c and d each carry a->e
    // once plus... c: pairs (a,e) via c AND (b,e) via c = 2
    stressMap(edges("a" -> "b", "b" -> "c", "b" -> "d",
      "c" -> "e", "d" -> "e")) shouldBe
      Map("a" -> 0L, "b" -> 4L, "c" -> 2L, "d" -> 2L, "e" -> 0L)
  }

  test("stressCentrality: bridge node carries all cross-ring paths; sources subset governs") {
    // ring a0->a1->a2->a0, bridge a1->b0, tail b0->b1
    val e = edges("a0" -> "a1", "a1" -> "a2", "a2" -> "a0",
      "a1" -> "b0", "b0" -> "b1")
    val full = stressMap(e)
    // b0 brokers: (a1,b1),(a0,b1),(a2,b1) = 3; a1 brokers every
    // path from a0/a2 into the tail plus ring traffic
    full("b0") shouldBe 3L
    full("b1") shouldBe 0L
    // k-source variant: only paths FROM a0 count
    val fromA0 = LinkGraph.stressCentrality(e, "src", "dst",
        sources = Seq("a0").toDF("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a0's shortest-path tree: a0->a1->{a2, b0->b1}; through a1: 3
    // (a2, b0, b1), through b0: 1 (b1)
    fromA0("a1") shouldBe 3L
    fromA0("b0") shouldBe 1L
    fromA0("a2") shouldBe 0L
  }

  test("katzCentrality: chain, diamond, and cycle hand units") {
    def km(e: org.apache.spark.sql.DataFrame, depth: Int = 8) =
      LinkGraph.katzCentrality(e, "src", "dst", betaBits = 1, depth = depth)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // chain x->y->z at depth 8: unit 2^(8-k) per length-k walk.
    // y: one len-1 walk = 128; z: len-1 (128) + len-2 (64) = 192
    km(edges("x" -> "y", "y" -> "z")) shouldBe
      Map("x" -> 0L, "y" -> 128L, "z" -> 192L)
    // diamond: d gets two len-1 walks (256) + two len-2 (128) = 384
    km(edges("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d")) shouldBe
      Map("a" -> 0L, "b" -> 128L, "c" -> 128L, "d" -> 384L)
    // 3-cycle at depth 3: walks REVISIT (that is Katz) — every node
    // collects exactly one walk per length: 4 + 2 + 1 = 7
    km(edges("x" -> "y", "y" -> "z", "z" -> "x"), depth = 3) shouldBe
      Map("x" -> 7L, "y" -> 7L, "z" -> 7L)
  }

  test("katzCentrality: overflow and parameter guards refuse loudly") {
    an[IllegalArgumentException] should be thrownBy
      LinkGraph.katzCentrality(edges("a" -> "b"), "src", "dst",
        betaBits = 8, depth = 8)
    // complete digraph K8: w_k = 7^k per node; at depth 23 the unit
    // sum ~3.8e19 exceeds BIGINT — the final cast must throw, not wrap
    val k8 = edges((for (i <- 0 to 7; j <- 0 to 7; if i != j)
      yield s"v$i" -> s"v$j"): _*)
    an[IllegalArgumentException] should be thrownBy
      LinkGraph.katzCentrality(k8, "src", "dst", betaBits = 1, depth = 23)
  }

  test("eccentricity: chain, cycle, disconnected halves, depth cap") {
    def em(e: org.apache.spark.sql.DataFrame) =
      LinkGraph.eccentricity(e, "src", "dst").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    em(edges("x" -> "y", "y" -> "z")) shouldBe Map(
      "x" -> (2L, 2L), "y" -> (1L, 1L), "z" -> (0L, 0L))
    // directed 3-cycle: everyone reaches the other two, ecc 2
    em(edges("x" -> "y", "y" -> "z", "z" -> "x")) shouldBe Map(
      "x" -> (2L, 2L), "y" -> (2L, 2L), "z" -> (2L, 2L))
    // disconnected components stay honest via n_reached
    em(edges("a" -> "b", "c" -> "d")) shouldBe Map(
      "a" -> (1L, 1L), "b" -> (0L, 0L),
      "c" -> (1L, 1L), "d" -> (0L, 0L))
    val chain = edges((0 until 14).map(i => s"c$i" -> s"c${i + 1}"): _*)
    an[IllegalStateException] should be thrownBy
      LinkGraph.eccentricity(chain, "src", "dst", maxDepth = 5)
  }

  test("kTruss: cascading peel on the shared fixture leaves exactly the K4") {
    val e = edges(graft.OracleSql.kTrussFixtureEdges: _*)
    val out = LinkGraph.kTruss(e, "src", "dst", k = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // two-wave cascade: support-1 strip edges die first, which
    // strands (n4,n5)/(n5,n6) at support 0 for round two
    out shouldBe Map(
      ("n0", "n1") -> 2L, ("n0", "n2") -> 2L, ("n0", "n3") -> 2L,
      ("n1", "n2") -> 2L, ("n1", "n3") -> 2L, ("n2", "n3") -> 2L)
    // the cascade needs three rounds (two peels + the confirming
    // fixpoint pass) — a 2-round cap must throw, not half-peel
    an[IllegalStateException] should be thrownBy
      LinkGraph.kTruss(e, "src", "dst", k = 4, maxIterations = 2)
  }

  test("kTruss: a 3-truss cuts the single-edge bridge between two cliques") {
    // the ER over-merge shape (q255's finding): two tight clusters
    // chained by one coincidental pair — components would merge them,
    // the truss drops the uncorroborated bridge first
    val cliqueA = for (i <- 0 to 3; j <- i + 1 to 3) yield s"a$i" -> s"a$j"
    val cliqueB = for (i <- 0 to 3; j <- i + 1 to 3) yield s"b$i" -> s"b$j"
    val e = edges((cliqueA ++ cliqueB :+ ("a3" -> "b0")): _*)
    val out = LinkGraph.kTruss(e, "src", "dst", k = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    out should contain allElementsOf cliqueA.toSet
    out should contain allElementsOf cliqueB.toSet
    out should not contain ("a3" -> "b0")
  }

  test("kTruss: k beyond max cohesion empties; guards") {
    val tri = edges("x" -> "y", "y" -> "z", "z" -> "x")
    // one triangle: 3-truss keeps it whole, 4-truss (support >= 2) empties
    LinkGraph.kTruss(tri, "src", "dst", k = 3).count() shouldBe 3L
    LinkGraph.kTruss(tri, "src", "dst", k = 4).collect() shouldBe empty
    an[IllegalArgumentException] should be thrownBy
      LinkGraph.kTruss(tri, "src", "dst", k = 2)
  }

  test("stressCentrality: depth cap throws") {
    val chain = edges((0 until 6).map(i => s"c$i" -> s"c${i + 1}"): _*)
    an[IllegalStateException] should be thrownBy
      LinkGraph.stressCentrality(chain, "src", "dst", maxDepth = 3)
  }

  test("sampled-pivot governor: forward state is |sources|x|reachable|, not |V|^2") {
    // two disjoint 3-chains: full stress holds 12 (s, node) pairs
    // (sum over all 6 sources of reachable-incl-self: 3+2+1 per
    // chain); one pivot holds exactly its own reachable set of 3 —
    // the state bound that makes the sampled path the 100 TB governor
    val e = edges("x0" -> "x1", "x1" -> "x2", "y0" -> "y1", "y1" -> "y2")
      .select(col("src"), col("dst")).distinct().localCheckpoint()
    val onePivot = LinkGraph.stressForward(e, Seq("x0").toDF("s"), 12)._1
    onePivot.count() shouldBe 3L
    val allSources = e.select(col("src").as("s"))
      .union(e.select(col("dst").as("s"))).distinct()
    LinkGraph.stressForward(e, allSources, 12)._1.count() shouldBe 12L
    // and the sampled result counts only paths FROM the pivot: x1
    // brokers (x0, x2) — the y-chain contributes nothing
    val st = LinkGraph.stressCentrality(e, "src", "dst",
        sources = Seq("x0").toDF("s")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    st("x1") shouldBe 1L
    st("y1") shouldBe 0L
  }

  test("diameter == maxDepth succeeds via the emptiness probe; one past still throws") {
    // chain c0->c1->c2->c3->c4: diameter exactly 4. Pre-round-16 the
    // loop exited before the empty-frontier round could flip growing,
    // so maxDepth=4 spuriously refused a complete answer.
    val chain = edges((0 until 4).map(i => s"c$i" -> s"c${i + 1}"): _*)
    val ecc = LinkGraph.eccentricity(chain, "src", "dst", maxDepth = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ecc("c0") shouldBe 4L
    ecc("c4") shouldBe 0L
    val st = LinkGraph.stressCentrality(chain, "src", "dst", maxDepth = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // c2 brokers exactly the pairs {c0,c1} x {c3,c4}
    st("c2") shouldBe 4L
    // a cap one short of the diameter must still refuse
    an[IllegalStateException] should be thrownBy
      LinkGraph.eccentricity(chain, "src", "dst", maxDepth = 3)
    an[IllegalStateException] should be thrownBy
      LinkGraph.stressCentrality(chain, "src", "dst", maxDepth = 3)
  }

  // --- one row per public operator ----------------------------------

  /** A public LinkGraph operator built over a (src, dst) edge frame,
    * and whether building it runs Spark jobs (an eager operator
    * checkpoints or polls a fixpoint while it is constructed). Side
    * inputs that must cover the graph's nodes (labels, features) are
    * derived from the edge frame itself, so they follow its
    * partitioning. */
  private case class Op(name: String, eager: Boolean, build: DataFrame => DataFrame)

  private def nodeUniverse(g: DataFrame): DataFrame =
    g.select(col("src").as("node")).union(g.select(col("dst").as("node")))
      .distinct()
  private def weighted(g: DataFrame): DataFrame =
    g.withColumn("w", (ascii(substring(col("src"), -1, 1)) +
      ascii(substring(col("dst"), -1, 1))) % 4 + 1)

  private val ops: Seq[Op] = Seq(
    Op("pagerank", eager = false, LinkGraph.pagerank(_, "src", "dst")),
    Op("trustRank", eager = false, LinkGraph.trustRank(_, seedSet("n0", "n7"))),
    Op("harmonicCentrality", eager = true,
      LinkGraph.harmonicCentrality(_, "src", "dst", maxDepth = 3)),
    Op("stressCentrality", eager = true, LinkGraph.stressCentrality(_, "src", "dst")),
    Op("katzCentrality", eager = true,
      LinkGraph.katzCentrality(_, "src", "dst", depth = 6)),
    Op("eccentricity", eager = true, LinkGraph.eccentricity(_, "src", "dst")),
    Op("hits", eager = true, LinkGraph.hits(_, "src", "dst")),
    Op("graphAudit", eager = false, LinkGraph.graphAudit(_, "src", "dst")),
    Op("labelPropagation", eager = false, LinkGraph.labelPropagation(_, "src", "dst")),
    Op("seedReach", eager = false, LinkGraph.seedReach(_, seedSet("n0", "n7"))),
    Op("seedDistances", eager = true, g =>
      LinkGraph.seedDistances(weighted(g), seedSet("n0", "n7"), maxDist = 6L)),
    Op("pagerankWeighted", eager = false, g =>
      LinkGraph.pagerankWeighted(weighted(g), "src", "dst", "w")),
    Op("kCore", eager = false, LinkGraph.kCore(_, "src", "dst", k = 4)),
    Op("kTruss", eager = true, LinkGraph.kTruss(_, "src", "dst", k = 3)),
    Op("triangleStats", eager = false, LinkGraph.triangleStats(_, "src", "dst")),
    Op("coCitation", eager = false, LinkGraph.coCitation(_, "src", "dst")),
    Op("propagateFeatures", eager = false, g => LinkGraph.propagateFeatures(g,
      nodeUniverse(g).withColumn("f", ascii(substring(col("node"), -1, 1)) * 7L + 3L),
      "src", "dst", "node", "f")),
    Op("linkPrediction", eager = false,
      LinkGraph.linkPrediction(_, "src", "dst", minCommon = 1)),
    Op("stronglyConnected", eager = true, LinkGraph.stronglyConnected(_, "src", "dst")),
    Op("stationary", eager = false, g =>
      LinkGraph.stationary(weighted(g), "src", "dst", "w", iterations = 4)),
    Op("condensation", eager = true, LinkGraph.condensation(_, "src", "dst")),
    Op("normalizedRank", eager = false, g =>
      LinkGraph.normalizedRank(LinkGraph.pagerank(g, "src", "dst"))),
    Op("assortativity", eager = false, LinkGraph.assortativity(_, "src", "dst")),
    Op("modularity", eager = true, g => LinkGraph.modularity(g, "src", "dst",
      nodeUniverse(g).withColumn("label", substring(col("node"), -1, 1)))),
    Op("twoHopReach", eager = true, LinkGraph.twoHopReach(_, "src", "dst")))

  private def opGraph: DataFrame =
    edges((1 to 60).map(i => s"n${i % 12}" -> s"n${(i * 5 + 2) % 13}"): _*)

  test("the operator table covers every public LinkGraph operator") {
    val public = LinkGraph.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[DataFrame] && !m.getName.contains("$"))
      .map(_.getName)
    ops.map(_.name).sorted shouldBe public.distinct.sorted
  }

  test("building an operator runs Spark jobs exactly when it is eager") {
    val g = opGraph
    val wrong = ops.flatMap { op =>
      val (_, jobs) = countJobs(op.build(g))
      if ((jobs > 0) == op.eager) None else Some(s"${op.name}: $jobs jobs")
    }
    wrong shouldBe empty
  }

  for (op <- ops)
    test(s"${op.name} is invariant under input partitioning") {
      val g = opGraph
      val one = op.build(g.repartition(1))
      one.isEmpty shouldBe false // an empty output would compare vacuously
      assertSameRows(one, op.build(g.repartition(7, col("dst"))))
    }
}
