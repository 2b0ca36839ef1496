package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec
import graft.etl.Skew

/** Property tests for the round-2 operator families. Case counts are
  * small (each case runs Spark jobs); properties target the invariants
  * the oracle cannot see — bounds, idempotence, salt-invariance. */
class DedupPropertiesSpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: $res")
  }

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")

  private val docGen: Gen[String] = for {
    n <- Gen.choose(3, 25)
    words <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield words.mkString(" ")

  private def docsFrame(texts: List[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("property: minhash est_jaccard bounded in (0,1]; pairs ordered and unique") {
    check("minhash", Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      texts.nonEmpty ==> {
        val pairs = Dedup.minhashPairs(docsFrame(texts), threshold = 0.0).collect()
        pairs.forall { r =>
          val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          a < b && j > 0.0 && j <= 1.0
        } && pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length
      }
    })
  }

  test("property: identical texts always produce est_jaccard exactly 1.0") {
    check("minhash-dup", Prop.forAll(docGen) { text =>
      val pairs = Dedup.minhashPairs(docsFrame(List(text, text)), threshold = 0.0)
        .collect()
      pairs.length == 1 && pairs.head.getDouble(2) == 1.0
    })
  }

  test("property: simhash is a 32-bit value and identical docs collide at hamming 0") {
    check("simhash", Prop.forAll(docGen) { text =>
      val sims = Dedup.simhashes(docsFrame(List(text, text)))
        .select("simhash").collect().map(_.getLong(0))
      sims.length == 2 && sims(0) == sims(1) &&
        sims.forall(s => s >= 0L && s < (1L << 32))
    })
  }

  /** A seeded corpus of near-duplicate docs over a small vocabulary
    * (so shingles repeat past the df cap), its shingle sets, their
    * document frequencies and the IDF weights of weightedJaccardPairs,
    * computed on the driver. */
  private final class Corpus(seed: Int, cap: Long) {
    private val rnd = new scala.util.Random(seed)
    private val base = Vector.fill(8)(Vector.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(5))))
    private val edited = base.zipWithIndex.map { case (ws, i) =>
      ws.updated(rnd.nextInt(ws.size), s"w$i") ++ Vector.fill(rnd.nextInt(3))(vocab(rnd.nextInt(10)))
    }
    val texts: Seq[(Long, String)] = ((base ++ edited).map(_.mkString(" ")) :+ "alpha beta")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val sets: Map[Long, Set[String]] = texts.collect {
      case (id, t) if t.split(" ").length >= 3 =>
        val w = t.split(" ").toSeq
        id -> (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }.toMap
    val df: Map[String, Int] = sets.values.toSeq.flatten.groupBy(identity).map {
      case (s, docs) => s -> docs.size
    }
    /** floor(log2(N div df)) over the N docs that have shingles. */
    def weight(s: String): Long = 31 - Integer.numberOfLeadingZeros(sets.size / df(s))
    def shared(a: Long, b: Long): Set[String] = sets(a).intersect(sets(b)).filter(df(_) <= cap)
    val pairs: Seq[(Long, Long)] =
      for (a <- sets.keys.toSeq.sorted; b <- sets.keys.toSeq.sorted if a != b) yield (a, b)
  }

  test("property: capped set measures equal set arithmetic") {
    // per measure: the operator at a threshold and df cap, and every
    // candidate pair's expected row with its measure value (pairs
    // sharing no shingle inside the cap never reach the join, so they
    // have none). Shingles are compared as strings here and as 30-bit
    // md5-derived hashes by the operators: collisions are the only
    // slack, and over these few hundred shingles none occur.
    val measures: Seq[(String, (DataFrame, Double, Long) => DataFrame,
        Corpus => Seq[(Seq[Any], Double)])] = Seq(
      ("jaccardPairs",
        (d, t, cap) => Dedup.jaccardPairs(d, threshold = t, maxDocFreq = cap),
        c => for ((a, b) <- c.pairs if a < b && c.shared(a, b).nonEmpty) yield {
          val common = c.shared(a, b).size
          val j = common.toDouble / (c.sets(a).size + c.sets(b).size - common).toDouble
          (Seq(a, b, j), j)
        }),
      ("weightedJaccardPairs",
        (d, t, cap) => Dedup.weightedJaccardPairs(d, tauPermille = t.toLong, maxDocFreq = cap),
        c => for {
          (a, b) <- c.pairs if a < b
          ws = c.shared(a, b).toSeq.map(c.weight).filter(_ > 0)
          if ws.nonEmpty
        } yield {
          val (wc, wa, wb) = (ws.sum, c.sets(a).toSeq.map(c.weight).sum,
            c.sets(b).toSeq.map(c.weight).sum)
          val sim = (wc * 1000) / (wa + wb - wc)
          (Seq(a, b, wc, sim), sim.toDouble)
        }),
      ("containmentPairs",
        (d, t, cap) => Dedup.containmentPairs(d, minPermille = t.toLong, maxDocFreq = cap),
        c => for ((a, b) <- c.pairs if c.shared(a, b).nonEmpty) yield {
          val (common, n) = (c.shared(a, b).size.toLong, c.sets(a).size.toLong)
          (Seq(a, b, common, n, common * 1000 / n), (common * 1000 / n).toDouble)
        }))
    for (seed <- 1 to 2; cap <- Seq(3L, 100L); (name, run, rows) <- measures) {
      val c = new Corpus(seed, cap)
      withClue(s"$name, seed $seed, maxDocFreq $cap: ") {
        // cap 3 drops shingles; cap 100, above the corpus size, none
        c.df.values.exists(_ > cap) shouldBe (cap == 3L)
        val cands = rows(c)
        val values = cands.map(_._2).distinct.sorted
        values.size should be >= 2
        // a threshold some pair hits exactly, with pairs on both sides
        val t = values(values.size / 2)
        val expected = cands.filter(_._2 >= t).map(_._1).toSet
        import spark.implicits._
        run(c.texts.toDF("doc_id", "text"), t, cap).collect().map(_.toSeq).toSet shouldBe
          expected
      }
    }
  }

  test("property: saltedJoin is bucket-count-invariant") {
    val kv = for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0, 100)
    } yield (k, v)
    check("salted", Prop.forAll(Gen.listOfN(12, kv), Gen.choose(1, 6)) { (rows, buckets) =>
      rows.nonEmpty ==> {
        import spark.implicits._
        val left = rows.zipWithIndex
          .map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "rid")
        val dim = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "attr")
        val plain = left.join(dim, Seq("k")).collect().toSet
        Skew.saltedJoin(left, dim, Seq("k"), col("rid"), buckets)
          .collect().toSet == plain
      }
    })
  }
}
