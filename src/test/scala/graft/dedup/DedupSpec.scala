package graft.dedup

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def docs(rows: (Long, String)*) =
    df(docsSchema, rows.map { case (i, t) => Row(i, t) }: _*)

  test("dedupExact keeps the lowest doc_id per distinct text") {
    val d = docs(
      3L -> "alpha beta gamma", 1L -> "alpha beta gamma",
      2L -> "other text here", 5L -> "other text here", 4L -> "unique doc")
    val out = Dedup.dedupExact(d).select("doc_id").as[Long].collect().sorted
    out shouldBe Array(1L, 2L, 4L)
  }

  test("dedupExact is idempotent") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val once = Dedup.dedupExact(d)
    assertSameRows(Dedup.dedupExact(once), once)
  }

  test("shingles produce n-2 word 3-grams in order") {
    val out = docs(1L -> "a b c d")
      .select(Dedup.shingles(split(col("text"), " ")).as("s"))
      .as[Seq[String]].head()
    out shouldBe Seq("a b c", "b c d")
  }

  test("contaminationScores: full copy = 1.0, disjoint = 0.0, partial in between") {
    val bench = docs(1L -> "the quick brown fox jumps over the lazy dog")
    val train = docs(
      20L -> "the quick brown fox jumps over the lazy dog", // verbatim copy
      21L -> "completely different words about spark engines here",
      22L -> "prefix tokens then the quick brown fox appears") // partial overlap
    val out = Dedup.contaminationScores(train, bench)
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    out(20L) shouldBe 1.0
    out(21L) shouldBe 0.0
    out(22L) should (be > 0.0 and be < 1.0)
  }

  test("minhash: identical docs get identical signatures, est_jaccard 1.0") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "completely different words that share nothing with the others at all")
    val pairs = Dedup.minhashPairs(d, threshold = 0.5).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq shouldBe
      Seq((1L, 2L, 1.0))
  }

  test("minhash signature is deterministic across evaluations") {
    val d = docs(1L -> "one two three four five six seven eight nine ten")
    val s1 = Dedup.minhashSignatures(d).as[(Long, Seq[Long])].head()
    val s2 = Dedup.minhashSignatures(d).as[(Long, Seq[Long])].head()
    s1 shouldBe s2
    s1._2.length shouldBe Dedup.numHashes
  }

  test("jaccardPairs finds near-identical docs and skips dissimilar ones") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = ((1 to 29).map(i => s"w$i") :+ "w99").mkString(" ")
    val far = (100 to 130).map(i => s"v$i").mkString(" ")
    val pairs = Dedup.jaccardPairs(docs(1L -> base, 2L -> near, 3L -> far),
      threshold = 0.8).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    val j = pairs.head.getDouble(2)
    // 28 shingles each; the last word differs so the 27 shingles not
    // touching position 30 are shared -> 27/(28+28-27)
    j shouldBe (27.0 / 29.0) +- 1e-12
  }

  test("containmentPairs: subset doc fully contained, asymmetric permilles exact") {
    // doc 1 = 6 tokens -> 4 shingles, all present in doc 2 (10 tokens,
    // 8 shingles): C(1->2) = 4/4 = 1000, C(2->1) = 4/8 = 500.
    val d = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e f g h i j",
      3L -> "p q r s t u v")
    val both = Dedup.containmentPairs(d, minPermille = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    both((1L, 2L)) shouldBe ((4L, 4L, 1000L))
    both((2L, 1L)) shouldBe ((4L, 8L, 500L))
    both.keySet shouldBe Set((1L, 2L), (2L, 1L))
    // Tighter gate keeps only the direction Jaccard would miss.
    val tight = Dedup.containmentPairs(d, minPermille = 600).collect()
    tight.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
  }

  test("containmentPairs: df cap drops hot shingles and only under-reports") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e f g h i j")
    // Every shared shingle has df = 2 > 1: capped out, no candidates.
    Dedup.containmentPairs(d, minPermille = 0, maxDocFreq = 1)
      .collect() shouldBe empty
  }

  test("containmentPairs is invariant under input partitioning") {
    val rows = (0L until 60L).map { i =>
      val words = (0 to 12).map(j => s"w${(i * 7 + j) % 40}").mkString(" ")
      i -> (if (i % 5 == 0) words + " w0 w1 w2" else words)
    }
    val d = docs(rows: _*)
    val r1 = Dedup.containmentPairs(d.repartition(1), minPermille = 300)
    val r9 = Dedup.containmentPairs(d.repartition(9, col("doc_id")),
      minPermille = 300)
    assertSameRows(r1, r9)
  }

  test("simhash of identical docs is equal; hamming 0 pair found") {
    val d = docs(
      1L -> "spark scala parquet shuffle partition broadcast join agg window sort",
      2L -> "spark scala parquet shuffle partition broadcast join agg window sort")
    val sims = Dedup.simhashes(d).as[(Long, Long)].collect().toMap
    sims(1L) shouldBe sims(2L)
    val pairs = Dedup.simhashPairs(d, maxHamming = 3).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq((1L, 2L, 0L))
  }

  test("simhash fits in 32 bits and is non-negative") {
    val d = docs(1L -> "alpha beta gamma delta epsilon zeta eta theta")
    val s = Dedup.simhashes(d).as[(Long, Long)].head()._2
    s should be >= 0L
    s should be < (1L << 32)
  }

  test("componentLabels: chains collapse to the min id; isolated pairs separate") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val labels = Dedup.componentLabels(pairs).as[(Long, Long)].collect().toMap
    labels shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
  }

  test("componentLabels: a cap too small to converge throws, never emits partial labels") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.componentLabels(path, maxIterations = 1)
    }
    e.getMessage should include("did not converge in 1 rounds")
  }

  test("dropNearDups keeps one canonical doc per cluster, unpaired docs untouched") {
    import spark.implicits._
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 5L -> "d", 6L -> "e", 9L -> "f")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    Dedup.dropNearDups(d, pairs).select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 5L, 9L)
  }

  test("keepBestAudit: highest score survives, min-id tiebreak, unpaired kept") {
    import spark.implicits._
    // cluster {1,2,3}: 3 has the longest text -> 3 survives (not min id 1);
    // cluster {5,6}: equal scores -> min id 5 by tiebreak; 9 unpaired -> kept.
    val d = docs(1L -> "aa", 2L -> "a", 3L -> "aaaa", 5L -> "bb", 6L -> "cc",
      9L -> "z")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val audit = Dedup.keepBestAudit(d, pairs, expr("length(text)").cast("long"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    audit shouldBe Seq(
      (1L, 1L, 2L, false), (2L, 1L, 1L, false), (3L, 1L, 4L, true),
      (5L, 5L, 2L, true), (6L, 5L, 2L, false), (9L, 9L, 1L, true))
    Dedup.dropNearDupsKeepBest(d, pairs, expr("length(text)").cast("long"))
      .select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(3L, 5L, 9L)
  }

  test("keepBestAudit: all-NULL-score cluster degrades to keep-first") {
    import spark.implicits._
    val d = Seq((1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val audit = Dedup.keepBestAudit(d, pairs, expr("length(text)").cast("long"))
      .select("doc_id", "kept").as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    audit shouldBe Seq((1L, true), (2L, false))
  }

  test("leakageSafeSplit: near-dup clusters land atomically on one side") {
    import spark.implicits._
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely different text about other topics entirely",
      4L -> "completely different text about other topics entirely",
      5L -> "an unpaired document with its own content here")
    val pairs = Dedup.minhashPairs(d, threshold = 0.5)
    pairs.count() should be >= 2L // both planted clone pairs found
    val out = Dedup.leakageSafeSplit(d, pairs, evalPermyriad = 5000)
      .select("doc_id", "cluster", "split").as[(Long, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    out(1L) shouldBe out(2L) // same cluster, same side: no leakage
    out(3L) shouldBe out(4L)
    out(1L)._1 shouldBe 1L // cluster = component min
    out(3L)._1 shouldBe 3L
    out(5L)._1 shouldBe 5L // unpaired doc is its own cluster
    // rate boundaries are total
    Dedup.leakageSafeSplit(d, pairs, 0)
      .filter(col("split") === "eval").count() shouldBe 0
    Dedup.leakageSafeSplit(d, pairs, 10000)
      .filter(col("split") === "train").count() shouldBe 0
  }

  test("incrementalNearDups equals the cross-boundary slice of the full pair set") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different text about other topics entirely",
      3L -> "a third corpus document with more unique words inside")
    val batch = docs(
      11L -> "the quick brown fox jumps over the lazy dog", // clone of 1
      12L -> "a genuinely new document sharing nothing with history")
    val idx = tempDir("graft-mh-idx")
      .toString + "/idx"
    Dedup.writeSignatureIndex(corpus, idx)
    val inc = Dedup.incrementalNearDups(spark, idx, batch, threshold = 0.5)
    inc.count() should be >= 1L // the planted clone is caught
    val full = Dedup.minhashPairs(corpus.unionByName(batch), threshold = 0.5)
      .filter(col("doc_a") <= 3L && col("doc_b") >= 11L)
    assertSameRows(inc, full)
  }

  test("appendSignatureIndex: index-after-append equals index-of-union") {
    val hist = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different text about other topics entirely")
    val batch = docs(
      11L -> "the quick brown fox jumps over the lazy dog",
      12L -> "a genuinely new document sharing nothing with history")
    val base = tempDir("graft-mh-app").toString
    Dedup.writeSignatureIndex(hist, s"$base/inc")
    Dedup.appendSignatureIndex(batch, s"$base/inc")
    Dedup.writeSignatureIndex(hist.unionByName(batch), s"$base/union")
    assertSameRows(spark.read.parquet(s"$base/inc"),
      spark.read.parquet(s"$base/union"))
    // and the appended index answers incremental queries identically
    val probe = docs(21L -> "the quick brown fox jumps over the lazy dog")
    assertSameRows(
      Dedup.incrementalNearDups(spark, s"$base/inc", probe, threshold = 0.5),
      Dedup.incrementalNearDups(spark, s"$base/union", probe, threshold = 0.5))
  }

  test("incrementalNearDups never emits a self-pair for a re-ingested doc") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely different text about other topics entirely")
    val idx = tempDir("graft-mh-self")
      .toString + "/idx"
    Dedup.writeSignatureIndex(corpus, idx)
    // doc 1 re-ingested verbatim under its existing id: a self-pair
    // with est_jaccard 1.0 is a non-finding and must be filtered
    val inc = Dedup.incrementalNearDups(spark, idx,
      docs(1L -> "the quick brown fox jumps over the lazy dog"),
      threshold = 0.0)
    inc.filter(col("doc_a") === col("doc_b")).count() shouldBe 0
  }

  test("leakageSafeSplit eval fraction tracks evalPermyriad on an unpaired corpus") {
    import spark.implicits._
    val n = 2000
    val d = spark.range(n).select(col("id").as("doc_id"))
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val evalFrac = Dedup.leakageSafeSplit(d, noPairs, evalPermyriad = 2000)
      .filter(col("split") === "eval").count().toDouble / n
    // membership = md5(cluster) % 10000 < 2000: binomial around 0.20
    // (sd ~0.009 at n=2000); the hash is deterministic, so this is a
    // fixed measured value asserted with ~4-sigma slack
    evalFrac shouldBe 0.20 +- 0.04
  }

  test("leakageSafeSplit: adding a pair never moves a doc whose cluster is unchanged") {
    import spark.implicits._
    val d = spark.range(200).select(col("id").as("doc_id"))
    val before = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val after = Seq((1L, 2L), (50L, 60L)).toDF("doc_a", "doc_b")
    val s1 = Dedup.leakageSafeSplit(d, before, evalPermyriad = 3000)
      .select(col("doc_id"), col("cluster").as("c1"), col("split").as("sp1"))
    val s2 = Dedup.leakageSafeSplit(d, after, evalPermyriad = 3000)
      .select(col("doc_id"), col("cluster").as("c2"), col("split").as("sp2"))
    val j = s1.join(s2, "doc_id").cache()
    // side is a pure function of the cluster id (value-hash contract):
    // same cluster on both runs -> same side, for every doc
    j.filter(col("c1") === col("c2") && col("sp1") =!= col("sp2"))
      .count() shouldBe 0
    // the new pair re-clusters exactly doc 60 (into min-label 50)
    j.filter(col("c1") =!= col("c2")).select("doc_id")
      .as[Long].collect().toSeq shouldBe Seq(60L)
    j.unpersist()
  }

  test("banded candidate generation never emits self-pairs or reversed dups") {
    val d = docs(
      1L -> "a b c d e f g h i j k l m n o p",
      2L -> "a b c d e f g h i j k l m n o p",
      3L -> "a b c d e f g h i j k l m n o q")
    val pairs = Dedup.minhashPairs(d, threshold = 0.0).collect()
    all(pairs.map(r => (r.getLong(0), r.getLong(1)))) should matchPattern {
      case (a: Long, b: Long) if a < b =>
    }
    pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length shouldBe pairs.length
  }

  test("incrementalComponents: batch edge merges components; untouched survive verbatim") {
    import spark.implicits._
    val e1 = Seq((1L, 2L), (5L, 6L), (8L, 9L)).toDF("doc_a", "doc_b")
    val prev = Dedup.componentLabels(e1)
    val batch = Seq((2L, 5L), (20L, 21L)).toDF("doc_a", "doc_b")
    val out = Dedup.incrementalComponents(prev, batch)
      .as[(Long, Long)].collect().toMap
    out(1L) shouldBe 1L; out(2L) shouldBe 1L  // {1,2} u {5,6} merged
    out(5L) shouldBe 1L; out(6L) shouldBe 1L  //   under the global min
    out(8L) shouldBe 8L; out(9L) shouldBe 8L  // untouched component
    out(20L) shouldBe 20L; out(21L) shouldBe 20L // brand-new nodes labeled
    out.size shouldBe 8
  }

  test("incrementalComponents equals full recomputation over the edge union") {
    import spark.implicits._
    val all = (1 to 120).map(i => ((i * 7 % 40).toLong, (i * 11 % 40).toLong))
    val (h1, h2) = all.splitAt(60)
    val prev = Dedup.componentLabels(h1.toDF("doc_a", "doc_b"))
    assertSameRows(
      Dedup.incrementalComponents(prev, h2.toDF("doc_a", "doc_b")),
      Dedup.componentLabels(all.toDF("doc_a", "doc_b")))
  }

  test("nearDupEval: identical-heavy fixture gives full recall; counts reconcile") {
    val d = docs(
      1L -> "a b c d e f g h i j k l m n o p",
      2L -> "a b c d e f g h i j k l m n o p",   // exact dup of 1
      3L -> "a b c d e f g h i j k l m n o q",   // near dup
      4L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0")     // unrelated
    val r = Dedup.nearDupEval(d, threshold = 0.5).collect().head
    val (nEst, nExact, tp, fp, fn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    nExact should be >= 1L           // the exact dup pair is ground truth
    tp + fp shouldBe nEst            // identities hold by construction
    tp + fn shouldBe nExact
    // identical docs share ALL signatures, so banding cannot miss the
    // (1,2) pair: tp >= 1 always; the J=0.75 near-dups MAY fall under
    // the 16-hash estimate threshold — that loss is exactly what the
    // report exists to measure, so only bound it
    tp should be >= 1L
    fn should be <= 2L
    r.getLong(6) should be >= 333L   // recall_permille, >= 1 of <= 3 truths
  }

  test("nearDupEval: no pairs at all yields a zero report with NULL ratios") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "zeta eta theta iota")
    val r = Dedup.nearDupEval(d, threshold = 0.5).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((0L, 0L, 0L))
    r.isNullAt(5) shouldBe true
    r.isNullAt(6) shouldBe true
  }

  test("contentChunks tile each doc exactly: contiguous starts, lens sum to length") {
    import spark.implicits._
    val text = (1 to 40).map(i => s"word$i item${i * 7}").mkString(" ")
    val d = docs(1L -> text, 2L -> "tiny", 3L -> "")
    val out = Dedup.contentChunks(d, divisor = 16)
      .as[(Long, Int, Int, Int, String)].collect()
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    c1.head._3 shouldBe 0
    c1.map(_._4).sum shouldBe text.length
    c1.sliding(2).foreach { case Array(a, b) => b._3 shouldBe (a._3 + a._4); case _ => }
    c1.length should be > 1                       // divisor 16 => ~16B chunks
    out.filter(_._1 == 2L).map(r => (r._2, r._3, r._4)).toSeq shouldBe
      Seq((0, 0, 4))                              // sub-window doc: one chunk
    out.filter(_._1 == 3L) shouldBe empty         // empty doc: no chunks
  }

  test("contentChunks: a front insertion re-aligns — fixed-size chunking can't") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok${i * 31 % 97}x${i}").mkString(" ")
    val d = docs(1L -> base, 2L -> ("Z" + base))
    val out = Dedup.contentChunks(d, divisor = 16)
      .as[(Long, Int, Int, Int, String)].collect()
    val h1 = out.filter(_._1 == 1L).map(_._5).toSet
    val h2 = out.filter(_._1 == 2L).map(_._5).toSet
    // all boundaries past the first window survive the shift: only the
    // head chunk (and at most one neighbor) differs
    (h1 intersect h2).size should be >= (h1.size - 2)
    (h1 intersect h2).size should be >= 2 // and the overlap is real
  }

  test("contentChunks is invariant under partitioning and matches a direct-formula replay") {
    import spark.implicits._
    val d = docs((1 to 30).map(i => i.toLong -> s"payload $i ${"ab" * (i % 9)}"): _*)
    assertSameRows(Dedup.contentChunks(d), Dedup.contentChunks(d.repartition(7)))
    // driver-side positional replay of the rolling hash on one doc
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val bytes = text.getBytes("US-ASCII").map(_ & 0xff)
    val pow = Array.iterate(1L, 8)(_ * 31L)
    val ends = (7 until bytes.length).filter { i =>
      val h = (0 to 7).map(j => bytes(i - j) * pow(j)).sum % 1000000007L
      h % 64 == 0
    } :+ (bytes.length - 1)
    val expect = ends.distinct.sorted
    val got = Dedup.contentChunks(docs(9L -> text), divisor = 64)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._2)
      .map(r => r._3 + r._4 - 1).toSeq
    got shouldBe expect
  }

  test("tfidfCosinePairs: verbatim copy scores ppm 1000000; tf scaling keeps cosine 1") {
    val d = docs(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma delta",                              // copy
      3L -> "alpha alpha beta beta gamma gamma delta delta",       // 2x tf
      4L -> "zeta eta theta iota")                                 // disjoint
    val out = Dedup.tfidfCosinePairs(d, minCos2Ppm = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    out((1L, 2L)) shouldBe 1000000L          // identical vectors
    out((1L, 3L)) shouldBe 1000000L          // cos(v, 2v) = 1 exactly
    out.keySet should not contain ((1L, 4L)) // no shared terms -> no pair
  }

  test("tfidfCosinePairs: rare shared vocabulary outscores common-word overlap") {
    // docs 1-2 share only the corpus-wide word; 3-4 share a df=2 word
    val d = docs(
      1L -> "common rare1 x1 y1",
      2L -> "common rare2 x2 y2",
      3L -> "common sharedrare a1 b1",
      4L -> "common sharedrare a2 b2",
      5L -> "common filler f1 f2",
      6L -> "common filler2 g1 g2")
    val out = Dedup.tfidfCosinePairs(d, minCos2Ppm = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    out((3L, 4L)) should be > out((1L, 2L))
  }

  test("tfidfCosinePairs: df-capped terms drop out of the dot but stay in norms") {
    // "hot" is in all 4 docs; with maxDocFreq=3 it can't generate
    // pairs, and 1-2's only other shared term drives a DAMPED score
    // (norms still include hot) — under-report, never inflate.
    val d = docs(
      1L -> "hot link p q",
      2L -> "hot link r s",
      3L -> "hot m n o",
      4L -> "hot u v w")
    val capped = Dedup.tfidfCosinePairs(d, minCos2Ppm = 0L, maxDocFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val full = Dedup.tfidfCosinePairs(d, minCos2Ppm = 0L, maxDocFreq = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    capped((1L, 2L)) should be < full((1L, 2L))
    capped.keySet should not contain ((3L, 4L)) // only shared term was capped
  }

  test("tfidfCosinePairs is invariant under input partitioning") {
    val d = docs((1 to 40).map(i =>
      i.toLong -> s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 11} rare$i"): _*)
    assertSameRows(
      Dedup.tfidfCosinePairs(d, minCos2Ppm = 0L),
      Dedup.tfidfCosinePairs(d.repartition(7), minCos2Ppm = 0L))
  }

  test("noveltyScores: a verbatim copy scores zero, fresh text scores full") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // first: all novel
      (2L, "alpha beta gamma delta epsilon"),   // verbatim copy: 0
      (3L, "zeta eta theta iota kappa"),        // disjoint: all novel
      (4L, "alpha beta gamma lambda mu nu"))    // partial overlap
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    out(1L) shouldBe ((3L, 3L, 1000L))
    out(2L) shouldBe ((3L, 0L, 0L))      // every shingle first seen at doc 1
    out(3L) shouldBe ((3L, 3L, 1000L))
    // doc 4: shares only "alpha beta gamma" with doc 1; its other
    // three shingles are new -> 3/4 novel
    out(4L) shouldBe ((4L, 3L, 750L))
  }

  test("noveltyScores is invariant under input partitioning") {
    import spark.implicits._
    val d = (1 to 60).map(i =>
      (i.toLong, s"w${i % 9} w${(i + 1) % 9} w${(i + 2) % 9} w${(i * 3) % 9} tail$i"))
      .toDF("doc_id", "text")
    assertSameRows(Dedup.noveltyScores(d), Dedup.noveltyScores(d.repartition(7)))
  }

  test("prefixFilterPairs: exact boundary — J = 0.8 kept, J below dropped") {
    import spark.implicits._
    // 11 tokens -> 9 shingles; changing only the LAST token alters
    // only the last shingle: common 8, union 10, J = 0.800 exactly.
    // Changing token 10 alters two shingles: common 7, union 11,
    // J = 7/11 = 0.636..., below the cut.
    val base = (1 to 11).map(i => s"w$i").mkString(" ")
    val lastTok = ((1 to 10).map(i => s"w$i") :+ "xx").mkString(" ")
    val tok10 = ((1 to 9).map(i => s"w$i") ++ Seq("yy", "w11")).mkString(" ")
    val d = docs(1L -> base, 2L -> lastTok, 3L -> tok10)
    val out = Dedup.prefixFilterPairs(d, tauPermille = 800)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard_permille")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L, 8L, 9L, 9L, 800L))
    // Looser threshold admits the 7-common pairs too: docs 3 differs
    // from 1 in shingles 8-9 and from 2 in shingles 8-9, so both of
    // those pairs sit at 7/11 = 636 permille.
    val loose = Dedup.prefixFilterPairs(d, tauPermille = 600)
      .select("doc_a", "doc_b", "jaccard_permille")
      .as[(Long, Long, Long)].collect().toSet
    loose shouldBe Set((1L, 2L, 800L), (1L, 3L, 636L), (2L, 3L, 636L))
  }

  test("prefixFilterPairs agrees with uncapped jaccardPairs pair-for-pair") {
    import spark.implicits._
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river edge",
      3L -> "the quick brown fox jumps over the lazy dog near the river bank",
      4L -> "completely different words about distributed spark engines here today",
      5L -> "completely different words about distributed spark engines here tonight",
      6L -> "unrelated short text")
    val exact = Dedup.jaccardPairs(d, threshold = 0.7,
        maxDocFreq = Long.MaxValue)
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * 1000).cast("long").as("jp"))
      .as[(Long, Long, Long)].collect().toSet
    val pf = Dedup.prefixFilterPairs(d, tauPermille = 700)
      .select("doc_a", "doc_b", "jaccard_permille")
      .as[(Long, Long, Long)].collect().toSet
    pf shouldBe exact
    pf.map(p => (p._1, p._2)) should contain ((1L, 3L)) // identical pair
  }

  test("prefixFilterPairs: size filter alone cannot drop a qualifying pair") {
    import spark.implicits._
    // A doc and a copy with one appended sentence: sizes 9 vs 12,
    // common 9, union 12, J = 750 — the permille size gate
    // (12*1000 >= 9*750 and 9*1000 >= 12*750) must admit it.
    val a = (1 to 11).map(i => s"t$i").mkString(" ")
    val b = a + " extra words three"
    val out = Dedup.prefixFilterPairs(docs(1L -> a, 2L -> b),
        tauPermille = 750)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard_permille")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L, 9L, 9L, 12L, 750L))
  }

  test("prefixFilterPairs is invariant under input partitioning") {
    import spark.implicits._
    val d = (1 to 40).map(i =>
      (i.toLong, (0 to 10).map(j => s"w${(i / 4) * 3 + j}").mkString(" ") +
        (if (i % 4 == 0) " zz" + i else "")))
      .toDF("doc_id", "text")
    assertSameRows(
      Dedup.prefixFilterPairs(d, tauPermille = 700),
      Dedup.prefixFilterPairs(d.repartition(7), tauPermille = 700))
  }

  test("weightedJaccardPairs: the shared template vanishes from the measure") {
    // four docs share a long template; cores X and Y distinguish two
    // twin groups. Template shingles have df = N -> weight 0, so the
    // cross-group pairs (template-only overlap) disappear entirely
    // while PLAIN jaccard still pairs them.
    val template = (1 to 12).map(i => s"t$i").mkString(" ")
    val d = docs(
      1L -> s"x1 x2 x3 x4 x5 $template",
      2L -> s"x1 x2 x3 x4 x5 $template",
      3L -> s"y1 y2 y3 y4 y5 $template",
      4L -> s"y1 y2 y3 y4 y5 $template")
    val weighted = Dedup.weightedJaccardPairs(d, tauPermille = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    weighted shouldBe Set((1L, 2L), (3L, 4L))
    // identical docs score exactly 1000
    Dedup.weightedJaccardPairs(d, tauPermille = 500).collect()
      .foreach(_.getAs[Long]("sim_permille") shouldBe 1000L)
    // plain jaccard at the same cut is fooled by the template
    val plain = Dedup.jaccardPairs(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    plain should contain((1L, 3L))
  }

  test("weightedJaccardPairs: df cap under-reports, never inflates; partition-invariant") {
    // N = 6 docs so the twins' shingles (df = 2) carry weight
    // bits(6 div 2) = 1 > 0
    val d = docs(
      1L -> "a1 a2 a3 a4 a5 a6 a7 a8",
      2L -> "a1 a2 a3 a4 a5 a6 a7 a8",
      3L -> "b1 b2 b3 zz yy xx qq pp",
      4L -> "c1 c2 c3 c4 c5",
      5L -> "d1 d2 d3 d4 d5",
      6L -> "e1 e2 e3 e4 e5")
    val loose = Dedup.weightedJaccardPairs(d, tauPermille = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Long]("sim_permille")).toMap
    // cap at df <= 1 drops every shared shingle -> the (1,2) pair's
    // weighted common collapses to nothing: no pair survives
    val capped = Dedup.weightedJaccardPairs(d, tauPermille = 1L,
      maxDocFreq = 1L).collect()
    loose((1L, 2L)) shouldBe 1000L
    capped shouldBe empty
    assertSameRows(Dedup.weightedJaccardPairs(d, tauPermille = 1L),
      Dedup.weightedJaccardPairs(d.repartition(7), tauPermille = 1L))
  }

  test("chainingAudit: a chain flags as tree with its weakest edge; a clique does not") {
    import spark.implicits._
    val pairs = Seq(
      // chain 1-2-3: the transitive merge no edge ever claimed
      (1L, 2L, 0.90), (2L, 3L, 0.80),
      // clique 10-11-12: every merge is pairwise-backed
      (10L, 11L, 0.95), (10L, 12L, 0.95), (11L, 12L, 0.95)
    ).toDF("doc_a", "doc_b", "est_jaccard")
    val out = Dedup.chainingAudit(pairs).orderBy("label")
      .as[(Long, Long, Long, Boolean, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      (1L, 3L, 2L, true, 666666L, 800000L, 850000L),
      (10L, 3L, 3L, false, 1000000L, 950000L, 950000L))
    assertSameRows(Dedup.chainingAudit(pairs),
      Dedup.chainingAudit(pairs.repartition(5)))
  }

  test("dedupImpact: per-group before/after mass and permille shares by hand") {
    import spark.implicits._
    // sources: sA has a 3-doc dup chain (keeps min id 1), sB untouched,
    // sC fully... sC has a pair (keeps 20). Weights = n_chars.
    val docs = Seq(
      (1L, "sA", 100L), (2L, "sA", 110L), (3L, "sA", 120L), (4L, "sA", 130L),
      (10L, "sB", 200L),
      (20L, "sC", 50L), (21L, "sC", 60L)
    ).toDF("doc_id", "source", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dedupImpact(docs, pairs, "source").orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().toSeq
    // after: sA keeps {1, 4} (2,3 removed), sB {10}, sC {20}
    // totals: before 7, after 4
    out shouldBe Seq(
      ("sA", 4L, 2L, 2L, 460L, 230L, 571L, Some(500L)),
      ("sB", 1L, 1L, 0L, 200L, 200L, 142L, Some(250L)),
      ("sC", 2L, 1L, 1L, 110L, 50L, 285L, Some(250L)))
    assertSameRows(Dedup.dedupImpact(docs, pairs, "source"),
      Dedup.dedupImpact(docs.repartition(5), pairs.repartition(3), "source"))
  }

  /** Reference winnow in plain Scala — same md5-conv-%P hash, same
    * rightmost-min — so the operator is pinned against first
    * principles, not against itself. */
  private def refWinnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    if (toks.length < k + w - 1) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = toks.sliding(k).map { g =>
      val hex = md.digest(g.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(14)
      java.lang.Long.parseLong(hex, 16) % 1000000007L
    }.toArray
    (0 to hs.length - w).map { i =>
      // min hash in window, rightmost position on ties
      val (h, p) = (i until i + w).map(j => (hs(j), j))
        .minBy { case (h, p) => (h, -p) }
      (h, p.toLong)
    }.toSet
  }

  test("winnowingFingerprints matches a from-first-principles reference winnow") {
    import spark.implicits._
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "a b c a b c a b c a b",   // duplicate k-grams: ties in-window
      3L -> "one two three four five six seven eight nine ten",
      4L -> "too short")               // < k+w-1 tokens: no fingerprints
    val d = texts.toDF("doc_id", "text")
    val got = Dedup.winnowingFingerprints(d, k = 3, w = 4)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    for ((id, text) <- texts) {
      withClue(s"doc $id: ") {
        got.getOrElse(id, Set.empty) shouldBe refWinnow(text, 3, 4)
      }
    }
  }

  test("winnowing guarantee: docs sharing a span of w+k-1 tokens always pair") {
    import spark.implicits._
    // unrelated prefixes, one planted 6-token span (= w+k-1 at k=3,w=4)
    val span = "orange violet crimson amber teal indigo"
    val d = Seq(
      1L -> s"alpha beta gamma delta epsilon $span zeta eta",
      2L -> s"north south east west upward $span downward inward",
      3L -> "nothing here matches anything else at all today ok")
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(d, k = 3, w = 4, maxDocFreq = 50)
      .as[(Long, Long, Long)].collect().toSeq
    pairs.map(p => (p._1, p._2)) should contain((1L, 2L))
    pairs.map(p => (p._1, p._2)) should not contain ((1L, 3L))
    // density: fingerprints per doc land in [ceil(nw/w), nw]
    val fp1 = Dedup.winnowingFingerprints(d.filter(col("doc_id") === 1L),
      k = 3, w = 4).count()
    val nGrams = 13L - 2  // 13 tokens, k=3
    val nWindows = nGrams - 3
    fp1 should be <= nWindows
    fp1 should be >= (nWindows + 3) / 4
    assertSameRows(Dedup.winnowingPairs(d, k = 3, w = 4),
      Dedup.winnowingPairs(d.repartition(5), k = 3, w = 4))
  }

  test("minhashPairs maxBucket governor: oversized buckets chain linearly and the cluster still merges") {
    // 30 near-identical clones (one template; clone i appends one
    // token) + 10 unrelated docs. With maxBucket = 8 every clone
    // bucket is oversized, so the cluster contributes its id-adjacent
    // CHAIN — pair volume linear in the cluster instead of C(30,2) —
    // while componentLabels still merges the whole cluster (every
    // chain edge is a true near-dup and passes the threshold).
    val template = (0 until 40).map(j => s"base${j}tok").mkString(" ")
    val rows = (0L until 30L).map(i => i -> s"$template zz$i") ++
      (100L until 110L).map(i =>
        i -> (0 until 40).map(j => s"u${i}x$j").mkString(" "))
    val d = docs(rows: _*)
    val governed = Dedup.minhashPairs(d, threshold = 0.5, maxBucket = 8)
    val ungoverned = Dedup.minhashPairs(d, threshold = 0.5,
      maxBucket = Long.MaxValue)
    val gp = governed.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val up = ungoverned.select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    up.size should be >= 30 * 29 / 2 // ungoverned: all-pairs, quadratic
    gp.size should be <= 4 * 30 // governed: <= (b-1) chain edges per band
    gp.subsetOf(up) shouldBe true // the governor never INVENTS a pair
    // connectivity preserved: the 30 clones are still ONE component
    val labels = Dedup.componentLabels(governed)
      .filter(col("node") < 100L).select("label").distinct().count()
    labels shouldBe 1L
    // chain selection is deterministic under input partitioning
    assertSameRows(governed,
      Dedup.minhashPairs(d.repartition(7), threshold = 0.5, maxBucket = 8))
  }

  test("minhashPairs governor is dormant when every bucket fits the cap") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assertSameRows(Dedup.minhashPairs(d, threshold = 0.5),
      Dedup.minhashPairs(d, threshold = 0.5, maxBucket = Long.MaxValue))
  }

  test("simhashPairs maxBucket governor: oversized buckets chain linearly and the cluster still merges") {
    // the minhash governor drill, byte-band edition: 30 near-identical
    // clones share their simhash byte keys, so with maxBucket = 8
    // every clone bucket is oversized and contributes its id-adjacent
    // CHAIN; chain edges are true near-dups (Hamming ~0) so the
    // cluster still merges whole.
    val template = (0 until 40).map(j => s"base${j}tok").mkString(" ")
    val rows = (0L until 30L).map(i => i -> s"$template zz$i") ++
      (100L until 110L).map(i =>
        i -> (0 until 40).map(j => s"u${i}x$j").mkString(" "))
    val d = docs(rows: _*)
    val governed = Dedup.simhashPairs(d, maxHamming = 3, maxBucket = 8)
    val ungoverned = Dedup.simhashPairs(d, maxHamming = 3,
      maxBucket = Long.MaxValue)
    val gp = governed.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val up = ungoverned.select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    up.size should be >= 30 * 29 / 2 // ungoverned: all-pairs, quadratic
    gp.size should be <= 4 * 30 // governed: <= (b-1) chain edges per band
    gp.subsetOf(up) shouldBe true // the governor never INVENTS a pair
    val labels = Dedup.componentLabels(governed)
      .filter(col("node") < 100L).select("label").distinct().count()
    labels shouldBe 1L
    // chain selection is deterministic under input partitioning
    assertSameRows(governed,
      Dedup.simhashPairs(d.repartition(7), maxHamming = 3, maxBucket = 8))
  }

  test("simhashPairs governor is dormant when every bucket fits the cap") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assertSameRows(Dedup.simhashPairs(d, maxHamming = 3),
      Dedup.simhashPairs(d, maxHamming = 3, maxBucket = Long.MaxValue))
  }

  test("winnowingSpans: extents bracket a planted shared span; counts agree with winnowingPairs") {
    // a 20-token span planted at token 20 of doc 1 and token 5 of
    // doc 2 (unique surroundings, so only fully-in-span k-grams are
    // shared): shared 3-gram starts lie in [20, 37] / [5, 22]
    val span = (0 until 20).map(j => s"shared${j}word").mkString(" ")
    val d = docs(
      1L -> ((0 until 20).map(j => s"aa${j}x").mkString(" ") + " " + span
        + " " + (0 until 8).map(j => s"bb${j}x").mkString(" ")),
      2L -> ((0 until 5).map(j => s"cc${j}x").mkString(" ") + " " + span
        + " " + (0 until 25).map(j => s"dd${j}x").mkString(" ")),
      3L -> "totally unrelated words only here nothing shared at all")
    val out = Dedup.winnowingSpans(d, k = 3, w = 4).collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    val r = out.head
    r.getAs[Long]("n_shared") should be >= 2L
    r.getAs[Long]("a_min_pos") should be >= 20L
    r.getAs[Long]("a_max_pos") should be <= 37L
    r.getAs[Long]("b_min_pos") should be >= 5L
    r.getAs[Long]("b_max_pos") should be <= 22L
    // extents are ordered and non-degenerate for a 20-token span
    r.getAs[Long]("a_max_pos") should be > r.getAs[Long]("a_min_pos")
    // n_shared is the same number winnowingPairs reports for the pair
    val fromPairs = Dedup.winnowingPairs(d, k = 3, w = 4)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("n_shared").as[Long].head()
    r.getAs[Long]("n_shared") shouldBe fromPairs
    assertSameRows(Dedup.winnowingSpans(d, k = 3, w = 4),
      Dedup.winnowingSpans(d.repartition(5), k = 3, w = 4))
  }

  test("compactSignatureIndex bounds every bucket, keeps lowest ids, preserves detection, and is idempotent") {
    val template = (0 until 40).map(j => s"base${j}tok").mkString(" ")
    val rows = (0L until 30L).map(i => i -> s"$template zz$i") ++
      (100L until 110L).map(i =>
        i -> (0 until 40).map(j => s"u${i}x$j").mkString(" "))
    val d = docs(rows: _*)
    val path =
      tempDir("sigidx").toString + "/idx"
    Dedup.writeSignatureIndex(d, path)
    spark.read.parquet(path).groupBy("band", "key").count()
      .agg(max("count")).head.getLong(0) should be > 8L // hot buckets exist
    val kept = Dedup.compactSignatureIndex(spark, path, maxBucket = 8)
    val after = spark.read.parquet(path)
    after.count() shouldBe kept
    after.groupBy("band", "key").count()
      .agg(max("count")).head.getLong(0) should be <= 8L
    // detection survives: a NEW clone of the template still collides,
    // and every pair names a KEPT representative (the cluster
    // buckets' lowest ids, 0..7)
    val batch = docs(999L -> (template + " zznew"))
    val hits = Dedup.incrementalNearDups(spark, path, batch,
      threshold = 0.5).collect()
    hits.length should be > 0
    hits.map(_.getLong(0)).max should be <= 7L
    // compacting a compacted index is a no-op
    Dedup.compactSignatureIndex(spark, path, maxBucket = 8) shouldBe kept
  }
}
