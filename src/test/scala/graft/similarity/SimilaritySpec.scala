package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def vecs(rows: (Long, Seq[Float])*) =
    df(schema, rows.map { case (i, v) => Row(i, v) }: _*)

  test("cosine of identical unit vectors is 1, orthogonal is 0") {
    val d = vecs(
      1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(1f, 0f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f, 0f))
    val out = d.as("a").crossJoin(d.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    out((1L, 2L)) shouldBe 1.0 +- 1e-12
    out((1L, 3L)) shouldBe 0.0 +- 1e-12
  }

  test("hardNegatives equals knnBruteForce when the ceiling is above 1") {
    val d = vecs((0L to 7L).map(i =>
      i -> Seq(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat, 0f, 0f)): _*)
    val q = d.filter(col("vec_id") < 2)
    val all = Similarity.knnBruteForce(d, q, k = 4).collect().toSeq
    val hn = Similarity.hardNegatives(d, q, k = 4, maxCos = 2.0).collect().toSeq
    hn shouldBe all
  }

  test("hardNegatives: every cosine below the ceiling, ranks contiguous") {
    val d = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.99f, 0.14f, 0f, 0f),  // near-dup of 0 (cos ~ .99)
      2L -> Seq(0.5f, 0.866f, 0f, 0f),  // cos .5
      3L -> Seq(0f, 1f, 0f, 0f),        // cos 0
      4L -> Seq(-0.7f, 0.7f, 0f, 0f))   // cos < 0
    val out = Similarity.hardNegatives(d, d.filter(col("vec_id") === 0L),
        k = 10, maxCos = 0.9)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    out.map(_._2).toSeq shouldBe Seq(2L, 3L, 4L) // 1L excluded: too close
    out.map(_._3).toSeq shouldBe Seq(1, 2, 3)
    out.map(_._4).forall(_ < 0.9) shouldBe true
  }

  test("clusterLabelAudit: contingency summary and purity per cell") {
    val labeled = StructType(schema.fields :+
      StructField("label", IntegerType, nullable = false))
    val d = df(labeled,
      Row(0L, Seq(1f, 0f, 0f, 0f), 10), Row(1L, Seq(0.9f, 0.1f, 0f, 0f), 10),
      Row(2L, Seq(0.95f, 0f, 0.1f, 0f), 10), Row(3L, Seq(0.9f, 0f, 0f, 0.1f), 20),
      Row(4L, Seq(0f, 1f, 0f, 0f), 20), Row(5L, Seq(0f, 0.9f, 0.1f, 0f), 20))
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val out = Similarity.clusterLabelAudit(d, cents)
      .orderBy("cell").as[(Int, Long, Long, Int, Long, Double)].collect()
    out(0) shouldBe ((0, 4L, 2L, 10, 3L, 0.75)) // cell 0: 3×10 + 1×20
    out(1) shouldBe ((1, 2L, 1L, 20, 2L, 1.0))  // cell 1: pure label 20
  }

  test("knnBruteForce returns k nearest, self excluded, rank ordered") {
    val d = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.9f, 0.1f, 0f, 0f),
      2L -> Seq(0.5f, 0.5f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0f),
      4L -> Seq(-1f, 0f, 0f, 0f))
    val out = Similarity.knnBruteForce(d, d.filter(col("vec_id") === 0L), k = 3)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    out.map(_._2).toSeq shouldBe Seq(1L, 2L, 3L)
    out.map(_._3).toSeq shouldBe Seq(1, 2, 3)
    out.map(_._4).toSeq shouldBe out.map(_._4).toSeq.sorted.reverse
  }

  test("bandKey packs hyperplane sign bits; Spark and Scala agree") {
    // e_0: dot with plane p is exactly Hyperplanes.coeff(p, 0)
    val d = vecs(1L -> (Seq(1f) ++ Seq.fill(63)(0f)))
    val out = d.select(Similarity.bandKeySpec(col("embedding"), band = 0).as("k"))
      .as[Int].collect().head
    val expected = (0 until Similarity.signatureBits)
      .filter(j => graft.functions.Hyperplanes.coeff(j, 0) > 0)
      .map(1 << _).sum
    out shouldBe expected
    out should (be >= 0 and be < (1 << Similarity.signatureBits))
  }

  test("native band-keys expression is bit-identical to the vec_dot spec form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val spec = emb.select(col("vec_id"),
      array((0 until Similarity.signatureBands)
        .map(b => Similarity.bandKeySpec(col("embedding"), b)): _*).as("keys"))
    val native = emb.select(col("vec_id"),
      Similarity.bandKeys(col("embedding")).as("keys"))
    assertSameRows(native, spec)
  }

  test("knnLsh dedups multi-band collisions: identical vectors appear once") {
    // identical vectors agree on EVERY band — without the
    // first-matching-band filter each neighbor would surface `bands`
    // times and pollute the top-k ranks
    val v = Seq.tabulate(64)(i => (math.sin(i + 1) / 2).toFloat)
    val d = vecs(0L -> v, 1L -> v, 2L -> v)
    val lsh = Similarity.knnLsh(d, d.filter(col("vec_id") === 0L), k = 5)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    lsh.map(_._2).toSeq shouldBe Seq(1L, 2L)
    lsh.map(_._3).toSeq shouldBe Seq(1, 2)
    lsh.foreach(_._4 shouldBe 1.0 +- 1e-9)
  }

  test("ANN recall vs brute force on harness embeddings beats the candidate floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBruteForce(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.knnLsh(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // The fixture is near-uniform random vectors, so top-5 neighbors sit
    // at wide angles — the worst case for sign-LSH (the S-curve promises
    // recall for CLOSE pairs; see the planted-clone test). Candidate
    // fraction is ~bands/2^bits ≈ 3%; measured recall 0.12, assert it
    // beats the random-candidate floor with margin.
    val recall = (brute intersect lsh).size.toDouble / brute.size
    recall should be >= 0.1
  }

  test("LSH near-dup recall on planted high-cosine clones is high") {
    // 50 clone pairs at cos >= 0.95 (small deterministic perturbation)
    // hidden in the 500-vector fixture: the regime the 8x8 OR-construction
    // is designed for (P[candidate] ~ .94 at cos .9). Theory + fixture
    // measure ~1.0; assert >= 0.85.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val clones = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + when(i % 7 === 0, lit(0.02f)).otherwise(lit(-0.01f)))
          .as("embedding"))
    val planted = emb.unionByName(clones)
    val found = Similarity.nearDupPairs(planted, threshold = 0.95)
      .filter(col("id_b") >= 10000 && col("id_a") === col("id_b") - 10000)
      .count()
    // sanity: the perturbation really keeps the clones above threshold
    val truePairs = Similarity.cosine(col("a.embedding"), col("b.embedding"))
    val actual = planted.as("a").join(planted.as("b"),
        col("b.vec_id") === col("a.vec_id") + 10000)
      .select(truePairs.as("c")).filter(col("c") >= 0.95).count()
    actual shouldBe 50
    found.toDouble / actual should be >= 0.85
  }

  test("LSH bucket population scales with bits: many buckets, none dominant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val pops = emb
      .select(posexplode(Similarity.bandKeys(col("embedding")))
        .as(Seq("band", "key")))
      .groupBy("band", "key").count()
      .groupBy("band")
      .agg(countDistinct("key").as("buckets"), max("count").as("biggest"))
      .as[(Int, Long, Long)].collect()
    pops.length shouldBe Similarity.signatureBands
    pops.foreach { case (_, buckets, biggest) =>
      // 2^8 cells over 500 vectors: the old 16-bucket scheme put ~n/16
      // in a cell; the hyperplane keys must spread far wider
      buckets should be >= 64L
      biggest should be <= (n / 8)
    }
  }

  test("nearDupPairs finds only same-bucket high-cosine pairs, a < b") {
    val d = vecs(
      1L -> Seq(1f, 1f, 0.5f, 0.5f),
      2L -> Seq(0.99f, 1.01f, 0.5f, 0.5f),
      3L -> Seq(1f, 1f, -0.5f, 0.5f))
    val out = Similarity.nearDupPairs(d, threshold = 0.99).collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    out.head.getDouble(2) should be >= 0.99
  }

  test("trained-centroid IVF recall vs brute force beats the probe-fraction floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBruteForce(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.trainCentroids(emb, nlist = 8, iters = 2)
    cents.length shouldBe 8
    val ivf = Similarity.knnIvf(emb, queries, k = 5, nprobe = 3,
        centroids = Some(cents))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // Probing 3 of 8 data-adapted cells: a neighbor is found iff it
    // lands in a probed cell. Random assignment alone would give
    // ~3/8 = 0.375; Lloyd-trained cells put near vectors in the same
    // cell, so measured recall is well above the probe fraction.
    // Assert the floor with margin below the measured value.
    val recall = (brute intersect ivf).size.toDouble / brute.size
    recall should be >= 0.375
  }

  test("groupCentroids computes the per-dimension mean vector per label") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    val d = df(schema,
      Row(1L, Seq(1.0f, 2.0f), 0), Row(2L, Seq(3.0f, 6.0f), 0),
      Row(3L, Seq(10.0f, 20.0f), 1))
    val out = Similarity.groupCentroids(d)
      .select("label", "dim", "n", "mean_v")
      .as[(Int, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    out shouldBe Array(
      (0, 0, 2L, 2.0), (0, 1, 2L, 4.0),
      (1, 0, 1L, 10.0), (1, 1, 1L, 20.0))
  }

  test("quantize maps unit components to exact int8 codes") {
    val d = vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0.5f, 0.5f, 0f, 0f))
    val out = d.select(col("vec_id"),
        Similarity.quantize(col("embedding"),
          Similarity.norm(col("embedding"))).as("q"))
      .as[(Long, Seq[Float])].collect().toMap
    out(1L) shouldBe Seq(127f, 0f, 0f, 0f)
    // 1/sqrt(2)*127 + .5 = 90.30... -> floor 90
    out(2L) shouldBe Seq(90f, 90f, 0f, 0f)
  }

  test("quantized ANN recall@10 vs exact cosine is high on harness embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBruteForce(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.knnQuantized(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // int8 on 64-dim unit vectors perturbs each cosine by ~1e-3 —
    // order flips only among near-equal neighbors, unlike the LSH
    // candidate-miss regime (recall .12 above): assert a high floor.
    val recall = (brute intersect quant).size.toDouble / brute.size
    recall should be >= 0.7
  }

  test("twoStageKnn with full candidate coverage equals knnBruteForce row for row") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val nCorpus = emb.count().toInt
    val brute = Similarity.knnBruteForce(emb, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3))
    val two = Similarity.twoStageKnn(emb, queries,
        kCandidates = nCorpus, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3))
    // every candidate survives stage 1, so stage 2 IS brute force —
    // same neighbors, same ranks, bit-identical cosines
    two shouldBe brute
  }

  test("twoStageKnn at practical k' keeps high recall; refine can only shrink") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBruteForce(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val two = Similarity.twoStageKnn(emb, queries, kCandidates = 40, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // a true top-10 neighbor is lost only if int8 noise (~1e-3 per
    // cosine) pushes it past rank 40 in stage 1 — stricter than the
    // measured ≥0.7 floor at k'=k (the q91 recall test)
    val recall = (brute intersect two).size.toDouble / brute.size
    recall should be >= 0.9
    an[IllegalArgumentException] should be thrownBy
      Similarity.twoStageKnn(emb, queries, kCandidates = 5, k = 10)
  }

  // One persisted IVF index, three code kinds: each case names the
  // codes, the nprobe at which a search must reproduce the code's
  // in-memory variant row for row, and that variant. Hyperplanes 0-7
  // are the centroids (the q48/q111/q207 fixture layout).
  private lazy val ivfEmb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private val ivfCents = Array.tabulate(8)(p => Similarity.hyperplane(p, 64))
  private lazy val ivfPqCodebook = Similarity.pqStaticCodebook(ivfEmb)
  private case class IvfCase(name: String, codes: () => IvfCodes, nprobe: Int,
                             inMemory: (DataFrame, DataFrame) => DataFrame)
  private val ivfCases = Seq(
    IvfCase("flat", () => IvfCodes.Flat, 3, (c, q) =>
      Similarity.knnIvf(c, q, k = 10, nprobe = 3, centroids = Some(ivfCents))),
    // full probe: the SQ8 and PQ in-memory variants are flat scans
    IvfCase("sq8", () => IvfCodes.Sq8, 8, (c, q) =>
      Similarity.knnQuantized(c, q, k = 10)),
    IvfCase("pq", () => IvfCodes.Pq(codebook = Some(ivfPqCodebook)), 8, (c, q) =>
      Similarity.knnPq(c, q, k = 10, codebook = Some(ivfPqCodebook))))

  private def ivfIndex(corpus: DataFrame, c: IvfCase): String = {
    val path = tempDir(s"ivf-${c.name}")
      .toString + "/idx"
    Similarity.writeIvfIndex(corpus, path, c.codes(), centroids = Some(ivfCents))
    path
  }

  private def parquetFilesPerCell(path: String): Map[Int, Int] =
    new java.io.File(s"$path/rows").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName.stripPrefix("cell=").toInt ->
        d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  for (c <- ivfCases) {
    test(s"IVF index (${c.name} codes): search equals the in-memory variant") {
      val queries = ivfEmb.filter(col("vec_id") < 5)
      assertSameRows(
        Similarity.searchIvfIndex(spark, ivfIndex(ivfEmb, c), queries,
          k = 10, nprobe = c.nprobe),
        c.inMemory(ivfEmb, queries))
    }

    test(s"IVF index (${c.name} codes): search after append equals union build") {
      // incremental: index the even half, append the odd half; the
      // append reads the code kind (and PQ codebook) from the index
      val inc = ivfIndex(ivfEmb.filter(col("vec_id") % 2 === 0), c)
      Similarity.appendIvfIndex(spark, inc, ivfEmb.filter(col("vec_id") % 2 === 1))
      val full = ivfIndex(ivfEmb, c)
      val queries = ivfEmb.filter(col("vec_id") < 5)
      assertSameRows(
        Similarity.searchIvfIndex(spark, inc, queries, k = 10, nprobe = 3),
        Similarity.searchIvfIndex(spark, full, queries, k = 10, nprobe = 3))
      // history untouched: every cell dir holds files from BOTH writes
      // (append added files, replaced none), so the file count grew
      parquetFilesPerCell(inc).values.sum should be >
        parquetFilesPerCell(full).values.sum
    }

    test(s"IVF index (${c.name} codes): search reads only probed cells' files") {
      import org.apache.spark.sql.execution.FileSourceScanExec
      val path = ivfIndex(ivfEmb, c)
      // one query, nprobe=2: the probe set is a strict subset of the 8
      // cells, so pruning is observable at the file level. AQE is off:
      // adaptive plans wrap executed stages in leaf nodes that hide the
      // scan from collect(); the pruning itself is planning-time.
      withSQLConf("spark.sql.adaptive.enabled" -> "false") {
        val one = ivfEmb.filter(col("vec_id") === 0L)
        val out = Similarity.searchIvfIndex(spark, path, one, k = 10, nprobe = 2)
        out.collect() // execute so scan metrics are populated
        // the probe set the search computed, recomputed via the public API
        val probed = one.select(explode(Similarity.probedCells(col("embedding"),
            Similarity.norm(col("embedding")), ivfCents, 2)).as("p"))
          .select(col("p.cell")).distinct().as[Int].collect().toSet
        probed.size should be <= 2
        val files = parquetFilesPerCell(path)
        files.size shouldBe 8
        val probedFiles = files.filter(f => probed.contains(f._1)).values.sum
        // the row-store scan (the one partitioned by cell) must read
        // exactly the probed cells' files, and the cell predicate lands
        // as a PartitionFilter (directory pruning), not a post-scan filter
        val rowScan = out.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec
            if s.relation.partitionSchema.fieldNames.contains("cell") => s
        }
        rowScan should have size 1
        rowScan.head.metrics("numFiles").value shouldBe probedFiles
        probedFiles should be < files.values.sum
        rowScan.head.toString should include regex "PartitionFilters: \\[.*cell.*\\]"
      }
    }
  }

  test("quantized IVF recall at nprobe=3 beats the probe-fraction floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Array.tabulate(8)(p => Similarity.hyperplane(p, 64))
    val path = tempDir("ivfsq8").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, IvfCodes.Sq8, centroids = Some(cents))
    val queries = emb.filter(col("vec_id") < 5)
    // truth = the flat quantized baseline (full coverage, same scores):
    // what pruning alone costs. Hyperplane cells are data-blind, so the
    // floor is the probe fraction 3/8; measured recall is well above.
    val truth = Similarity.knnQuantized(emb, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pruned = Similarity
      .searchIvfIndex(spark, path, queries, k = 10, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    (truth intersect pruned).size.toDouble / truth.size should be >= 0.375
  }

  test("twoStageKnnIvf with full probe and full candidates equals knnBruteForce") {
    // nprobe = nlist degrades stage 1 to the flat SQ8 scan and
    // kCandidates = |corpus| makes it lossless, so the composed stack
    // must reproduce exact brute force bit for bit — the same
    // degradation identity the flat twoStageKnn pins, now through the
    // staged index read path.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Array.tabulate(8)(p => Similarity.hyperplane(p, 64))
    val path = tempDir("ivf2s").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, IvfCodes.Sq8, centroids = Some(cents))
    val queries = emb.filter(col("vec_id") < 5)
    val nCorpus = emb.count().toInt
    assertSameRows(
      Similarity.twoStageKnnIvf(spark, path, emb, queries,
        kCandidates = nCorpus, k = 10, nprobe = 8),
      Similarity.knnBruteForce(emb, queries, k = 10))
    an[IllegalArgumentException] should be thrownBy
      Similarity.twoStageKnnIvf(spark, path, emb, queries,
        kCandidates = 5, k = 10)
  }

  test("twoStageKnnIvf stage 1 scans only the probed cells' partition files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Array.tabulate(8)(p => Similarity.hyperplane(p, 64))
    val path = tempDir("ivf2s").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, IvfCodes.Sq8, centroids = Some(cents))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = emb.filter(col("vec_id") === 0L)
      val out = Similarity.twoStageKnnIvf(spark, path, emb, one,
        kCandidates = 40, k = 10, nprobe = 2)
      out.collect()
      val probed = one.select(explode(Similarity.probedCells(col("embedding"),
          Similarity.norm(col("embedding")), cents, 2)).as("p"))
        .select(col("p.cell")).distinct().as[Int].collect().toSet
      val cellDirs = new java.io.File(s"$path/rows").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell=")).toSeq
      def parquetFiles(d: java.io.File): Int =
        d.listFiles().count(_.getName.endsWith(".parquet"))
      val probedFiles = cellDirs
        .filter(d => probed.contains(d.getName.stripPrefix("cell=").toInt))
        .map(parquetFiles).sum
      val allFiles = cellDirs.map(parquetFiles).sum
      // the WHOLE composed plan must contain exactly one codes-store
      // scan, pruned to the probed cells — the refine stage joins back
      // to the float corpus, never re-reading the index
      val rowScan = out.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.schema.fieldNames.contains("codes") => s
      }
      rowScan should have size 1
      rowScan.head.metrics("numFiles").value shouldBe probedFiles
      probedFiles should be < allFiles
      rowScan.head.toString should include regex "PartitionFilters: \\[.*cell.*\\]"
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("recallAtK counts hits per query, keeping zero-hit queries") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 99L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.recallAtK(approx, truth, k = 2)
      .orderBy("query_id").as[(Long, Long, Double)].collect()
    out shouldBe Array((1L, 1L, 0.5), (2L, 0L, 0.0))
  }

  test("sampleQueries: deterministic, partition-invariant, and recall-unbiased per sampled query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val s1 = Similarity.sampleQueries(emb, permille = 200)
    val ids1 = s1.select("vec_id").as[Long].collect().toSet
    // deterministic replay: same sample on a rerun and under any input
    // partitioning (hash of the id, no RNG)
    val ids2 = Similarity.sampleQueries(emb.repartition(7), permille = 200)
      .select("vec_id").as[Long].collect().toSet
    ids1 shouldBe ids2
    ids1.size should be > 0
    ids1.size should be < emb.count().toInt // a strict subset at 200 permille
    // monotone nesting: a smaller permille is a subset of a larger one
    val ids50 = Similarity.sampleQueries(emb, permille = 50)
      .select("vec_id").as[Long].collect().toSet
    ids50.subsetOf(ids1) shouldBe true
    // per-query recall is self-contained: evaluating over the sampled
    // queries equals filtering the full eval to the sampled ids — the
    // property that makes query-sampling unbiased where corpus
    // sampling is not
    val full = Similarity.recallAtK(
      Similarity.knnLsh(emb, emb, k = 5),
      Similarity.knnBruteForce(emb, emb, k = 5), k = 5)
    val sampled = Similarity.recallAtK(
      Similarity.knnLsh(emb, s1, k = 5),
      Similarity.knnBruteForce(emb, s1, k = 5), k = 5)
    assertSameRows(sampled, full.filter(col("query_id").isin(ids1.toSeq: _*)))
  }

  test("semanticDedup drops lower-id near-dups within a cluster only") {
    val cents = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val d = vecs(
      1L -> Seq(1f, 0f, 0f, 0f),          // cell 0, kept (first)
      2L -> Seq(0.99f, 0.01f, 0f, 0f),    // cell 0, ~dup of 1 -> dropped
      3L -> Seq(0f, 1f, 0f, 0f),          // cell 1, kept
      4L -> Seq(0.9f, 0.9f, 0f, 0f),      // tie -> cell 0; cos vs 1 ~.707 -> kept
      5L -> Seq(0f, 0.95f, 0.05f, 0f),    // cell 1, ~dup of 3 -> dropped
      6L -> Seq(0.6f, 0.8f, 0f, 0f))      // cell 1; near-dup of 4 is CROSS-cell -> kept
    val out = Similarity.semanticDedup(d, 0.9, cents)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, 0, true), (2L, 0, false), (3L, 1, true),
      (4L, 0, true), (5L, 1, false), (6L, 1, true))
  }

  test("embeddingHygiene: zero vectors, unit flags, zero-component counts") {
    val d = vecs(
      1L -> Seq(1f, 0f, 0f, 0f),      // unit basis: norm 1 exactly
      2L -> Seq(0f, 0f, 0f, 0f),      // all-zero: the cosine poisoner
      3L -> Seq(0.6f, 0.8f, 0f, 0f),  // unit within float rounding
      4L -> Seq(1f, 1f, 0f, 0f))      // norm sqrt(2): NOT unit
    val out = Similarity.embeddingHygiene(d)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("dim"), r.getAs[Long]("n_zero"),
         r.getAs[Double]("norm"), r.getAs[Boolean]("is_unit"))).toMap
    out(1L)._1 shouldBe 4L
    out(1L)._2 shouldBe 3L
    out(1L)._3 shouldBe 1.0
    out(1L)._4 shouldBe true
    out(2L)._2 shouldBe 4L
    out(2L)._3 shouldBe 0.0
    out(2L)._4 shouldBe false
    out(3L)._4 shouldBe true
    out(4L)._4 shouldBe false
    assertSameRows(Similarity.embeddingHygiene(d),
      Similarity.embeddingHygiene(d.repartition(3)))
  }

  // --- product quantization ----------------------------------------

  // 12 vectors, dim 16, distinct subvectors by construction
  private def pqFixture = vecs((0L until 12L).map(i =>
    i -> (0 until 16).map(p =>
      (((i * 7 + p * 3 + i * p) % 13).toFloat - 6.0f))): _*)

  /** Driver-side SQ8 replica of [[Similarity.quantize]]: identical
    * double ops, so the ints must match the Spark expression. */
  private def sq8(v: Seq[Float]): Array[Long] = {
    var n2 = 0.0
    v.foreach(x => n2 += x.toDouble * x.toDouble)
    val n = math.sqrt(n2)
    v.map(x => math.floor(x.toDouble / n * 127.0 + 0.5).toLong).toArray
  }

  test("knnPq with m=1 and a full codebook reproduces exact quantized L2 ranking") {
    val d = pqFixture
    val out = Similarity.knnPq(d, d.filter(col("vec_id") < 3), k = 5,
        m = 1, ksub = 12)
      .select("query_id", "rank", "neighbor_id", "score")
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq)
      .toMap
    val qv = (0L until 12L).map(i => i ->
      sq8((0 until 16).map(p => (((i * 7 + p * 3 + i * p) % 13).toFloat - 6.0f)))).toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (q <- 0L until 3L) {
      val expected = (0L until 12L).filter(_ != q)
        .map(x => (x, l2(qv(q), qv(x))))
        .sortBy { case (id, s) => (s, id) }.take(5)
      out(q) shouldBe expected
    }
  }

  test("pqStaticCodebook: each codebook row encodes to its own index") {
    val d = pqFixture
    val cb = Similarity.pqStaticCodebook(d, m = 2, ksub = 4)
    cb.length shouldBe 2 * 4 * 8
    // encoding the c-th codebook source row yields code c in every
    // subspace (self-distance 0; fixture subvectors are distinct)
    val codes = Similarity.knnPq(d, d.filter(col("vec_id") < 1), k = 1,
      m = 2, ksub = 4) // force the same path; codes checked via PqUtil
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val qv = (0L until 4L).map(i =>
      sq8((0 until 16).map(p => (((i * 7 + p * 3 + i * p) % 13).toFloat - 6.0f))))
    for (c <- 0 until 4) {
      val arr = new GenericArrayData(qv(c).map(_.toFloat))
      val enc = graft.functions.PqUtil.encode(arr, cb, 2, 4, 8)
      enc.toIntArray().toSeq shouldBe Seq(c, c)
    }
    codes.collect().length shouldBe 1
  }

  test("knnPq is invariant under input partitioning") {
    val d = pqFixture
    assertSameRows(
      Similarity.knnPq(d, d.filter(col("vec_id") < 2), k = 4, m = 2, ksub = 4),
      Similarity.knnPq(d.repartition(5), d.filter(col("vec_id") < 2),
        k = 4, m = 2, ksub = 4))
  }

  test("truncationRecallCurve: full-dim rung is exact identity; prefixes lose, never gain") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.truncationRecallCurve(
        emb, emb.filter(col("vec_id") < 4), Seq(64, 16, 4), k = 5)
      .as[(Int, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    out(64)._4 shouldBe Some(1000L)   // identical ranking => perfect recall
    out.values.foreach(_._2 shouldBe 20L) // n_truth = 4 queries x k=5
    out(4)._4.get should be <= out(64)._4.get
    out(16)._4.get should be <= 1000L
  }

  test("truncationRecallCurve is invariant under input partitioning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assertSameRows(
      Similarity.truncationRecallCurve(emb, emb.filter(col("vec_id") < 3),
        Seq(32, 8), k = 4),
      Similarity.truncationRecallCurve(emb.repartition(7),
        emb.filter(col("vec_id") < 3), Seq(32, 8), k = 4))
  }

  test("dimensionAudit: dead, healthy, and signed dimensions by hand") {
    val e = vecs(1L -> Seq(0f, 1.5f, -2f), 2L -> Seq(0f, 0.5f, 4f))
    val out = Similarity.dimensionAudit(e).collect()
      .map(r => r.getAs[Long]("dim") -> r).toMap
    out(0L).getAs[Long]("n_zero") shouldBe 2L     // the dead dimension
    out(0L).getAs[Double]("min_val") shouldBe 0.0
    out(0L).getAs[Long]("mean_e6") shouldBe 0L
    out(1L).getAs[Double]("min_val") shouldBe 0.5
    out(1L).getAs[Double]("max_val") shouldBe 1.5
    out(1L).getAs[Long]("mean_e6") shouldBe 1000000L
    out(2L).getAs[Long]("mean_e6") shouldBe 1000000L  // (-2e6 + 4e6)/2
    out(2L).getAs[Double]("min_val") shouldBe -2.0
  }

  test("dimensionAudit: negative means truncate toward zero; partition-invariant") {
    val e = vecs(1L -> Seq(-3f), 2L -> Seq(0f))
    Similarity.dimensionAudit(e).collect().head
      .getAs[Long]("mean_e6") shouldBe -1500000L
    val big = vecs((1L to 40L).map(i =>
      i -> Seq((i % 7).toFloat / 8f, -(i % 5).toFloat / 4f)): _*)
    assertSameRows(Similarity.dimensionAudit(big),
      Similarity.dimensionAudit(big.repartition(7)))
  }

  test("knnGraphDescent rounds=0 IS the LSH seed graph (knnLsh with the corpus as queries)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val seed = Similarity.knnGraphDescent(emb, k = 5, rounds = 0)
    val lshSelf = Similarity.knnLsh(emb, emb, k = 5)
      .select(col("query_id").as("vec_id"), col("neighbor_id"),
        col("rank"), col("cosine"))
    assertSameRows(seed, lshSelf)
  }

  test("knnGraphDescent: a descent round never loses an exact-top-k hit (and gains here)") {
    // refined top-k = top-k of a SUPERSET of the seed's edges, and
    // exact-top-k members outrank every non-member by construction
    // (same cosine-desc/id order), so per-query hits are monotone —
    // asserted per query, plus a strict global gain on this fixture.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val exact = Similarity.knnBruteForce(emb, emb, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def hitsByQuery(rounds: Int): Map[Long, Long] =
      Similarity.knnGraphDescent(emb, k = 5, rounds = rounds)
        .select(col("vec_id").as("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").count()
        .as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    val h0 = hitsByQuery(0)
    val h1 = hitsByQuery(1)
    (h0.keySet ++ h1.keySet).foreach { q =>
      withClue(s"query $q: ") { h1(q) should be >= h0(q) }
    }
    h1.values.sum should be > h0.values.sum
  }

  test("knnGraphDescentFrom(seed) replays knnGraphDescent exactly (the q332 stage-reuse contract)") {
    // the refinement loop is a pure function of (vectors, graph): resuming
    // from the materialized rounds=0 output must equal the one-shot run —
    // this is what lets q332 checkpoint the seed once for both stages
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val seed = Similarity.knnGraphDescent(emb, k = 5, rounds = 0)
      .localCheckpoint()
    assertSameRows(
      Similarity.knnGraphDescentFrom(emb, seed, k = 5, rounds = 1),
      Similarity.knnGraphDescent(emb, k = 5, rounds = 1))
    assertSameRows(
      Similarity.knnGraphDescentFrom(emb, seed, k = 5, rounds = 0), seed)
  }

  test("knnGraphDescent output is a well-formed ranked graph; partitioning-invariant") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val g = Similarity.knnGraphDescent(emb, k = 5, rounds = 1)
    g.filter(col("vec_id") === col("neighbor_id")).count() shouldBe 0L
    val shape = g.groupBy("vec_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("maxr"),
        countDistinct(col("neighbor_id")).as("nd"))
      .filter(col("n") > 5 || col("maxr") =!= col("n") || col("nd") =!= col("n"))
    shape.count() shouldBe 0L
    assertSameRows(g,
      Similarity.knnGraphDescent(emb.repartition(7), k = 5, rounds = 1))
  }

  test("knnLshMultiprobe: per-query exact hits never drop vs knnLsh (mask-0 probe = the plain bucket) and gain here") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.knnBruteForce(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def hitsByQuery(ann: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      ann.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").count()
        .as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    val plain = hitsByQuery(Similarity.knnLsh(emb, queries, k = 5))
    val multi = hitsByQuery(Similarity.knnLshMultiprobe(emb, queries, k = 5))
    (plain.keySet ++ multi.keySet).foreach { q =>
      withClue(s"query $q: ") { multi(q) should be >= plain(q) }
    }
    multi.values.sum should be > plain.values.sum
    assertSameRows(
      Similarity.knnLshMultiprobe(emb, queries, k = 5),
      Similarity.knnLshMultiprobe(emb.repartition(7),
        queries.repartition(3), k = 5))
  }

  test("knnGraphDescent: revCap=0 (forward-only descent) is well-formed and never worse than the seed") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val exact = Similarity.knnBruteForce(emb, emb, k = 5)
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    def hits(g: org.apache.spark.sql.DataFrame): Long =
      g.select(col("vec_id"), col("neighbor_id"))
        .join(exact, Seq("vec_id", "neighbor_id")).count()
    val seed = hits(Similarity.knnGraphDescent(emb, k = 5, rounds = 0))
    val fwdOnly = hits(Similarity.knnGraphDescent(emb, k = 5, revCap = 0,
      rounds = 1))
    fwdOnly should be >= seed
  }

  test("knnLshMultiprobe plan: probe expansion rides the broadcast query side only; candidate dedup on bare ids precedes the vector joins") {
    // The EXPLAINS.md q335 audit, pinned as a failing test (the
    // round-17 verdict's ask): multi-probe's whole point is that the
    // Hamming-1 probe expansion multiplies QUERY-side rows (queries
    // are small and broadcast by contract) while the corpus-side
    // index rows stay one per (band, key) — a refactor that moved the
    // XOR expansion under the corpus scan would silently multiply the
    // expensive side by (1 + bits) and go quadratic at scale. The
    // second property: candidate pairs are deduped as BARE id pairs
    // before either vector joins back, so no dot product is paid for
    // a pair that collided through several probes.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE off so executedPlan is the plain tree the node walk sees
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val out = Similarity.knnLshMultiprobe(emb,
        emb.filter(col("vec_id") < 3), k = 5)
      val plan = out.queryExecution.executedPlan
      // the probe expansion is the one Generate whose generator XORs
      // the band key (explode over the Hamming-1 flips); every other
      // Generate (corpus/query band posexplode) carries no XOR
      val xorGens = plan.collect {
        case g: GenerateExec if g.generator.toString.contains(" ^ ") => g
      }
      xorGens should have size 1
      val broadcastXorGens = plan.collect {
        case b: BroadcastExchangeExec => b
      }.flatMap(_.collect {
        case g: GenerateExec if g.generator.toString.contains(" ^ ") => g
      })
      broadcastXorGens should have size 1 // the same node, under a broadcast
      // candidate dedup: a hash aggregate over exactly (query_id,
      // vec_id) whose subtree contains the (band, key) equi-join but
      // NO cosine — the vectors join back strictly above it
      val dedups = plan.collect {
        case h: HashAggregateExec
          if h.output.map(_.name).toSet == Set("query_id", "vec_id") => h
      }
      dedups.size should be >= 2 // partial + final
      val outer = dedups.head // collect is pre-order: outermost first
      outer.toString should include("__band")
      (outer.toString should not).include("cosine")
      plan.toString should include("cosine")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("semDedup variant agreement (q347): graph merges every planted clone; IVF is provably blind to a cross-cell one") {
    // The measured closure of the q88 E73-row limitation sentence:
    // 40 planted near-identical clones over the sf0.01 fixture, both
    // dedup variants run on the augmented corpus. Deterministic —
    // every verdict is exact arithmetic over fixed inputs.
    val out = graft.SparkEntry
      .queries("q347_semdedup_agreement")(spark, "/root/testdata/sf0.01")
      .collect()
    out.length shouldBe 40
    // the descent graph's candidate universe sees EVERY clone (cos
    // ~0.7+ to its base): the graph variant merges all 40
    out.foreach { r => r.getAs[Boolean]("kept_graph") shouldBe false }
    // the perturbation lands clones on both sides of cell boundaries
    out.count(_.getAs[Boolean]("same_cell")) should be > 0
    out.count(r => !r.getAs[Boolean]("same_cell")) should be > 0
    // every same-cell clone is caught by the IVF-scoped variant too
    out.filter(_.getAs[Boolean]("same_cell")).foreach { r =>
      r.getAs[Boolean]("kept_ivf") shouldBe false
    }
    // the witness: a cross-cell clone the IVF variant KEEPS (it only
    // compares within a cell — structural blindness) while the graph
    // variant merges it
    out.exists(r => !r.getAs[Boolean]("same_cell") &&
      r.getAs[Boolean]("kept_ivf") &&
      !r.getAs[Boolean]("kept_graph")) shouldBe true
  }
}
