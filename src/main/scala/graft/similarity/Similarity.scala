package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hyperplanes
import graft.functions.PqFunctions.{pqEncode, pqLut, pqScore}
import graft.functions.VectorFunctions.{vecBandKeys, vecDot, vecNorm}

/** What the rows of a persisted IVF index hold
  * ([[Similarity.writeIvfIndex]]). The index records its kind, so
  * append and search read it back instead of taking it as an argument. */
sealed abstract class IvfCodes(val name: String)

object IvfCodes {
  /** Full-precision vectors with their norms; scored by exact cosine,
    * highest first. */
  case object Flat extends IvfCodes("flat")

  /** SQ8 codes ([[Similarity.quantize]]); scored by the BIGINT code
    * dot against the quantized query, highest first. */
  case object Sq8 extends IvfCodes("sq8")

  /** PQ codes, `m` indices into `ksub` centroids per subspace
    * ([[Similarity.knnPq]]); scored by the BIGINT ADC distance, lowest
    * first. An unset `codebook` is [[Similarity.pqStaticCodebook]] of
    * the indexed corpus. */
  final case class Pq(m: Int = 8, ksub: Int = 16,
                      codebook: Option[Array[Int]] = None) extends IvfCodes("pq")
}

/** Similarity search over an embedding column (`array<float>`).
  * Every k-NN path has one shape — prune the candidates, score them,
  * take one top-k per query ([[topKPerQuery]]) — and these ANN paths:
  *  - exact: [[knnBruteForce]] (and [[hardNegatives]] on the same scan);
  *  - sign-LSH: [[knnLsh]], [[knnLshMultiprobe]], and the LSH-seeded
  *    NN-Descent k-NN graph [[knnGraphDescent]];
  *  - IVF in memory: [[knnIvf]] (trained or fixed centroids);
  *  - IVF persisted: [[writeIvfIndex]] / [[appendIvfIndex]] /
  *    [[searchIvfIndex]] over one cell-partitioned layout whose rows
  *    hold [[IvfCodes]] — flat vectors, SQ8 codes or PQ codes;
  *  - compressed flat scans: [[knnQuantized]] (SQ8) and [[knnPq]]
  *    (PQ-ADC);
  *  - two-stage: an SQ8 candidate stage ([[twoStageKnn]], or the
  *    pruned [[twoStageKnnIvf]]) re-ranked by [[refineExact]].
  *
  * Numerics: dot products run through the native codegen'd
  * [[graft.functions.FloatVectorDot]] — float→double promotion per
  * element, left-to-right accumulation — bit-identical to a
  * sequential fold, so a single-threaded oracle computing the same
  * fold hash-matches with no rounding fudge.
  *
  * Scale design: norms are computed ONCE per row in a projection
  * before any join (never per candidate pair); the query side of the
  * brute-force join is broadcast (queries ≪ corpus by construction);
  * the ANN path buckets both sides by the sign signature so candidate
  * generation is an equi-join, and per-bucket work is |bucket|·|Q_b|,
  * never |corpus|·|Q|. Top-k is a per-query window over candidates —
  * no global sort.
  */
object Similarity {

  /** Sequential-fold dot product (float→double per element). Kept as
    * the executable spec for [[graft.functions.FloatVectorDot]] — the
    * suite asserts bit-identity between the two. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def dot(a: Column, b: Column): Column = vecDot(a, b)

  def norm(a: Column): Column = vecNorm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force exact top-k neighbours for each query vector.
    * `queries` must be small (it is broadcast); the corpus streams
    * once with no shuffle of the corpus side — the only shuffle is the
    * per-query top-k window. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKPerQuery(bruteScored(corpus, queries, idCol, vecCol), k, idCol)

  /** Every (corpus, query) pair with its exact cosine — the shared
    * scan behind [[knnBruteForce]] and [[hardNegatives]]: broadcast
    * queries, corpus streams once, no corpus shuffle. */
  private def bruteScored(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), vecNorm(col(vecCol)).as("__qnorm")))
    // scaleOut: the |corpus|×|queries| dot products evaluate in the
    // corpus SCAN stage (broadcast join side) — a one-row-group corpus
    // file would score every pair in a single task (r19 opt, §2.5)
    graft.core.Par.scaleOut(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol), vecNorm(col(vecCol)).as("__cnorm"))
      .crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cosine",
        vecDot(col("__qv"), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
  }

  /** Per-query top-k of a scored pair frame — the tail of every k-NN
    * variant here (the one shuffle: the per-query row_number window,
    * executed as WindowGroupLimit). Ranks by `scoreCol`, highest first
    * for a similarity, lowest first when `ascending` (a distance), ties
    * to the lower `idCol`; emits (query_id, neighbor_id, rank, score). */
  private def topKPerQuery(scored: DataFrame, k: Int, idCol: String,
                           scoreCol: String = "cosine",
                           ascending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(
      if (ascending) col(scoreCol) else col(scoreCol).desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("rank"), col(scoreCol))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k highest-cosine corpus vectors strictly BELOW `maxCos` —
    * close enough to be informative negatives, far enough to not be
    * latent positives. The default ceiling is the [[semanticDedup]]
    * near-dup threshold, so "negative" means exactly "what dedup would
    * not have removed".
    *
    * Same contract as [[knnBruteForce]] (exact cosine, broadcast
    * queries, corpus streams once, per-query WindowGroupLimit top-k);
    * the band filter drops candidates before the window shuffle, so it
    * only shrinks the work. At 100 TB swap the all-pairs scan for LSH
    * or IVF candidate generation ([[knnLsh]] / [[searchIvfIndex]]) and
    * keep the same band filter + top-k tail. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    maxCos: Double = 0.4, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    topKPerQuery(
      bruteScored(corpus, queries, idCol, vecCol)
        .filter(col("cosine") < lit(maxCos)),
      k, idCol)

  /** Bits per LSH band: each band buckets the corpus into 2^bits
    * cells, so per-band self-join work is Σ|bucket|² ≈ n²/2^bits.
    * Scale `bits` with the corpus (bits ≈ log2(n / targetBucketRows))
    * — at 8 bits a band has 256 cells; a trillion-row corpus wants
    * 20+. The coefficient table is unbounded, so any width works. */
  val signatureBits: Int = 8

  /** OR-construction bands: a candidate pair needs to collide in ANY
    * band, recovering the recall that narrower single-band bucketing
    * gives up — P[candidate] = 1-(1-p^bits)^bands for per-bit
    * agreement p = 1-θ/π. At 8×8, a true near-dup (cos ≥ 0.9,
    * p ≥ .857) is a candidate with P ≈ .94, while a random pair costs
    * ~bands/2^bits ≈ 3% of the corpus — the S-curve near-dup dedup
    * needs. More bands = more recall, proportionally more
    * candidate-generation work. */
  val signatureBands: Int = 8

  /** Pseudo-random hyperplane `plane` in `dim` dimensions: integer
    * coordinates in [-10, 10] from [[graft.functions.Hyperplanes]] — the
    * one coefficient formula shared with the native band-key
    * expression. Integer coordinates keep the dot product
    * bit-reproducible in any engine (exact in doubles); random
    * DIRECTIONS are all sign-LSH needs, not random magnitudes. */
  def hyperplane(plane: Int, dim: Int): Array[Float] =
    Hyperplanes.plane(plane, dim)

  /** Band key: `bits` hyperplane sign bits packed into an int —
    * bit j set iff the vector's dot with hyperplane `band*bits+j` is
    * positive. Composed from per-plane [[vecDot]] calls — kept as the
    * executable SPEC for the fused native expression (the suite
    * asserts bit-identity); [[bandKeys]] is what the operators use.
    * Do NOT put this form in a hot path: whole-stage codegen fuses
    * the bands×bits dot loops into one method past the JVM's
    * huge-method JIT limit and the stage falls back to the bytecode
    * interpreter (measured ~8× slower than interpreted Spark eval,
    * ~20× slower than the fused expression). */
  def bandKeySpec(vec: Column, band: Int, bits: Int = signatureBits,
                  dim: Int = 64): Column =
    (0 until bits).map { j =>
      when(vecDot(vec, typedLit(hyperplane(band * bits + j, dim))) > 0d,
        lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** All band keys as an array column, one int per band — the native
    * [[graft.functions.FloatVectorBandKeys]] single-pass projection. */
  def bandKeys(vec: Column, bands: Int = signatureBands,
               bits: Int = signatureBits, dim: Int = 64): Column =
    vecBandKeys(vec, bands, bits, dim)

  /** Candidate pairs collide in several bands; keeping only the FIRST
    * band where the two signatures agree makes each pair appear
    * exactly once — deduplication as a filter instead of a
    * distinct-shuffle over candidate rows. Expressed as a codegen'd
    * when-chain over element_at, NOT a zip_with/array_position lambda:
    * HOF lambdas are interpreted and this predicate runs once per
    * JOINED row — the hottest expression in the whole plan. Returns
    * the 1-based first matching band (element_at convention). */
  private def firstMatchingBand(aKeys: Column, bKeys: Column,
                                bands: Int = signatureBands): Column =
    coalesce((0 until bands).map(j =>
      when(element_at(aKeys, j + 1) === element_at(bKeys, j + 1), lit(j + 1))): _*)

  /** ANN top-k: candidates restricted to vectors sharing at least one
    * LSH band with the query (equi-join on (band, key)), exact cosine
    * + per-query top-k on the candidates. Recall vs [[knnBruteForce]]
    * is the quality metric — measured in the test suite, tunable via
    * `bands` (more = higher recall) and `bits` (more = smaller
    * buckets; scale with corpus size). */
  def knnLsh(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             bits: Int = signatureBits, bands: Int = signatureBands,
             dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = graft.core.Par.scaleOut( // r19 opt: see bruteScored
        corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol),
        bandKeys(col(vecCol), bands, bits, dim).as("__keys"),
        vecNorm(col(vecCol)).as("__cnorm"))
      .select(col(idCol), col(vecCol), col("__keys"), col("__cnorm"),
        posexplode(col("__keys")).as(Seq("__band", "__key")))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"),
        bandKeys(col(vecCol), bands, bits, dim).as("__qkeys"),
        vecNorm(col(vecCol)).as("__qnorm"))
      .select(col("query_id"), col("__qv"), col("__qkeys"), col("__qnorm"),
        posexplode(col("__qkeys")).as(Seq("__band", "__key"))))
    val scored = c.join(q, Seq("__band", "__key"))
      .filter(col(idCol) =!= col("query_id"))
      .filter(firstMatchingBand(col("__keys"), col("__qkeys"), bands) ===
        col("__band") + 1)
      .withColumn("cosine",
        vecDot(col("__qv"), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
    topKPerQuery(scored, k, idCol)
  }

  /** Multi-probe LSH ANN top-k (Lv, Josephson, Wang, Charikar & Li,
    * VLDB 2007): each query probes, per band, its own bucket PLUS the
    * `bits` buckets at Hamming distance 1 (one sign bit flipped) —
    * the buckets a near neighbor most likely fell into when one
    * hyperplane narrowly disagreed. The recall knob that does NOT
    * grow the index: more bands multiply the CORPUS-side index rows
    * (the expensive side at 100 TB); multi-probe multiplies only the
    * QUERY-side probe rows (queries ≪ corpus by contract, and they
    * ride the same broadcast). Candidates are still one (band, key)
    * equi-join; a pair colliding through several probes is deduped
    * on ids BEFORE any vector is touched (ids-only distinct — the
    * vectors join back after), then exact cosine re-ranks, the
    * [[knnLsh]] contract. Probing depth is fixed at Hamming ≤ 1
    * (1 + bits probes/band — the paper's T small regime); deeper
    * perturbation sets trade toward a flat scan and are a different
    * operator by design, stated. */
  def knnLshMultiprobe(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                       bits: Int = signatureBits, bands: Int = signatureBands,
                       dim: Int = 64, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val c = graft.core.Par.scaleOut( // r19 opt: see bruteScored
        corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol),
        bandKeys(col(vecCol), bands, bits, dim).as("__keys"))
      .select(col(idCol), posexplode(col("__keys")).as(Seq("__band", "__key")))
    val probes = (0 until bits).map(j =>
      col("__key").bitwiseXOR(lit(1 << j))) :+ col("__key")
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        bandKeys(col(vecCol), bands, bits, dim).as("__qkeys"))
      .select(col("query_id"),
        posexplode(col("__qkeys")).as(Seq("__band", "__key")))
      .select(col("query_id"), col("__band"),
        explode(array(probes: _*)).as("__key")))
    val candIds = c.join(q, Seq("__band", "__key"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol))
      .distinct()
    val cv = corpus.select(col(idCol), col(vecCol),
      vecNorm(col(vecCol)).as("__cnorm"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), vecNorm(col(vecCol)).as("__qnorm")))
    val scored = candIds.join(cv, Seq(idCol)).join(qv, Seq("query_id"))
      .withColumn("cosine",
        vecDot(col("__qv"), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
    topKPerQuery(scored, k, idCol)
  }

  /** k-NN GRAPH construction — LSH-seeded NN-Descent (Dong, Moses &
    * Li, WWW 2011 "Efficient k-nearest neighbor graph construction
    * for generic similarity measures"): the bulk operator behind
    * SemDeDup-style embedding curation and graph-based ANN serving,
    * where EVERY vector needs its neighbors, not just a query set —
    * running [[knnBruteForce]] per vector is the n² no one can pay.
    *
    * Seed: sign-LSH band collisions ([[knnLsh]]'s candidate
    * generation as a SELF-join — one row per colliding pair via the
    * [[firstMatchingBand]] dedup filter), exact-cosine top-k per
    * vector. Then `rounds` NN-Descent refinements, each exploiting
    * the paper's observation that a neighbor of a neighbor is likely
    * a neighbor: candidates = pairs sharing a pivot in the current
    * adjacency B = G ∪ G⁻¹, re-ranked by exact cosine against the
    * incumbents. Two deliberate deviations from the paper, both
    * FOR determinism: reverse edges are capped per node at `revCap`
    * BY RANK (cosine desc, id — the ρ-sampling analogue, bounded
    * instead of randomly sampled, so hub nodes cannot quadratically
    * explode the pivot join), and there is no "new/old flag" delta
    * optimization (it trades recompute for state; the exact output
    * is unchanged — stated so nobody mistakes the omission for a
    * semantic difference).
    *
    * Scale: per round, |B| ≤ n·(k+revCap) edges; the pivot
    * equi-join's fanout is ≤ (k+revCap)² per pivot, so candidates ≤
    * n·(k+revCap)² — LINEAR in n with a k² constant (the paper's
    * O(n·k²) per-round cost), vs n² for brute force. All equi-joins
    * + WindowGroupLimit top-k windows; `distinct` dedups candidates
    * before any dot product is paid; multi-round lineage rides
    * [[graft.core.Iterate.barrier]]. rounds = 0 returns the raw LSH
    * seed graph (the eval baseline q332 measures against). */
  def knnGraphDescent(vectors: DataFrame, k: Int = 10, revCap: Int = 10,
                      rounds: Int = 1,
                      bits: Int = signatureBits, bands: Int = signatureBands,
                      dim: Int = 64, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(revCap >= 0, "revCap must be >= 0")
    require(rounds >= 0, "rounds must be >= 0")
    // scaleOut: norms + LSH band keys evaluate in the vectors' scan
    // stage — spread it before the per-vector hyperplane dots (r19 opt)
    val base = graft.core.Par.scaleOut(
        vectors.select(col(idCol).as("__id"), col(vecCol).as("__vec")))
      .withColumn("__norm", vecNorm(col("__vec")))
    val keyed = base.withColumn("__keys",
      bandKeys(col("__vec"), bands, bits, dim))
    val left = keyed.select(col("__id").as("src"), col("__vec").as("__sv"),
      col("__norm").as("__snorm"), col("__keys").as("__skeys"),
      posexplode(col("__keys")).as(Seq("__band", "__key")))
    val right = keyed.select(col("__id").as("dst"), col("__vec").as("__dv"),
      col("__norm").as("__dnorm"), col("__keys").as("__dkeys"),
      posexplode(col("__keys")).as(Seq("__band", "__key")))
    val seedPairs = left.join(right, Seq("__band", "__key"))
      .filter(col("src") =!= col("dst"))
      .filter(firstMatchingBand(col("__skeys"), col("__dkeys"), bands) ===
        col("__band") + 1)
      .withColumn("cosine",
        vecDot(col("__sv"), col("__dv")) / (col("__snorm") * col("__dnorm")))
      .select(col("src"), col("dst"), col("cosine"))
    descentRounds(base, topKPerSrc(seedPairs, k), k, revCap, rounds, idCol)
  }

  /** Resume NN-Descent from an already-built graph in [[knnGraphDescent]]
    * OUTPUT shape (idCol, neighbor_id, rank, cosine): runs `rounds`
    * refinement rounds over it. `knnGraphDescentFrom(v, knnGraphDescent(
    * v, rounds = 0), rounds = r)` ≡ `knnGraphDescent(v, rounds = r)`
    * (the loop is a pure function of (vectors, graph); suite-pinned).
    * Exists so an eval that measures SEVERAL stages of the same
    * construction (q332's seed-vs-refined recall) can materialize the
    * seed once instead of re-paying the LSH band self-join per stage —
    * guide §2.4, remove duplicated subtrees. */
  def knnGraphDescentFrom(vectors: DataFrame, graph: DataFrame,
                          k: Int = 10, revCap: Int = 10, rounds: Int = 1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(revCap >= 0, "revCap must be >= 0")
    require(rounds >= 0, "rounds must be >= 0")
    val base = vectors.select(col(idCol).as("__id"), col(vecCol).as("__vec"),
      vecNorm(col(vecCol)).as("__norm"))
    val g0 = graph.select(col(idCol).as("src"), col("neighbor_id").as("dst"),
      col("rank"), col("cosine"))
    descentRounds(base, g0, k, revCap, rounds, idCol)
  }

  /** Per-src top-k of a (src, dst, cosine, …) scored frame. */
  private def topKPerSrc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The shared NN-Descent refinement loop ([[knnGraphDescent]] body). */
  private def descentRounds(base: DataFrame, g0: DataFrame, k: Int,
                            revCap: Int, rounds: Int,
                            idCol: String): DataFrame = {
    var g = g0
    for (_ <- 0 until rounds) {
      val fwd = g.select(col("src"), col("dst"))
      val rev = g.withColumn("__r", row_number().over(
          Window.partitionBy(col("dst")).orderBy(col("cosine").desc, col("src"))))
        .filter(col("__r") <= revCap)
        .select(col("dst").as("src"), col("src").as("dst"))
      val b = fwd.union(rev)
      val cand = b.as("x").join(b.as("y"),
          col("x.src") === col("y.src") && col("x.dst") =!= col("y.dst"))
        .select(col("x.dst").as("src"), col("y.dst").as("dst"))
      val scored = cand.union(fwd).distinct()
        .join(base.select(col("__id").as("src"), col("__vec").as("__sv"),
          col("__norm").as("__snorm")), Seq("src"))
        .join(base.select(col("__id").as("dst"), col("__vec").as("__dv"),
          col("__norm").as("__dnorm")), Seq("dst"))
        .withColumn("cosine",
          vecDot(col("__sv"), col("__dv")) / (col("__snorm") * col("__dnorm")))
        .select(col("src"), col("dst"), col("cosine"))
      g = graft.core.Iterate.barrier(topKPerSrc(scored, k))
    }
    g.select(col("src").as(idCol), col("dst").as("neighbor_id"),
      col("rank"), col("cosine"))
  }

  // ------------------------------------------------------------- IVF

  /** Per-centroid comparison structs `(d = −cosine(vec, centroid), cell)`.
    * `least` / `array_sort` over these pick the closest centroid(s) via
    * codegen'd struct comparisons — no HOF lambdas (interpreted), no
    * driver round-trips. Centroid vectors and norms are folded in as
    * literals, so assignment is a pure projection: zero shuffle, zero
    * join, scales to any corpus size. */
  private def centStructs(vec: Column, norm: Column,
                          cents: Array[Array[Float]]): Seq[Column] =
    cents.toSeq.zipWithIndex.map { case (c, j) =>
      val cn = math.sqrt(c.map(x => x.toDouble * x).sum)
        .max(java.lang.Double.MIN_VALUE)
      struct((-vecDot(vec, typedLit(c)) / (norm * lit(cn))).as("d"),
        lit(j).as("cell"))
    }

  /** Cell id of the nearest (max-cosine) centroid; ties break to the
    * lowest cell id via the struct's second field. */
  def nearestCell(vec: Column, norm: Column,
                  cents: Array[Array[Float]]): Column = {
    require(cents.length >= 2, "IVF needs at least 2 centroids")
    least(centStructs(vec, norm, cents): _*).getField("cell")
  }

  /** The `nprobe` nearest cells for a query vector, closest first —
    * an array of `(d, cell)` structs. */
  def probedCells(vec: Column, norm: Column, cents: Array[Array[Float]],
                  nprobe: Int): Column =
    slice(array_sort(array(centStructs(vec, norm, cents): _*)), 1, nprobe)

  /** Train IVF centroids: deterministic seeding (the `nlist` rows with
    * the smallest `(xxhash64(id), id)` — a reproducible pseudo-random
    * spread) followed by `iters` Lloyd rounds. Each round is one
    * distributed pass: assign by literal-centroid projection, then
    * `posexplode → groupBy(cell, pos) → avg`. Only `nlist × dim`
    * aggregated doubles ever reach the driver — the collect is bounded
    * by the index shape, not the data.
    *
    * At 100 TB, train on a hash sample
    * (`corpus.filter(xxhash64(col(id)) % m === 0)`) — k-means quality
    * saturates long before the full corpus, and the search path below
    * never depends on what the centroids were trained on. Empty cells
    * keep their previous centroid (the standard Lloyd fallback). */
  def trainCentroids(corpus: DataFrame, nlist: Int = 8, iters: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Float]] = {
    require(nlist >= 2, "IVF needs at least 2 centroids")
    var cents: Array[Array[Float]] = corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__id")), col("__id"))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(cents.length >= 2, s"corpus has < 2 rows, cannot train $nlist cells")
    for (_ <- 0 until iters) {
      val means = corpus
        .select(nearestCell(col(vecCol), vecNorm(col(vecCol)), cents).as("__cell"),
          posexplode(col(vecCol)).as(Seq("__pos", "__x")))
        .groupBy("__cell", "__pos")
        .agg(avg(col("__x")).as("__m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCell.get(j).fold(old) { rows =>
          val next = old.clone()
          rows.foreach(r => next(r.getInt(1)) = r.getDouble(2).toFloat)
          next
        }
      }
    }
    cents
  }

  /** IVF-Flat ANN top-k (the classic inverted-file index): corpus rows
    * are assigned to their nearest centroid's cell by a pure
    * projection; each query probes its `nprobe` nearest cells; exact
    * cosine re-ranks the candidates. Candidate generation is an
    * equi-join on `__cell` — per-query work is the probed cells'
    * population (~`nprobe/nlist` of the corpus), never the whole
    * corpus, and no pair outside the probed cells is ever scored.
    * Complementary to [[knnLsh]]: IVF adapts its partitions to the
    * data distribution (trained centroids) where sign-LSH uses fixed
    * coordinate planes.
    *
    * @param centroids fixed cell centroids, bypassing training — for
    *                  a pre-trained index, or for an engine-neutral
    *                  deterministic cell layout (the search path is
    *                  then fully oracle-checkable; only the k-means
    *                  loop is not SQL-expressible). */
  def knnIvf(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             nlist: Int = 8, nprobe: Int = 3, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding",
             centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      trainCentroids(corpus, nlist, iters, idCol, vecCol))
    val c = corpus
      .select(col(idCol), col(vecCol), vecNorm(col(vecCol)).as("__cnorm"))
      .withColumn("__cell", nearestCell(col(vecCol), col("__cnorm"), cents))
    val q = probeRows(queries, cents, nprobe, (v, n) => Seq(v, n), "__cell",
      idCol, vecCol)
    val scored = c.join(broadcast(q), "__cell")
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("cosine",
        vecDot(col("__qv"), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
    topKPerQuery(scored, k, idCol)
  }

  /** The query side of an IVF search: one row per (query, probed cell)
    * — `query_id`, the columns `payload` derives from the query vector
    * `__qv` and its norm `__qnorm`, and the probed cell as `cellCol`. */
  private def probeRows(queries: DataFrame, cents: Array[Array[Float]],
                        nprobe: Int, payload: (Column, Column) => Seq[Column],
                        cellCol: String, idCol: String,
                        vecCol: String): DataFrame = {
    val p = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        vecNorm(col(vecCol)).as("__qnorm"))
      .select(col("query_id") +: payload(col("__qv"), col("__qnorm")) :+
        explode(probedCells(col("__qv"), col("__qnorm"), cents, nprobe))
          .as("__probe"): _*)
    p.select(p.columns.init.toSeq.map(col) :+ col("__probe.cell").as(cellCol): _*)
  }

  // ------------------------------------------------- persisted IVF index

  /** One code kind's three roles in a persisted IVF index: the stored
    * row columns of a vector (`encode(vec, norm)`), the broadcast
    * columns of a query (`probe(__qv, __qnorm)`), and the `score` of a
    * stored row against a query row, ranked ascending or not. */
  private final case class IvfCodec(encode: (Column, Column) => Seq[Column],
                                    probe: (Column, Column) => Seq[Column],
                                    scoreCol: String, score: Column,
                                    ascending: Boolean)

  private def ivfCodec(codes: IvfCodes, vecCol: String): IvfCodec = codes match {
    case IvfCodes.Flat => IvfCodec((v, n) => Seq(v, n.as("cnorm")),
      (v, n) => Seq(v, n), "cosine",
      vecDot(col("__qv"), col(vecCol)) / (col("__qnorm") * col("cnorm")),
      ascending = false)
    case IvfCodes.Sq8 => IvfCodec((v, n) => Seq(quantize(v, n).as("codes")),
      (v, n) => Seq(quantize(v, n).as("__qcodes")), "score",
      vecDot(col("codes"), col("__qcodes")).cast("long"), ascending = false)
    case IvfCodes.Pq(m, ksub, codebook) =>
      require(codebook.isDefined, "PQ codes need a codebook")
      val cb = codebook.get
      require(cb.length % (m * ksub) == 0, "codebook shape mismatch")
      val ds = cb.length / (m * ksub)
      IvfCodec(
        (v, n) => Seq(pqEncode(quantize(v, n), cb, m, ksub, ds).as("codes")),
        (v, n) => Seq(pqLut(quantize(v, n), cb, m, ksub, ds).as("__lut")),
        "score", pqScore(col("__lut"), col("codes"), ksub), ascending = true)
  }

  /** Persist an IVF index (FAISS `IVFx,Flat` / `IVFx,SQ8` / `IVFx,PQy`;
    * Jégou et al. 2011, Johnson et al. 2017, arXiv:1702.08734):
    *  - `path/centroids`: cell → centroid vector (nlist rows), each row
    *    also naming the code kind, so append and search read it back;
    *  - `path/codebook` (PQ only): one row (flat cb, m, ksub, ds);
    *  - `path/rows`: one row per corpus vector, PARTITIONED BY CELL on
    *    disk — `(id, vec, cnorm)` for [[IvfCodes.Flat]], `(id, codes)`
    *    for SQ8 (4× smaller than float32) and PQ (m ints per row).
    * The corpus is scanned once at build time; afterwards a search
    * touches only its probed cells' directories ([[searchIvfIndex]]) —
    * the inverted-file property as filesystem layout, multiplied by
    * the bytes the codes save per row. Cell assignment uses the
    * full-precision vector (the coarse quantizer is full-precision in
    * FAISS too); only the stored rows are compressed. A PQ codebook
    * left unset is [[pqStaticCodebook]] of `corpus`. */
  def writeIvfIndex(corpus: DataFrame, path: String, codes: IvfCodes,
                    nlist: Int = 8, iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    centroids: Option[Array[Array[Float]]] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroids.getOrElse(
      trainCentroids(corpus, nlist, iters, idCol, vecCol))
    val stored = codes match {
      case IvfCodes.Pq(m, ksub, None) =>
        IvfCodes.Pq(m, ksub, Some(pqStaticCodebook(corpus, m, ksub, idCol, vecCol)))
      case c => c
    }
    cents.toSeq.zipWithIndex.map { case (c, j) => (j, c.toSeq, stored.name) }
      .toDF("cell", "centroid", "code")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    stored match {
      case IvfCodes.Pq(m, ksub, Some(cb)) =>
        Seq((cb.toSeq, m, ksub, cb.length / (m * ksub))).toDF("cb", "m", "ksub", "ds")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
      case _ =>
    }
    writeCells(corpus, path, cents, stored, "overwrite", idCol, vecCol)
  }

  /** IVF index MAINTENANCE: append a batch of new vectors into an
    * existing index without touching history. Cell assignment and
    * encoding use the index's own persisted centroids, code kind and
    * codebook — frozen at build time, so the batch lands exactly where
    * an index built from the union corpus would put it (SimilaritySpec
    * proves search-after-append ≡ search-over-union for every code) —
    * and the write is a dynamic partition APPEND into the `cell=`
    * layout: history files are never read or rewritten, per-batch
    * cost scales with the batch. Centroid drift is a rebuild decision
    * ([[writeIvfIndex]]), never an append decision — the same
    * daily-cycle contract as [[graft.dedup.Dedup.appendSignatureIndex]]. */
  def appendIvfIndex(spark: SparkSession, path: String, batch: DataFrame,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val (cents, codes) = readIvfIndex(spark, path)
    writeCells(batch, path, cents, codes, "append", idCol, vecCol)
  }

  /** Search a persisted IVF index: probe cells are computed from the
    * (collected, ≤ nlist values) centroid table, pushed as a STATIC
    * partition filter on the cell-partitioned row store — the scan
    * reads only `nprobe/nlist` of the index's files (pruning asserted
    * in SimilaritySpec), then the probed slice is scored by the
    * index's code kind:
    *  - flat: exact cosine, highest first — [[knnIvf]]'s result with
    *    the same centroids (q86's oracle IS q48's);
    *  - SQ8: the exact integer code dot against the quantized query,
    *    highest first, as BIGINT `score` — [[knnQuantized]] row for
    *    row at `nprobe = nlist`;
    *  - PQ: m BIGINT LUT lookups per candidate
    *    ([[graft.functions.PqUtil.score]]), a distance, lowest first —
    *    [[knnPq]] row for row at `nprobe = nlist`.
    * Ties go to the lower id. The cost lands in index IO instead of a
    * full-corpus assignment projection, which is what an incremental
    * pipeline querying a static corpus wants. */
  def searchIvfIndex(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int = 10, nprobe: Int = 3, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val (cents, codes) = readIvfIndex(spark, path)
    val codec = ivfCodec(codes, vecCol)
    val q = probeRows(queries, cents, nprobe, codec.probe, "cell", idCol, vecCol)
    // distinct probed cells: bounded by nlist, never by |queries|
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val rows = spark.read.parquet(s"$path/rows")
      .filter(col("cell").isInCollection(probed))
    val scored = rows.join(broadcast(q), "cell")
      .filter(col(idCol) =!= col("query_id"))
      .withColumn(codec.scoreCol, codec.score)
    topKPerQuery(scored, k, idCol, codec.scoreCol, codec.ascending)
  }

  /** A persisted index's centroids (in cell order) and code kind, both
    * read from `path/centroids`; a PQ index adds its codebook. */
  private def readIvfIndex(spark: SparkSession,
                           path: String): (Array[Array[Float]], IvfCodes) = {
    val rows = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell")).collect()
    val codes = rows.head.getAs[String]("code") match {
      case "flat" => IvfCodes.Flat
      case "sq8" => IvfCodes.Sq8
      case "pq" =>
        val meta = spark.read.parquet(s"$path/codebook").collect().head
        IvfCodes.Pq(meta.getAs[Int]("m"), meta.getAs[Int]("ksub"),
          Some(meta.getAs[scala.collection.Seq[Int]]("cb").toArray))
      case other =>
        throw new IllegalArgumentException(s"$path: unknown IVF code kind '$other'")
    }
    (rows.map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray), codes)
  }

  /** Encode `vecs` under `codes` and write them into their cells. */
  private def writeCells(vecs: DataFrame, path: String,
                         cents: Array[Array[Float]], codes: IvfCodes,
                         mode: String, idCol: String, vecCol: String): Unit =
    vecs.select(col(idCol), col(vecCol), vecNorm(col(vecCol)).as("__n"))
      .select(col(idCol) +: ivfCodec(codes, vecCol).encode(col(vecCol), col("__n")) :+
        nearestCell(col(vecCol), col("__n"), cents).as("cell"): _*)
      .write.mode(mode).partitionBy("cell").parquet(s"$path/rows")

  /** Embedding-cosine near-dup pairs: candidates share at least one
    * LSH band (equi-join on (band, key), first-matching-band dedup),
    * verified by exact cosine ≥ threshold. Per-band self-join work is
    * Σ|bucket|² ≈ n²/2^bits per band — scale `bits` with the corpus. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   bits: Int = signatureBits, bands: Int = signatureBands,
                   dim: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = corpus.select(col(idCol), col(vecCol),
        bandKeys(col(vecCol), bands, bits, dim).as("__keys"),
        vecNorm(col(vecCol)).as("__norm"))
      .select(col(idCol), col(vecCol), col("__keys"), col("__norm"),
        posexplode(col("__keys")).as(Seq("__band", "__key")))
    b.as("a").join(b.as("b"),
        col("a.__band") === col("b.__band") && col("a.__key") === col("b.__key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(firstMatchingBand(col("a.__keys"), col("b.__keys"), bands) ===
        col("a.__band") + 1)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (vecDot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.__norm") * col("b.__norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-group embedding centroids — the feature-aggregation step
    * behind semantic clustering, class prototypes, and drift
    * monitoring: the mean vector of each group, one output row per
    * (group, dimension). `posexplode` turns the vectors into
    * (group, dim, value) rows that COMBINE MAP-SIDE before the
    * shuffle, so the exchange carries groups × dims partial sums, not
    * rows × dims values; the mean is an exact-decimal sum over the
    * (exactly double-representable) float components divided once —
    * order-independent, oracle-exact. */
  def groupCentroids(vecs: DataFrame, groupCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    vecs.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy(col(groupCol), col("dim"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.exactAvg(col("__v").cast("double"), 6).as("mean_v"))

  /** Clustering-quality audit against a labeled reference: assign each
    * vector to its nearest centroid (pure literal projection, zero
    * shuffle — the [[nearestCell]] contract), then per cell report the
    * cluster/label contingency summary — size, number of distinct
    * labels present, the majority label and its count, and purity
    * (majority fraction). Σ purity·n / N over the output is the
    * standard corpus-level purity score; emitting per-cell rows keeps
    * the operator's output auditable (WHICH cells are mixed) instead
    * of one opaque scalar.
    *
    * The whole reduction is two bounded hash aggregates — (cell,
    * label) pairs, then cells — so output and shuffle are bounded by
    * nlist·|labels| at any corpus size. Purity's division is the only
    * double op, computed from two exact BIGINTs in an identical tree
    * on both engines. */
  def clusterLabelAudit(vecs: DataFrame, cents: Array[Array[Float]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val assigned = vecs.select(col(idCol), col(labelCol),
      nearestCell(col(vecCol), vecNorm(col(vecCol)), cents).as("cell"))
    val cont = assigned.groupBy(col("cell"), col(labelCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col(labelCol))
    cont.withColumn("__rn", row_number().over(w))
      .groupBy(col("cell"))
      .agg(sum(col("n")).as("n_vecs"),
        count(lit(1)).as("n_labels"),
        max(when(col("__rn") === 1, col(labelCol))).as("top_label"),
        max(when(col("__rn") === 1, col("n"))).as("top_n"))
      .withColumn("purity",
        col("top_n").cast("double") / col("n_vecs").cast("double"))
  }

  /** Int8 scalar quantization of a vector: unit-normalize, then map
    * each component to `floor(u·127 + 0.5)` — engine-neutral by
    * construction (both engines floor the same double; `round`'s
    * half-way mode varies by engine/type, floor(x+0.5) doesn't). The
    * codes are STORED as a float array: every value in [-127, 127] is
    * exact in float, so the codegen'd [[graft.functions.FloatVectorDot]]
    * computes the INTEGER code dot product exactly in double and the
    * quantized path reuses the float hot loop instead of needing an
    * int twin. `norm` must be a materialized column, not an inline
    * fold — HOF lambdas re-evaluate child subtrees per element, which
    * would turn O(d) into O(d²). */
  def quantize(vec: Column, norm: Column): Column =
    transform(vec, x =>
      floor(x.cast("double") / norm * lit(127.0) + lit(0.5)).cast("float"))

  /** ANN top-k over int8-quantized vectors — the memory-bandwidth
    * scale path for similarity search: a float32 corpus scan at 100 TB
    * is bandwidth-bound, and 4× smaller codes is 4× fewer bytes per
    * candidate (FAISS's SQ8 storage layout, Johnson et al. 2017,
    * arXiv:1702.08734). Ranking is by the integer code dot (a monotone
    * proxy for cosine once both sides are unit-normalized), with ids
    * breaking ties — the scores are exact integers, so unlike every
    * float ANN variant the ENTIRE output is integer-deterministic and
    * the oracle check is exact with no epsilon anywhere (q91). In a
    * two-stage deployment, re-rank this candidate list with
    * [[knnBruteForce]]'s exact cosine over k' ≫ k. */
  def knnQuantized(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    def codes(df: DataFrame, outId: String) =
      sq8Rows(df, idCol, vecCol, outId, s"__q$outId")
    val q = broadcast(codes(queries, "query_id"))
    val scored = codes(corpus, idCol).crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("score",
        vecDot(col(s"__q$idCol"), col("__qquery_id")).cast("long"))
    topKPerQuery(scored, k, idCol, "score")
  }

  /** `df`'s ids as `outId` beside their SQ8 codes ([[quantize]]) as
    * `outCol` — the scan-side encode of [[knnQuantized]] and [[knnPq]]. */
  private def sq8Rows(df: DataFrame, idCol: String, vecCol: String,
                      outId: String, outCol: String): DataFrame =
    df.select(col(idCol).as(outId), col(vecCol).as("__v"),
        vecNorm(col(vecCol)).as("__n"))
      .select(col(outId), quantize(col("__v"), col("__n")).as(outCol))

  /** Two-stage retrieval — the deployment pattern the
    * [[knnQuantized]] scaladoc promises, as one operator: stage 1
    * ranks by the 4×-smaller SQ8 integer code dot and keeps
    * `kCandidates` per query (the memory-bandwidth-bound scan);
    * stage 2 re-scores ONLY those candidates with full-precision
    * exact cosine and keeps `k` (FAISS's refine step, Johnson et al.
    * 2017). The quality knob is kCandidates: at kCandidates = |corpus|
    * the output IS [[knnBruteForce]] row for row (spec-asserted), and
    * at practical k' ≈ 3–5k the int8 perturbation (~1e-3 per cosine
    * on unit vectors) has to displace a true neighbor past rank k'
    * to cost recall.
    *
    * Scale shape: stage 1 streams codes ([[twoStageKnnIvf]] IS the
    * partition-pruned composition for 100 TB — the re-rank tail,
    * [[refineExact]], is candidate-source-agnostic);
    * stage 2 touches |queries|·kCandidates rows via one hash join
    * back to full vectors — never the corpus. Tie-breaks by id at
    * both stages (the family contract). */
  def twoStageKnn(corpus: DataFrame, queries: DataFrame,
                  kCandidates: Int = 40, k: Int = 10,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(kCandidates >= k,
      s"kCandidates ($kCandidates) must be >= k ($k) — the refine " +
        "stage can only shrink the candidate list")
    val cands = knnQuantized(corpus, queries, kCandidates, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(cands, corpus, queries, k, idCol, vecCol)
  }

  /** The candidate-source-agnostic exact-cosine refine tail (stage 2 of
    * [[twoStageKnn]]/[[twoStageKnnIvf]]): re-score `(query_id,
    * neighbor_id)` candidate pairs with full-precision cosine against
    * the float corpus and keep the top `k` per query. Touches only
    * |queries|·k′ rows — one hash join back to full vectors, queries
    * broadcast, never a corpus scan. Tie-breaks by id (the family
    * contract). */
  def refineExact(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), vecNorm(col(vecCol)).as("__qnorm")))
    val full = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), vecNorm(col(vecCol)).as("__cnorm"))
    val scored = cands.join(full, "neighbor_id")
      .join(q, "query_id")
      .withColumn("cosine",
        vecDot(col("__qv"), col("__cv")) / (col("__qnorm") * col("__cnorm")))
    topKPerQuery(scored, k, "neighbor_id")
  }

  /** The full deployment-shaped retrieval stack as ONE operator —
    * prune → int8 rank → exact re-rank (FAISS `IVFx,SQ8` + refine,
    * Johnson et al. 2017, arXiv:1702.08734): stage 1 is
    * [[searchIvfIndex]] over an [[IvfCodes.Sq8]] index at `path`
    * (static partition pruning reads only the `nprobe/nlist` probed
    * cells' files, and each row read is the 4×-smaller int8 codes),
    * keeping `kCandidates` per query by the exact integer code dot
    * (any code kind works: stage 1 ranks by the index's own score);
    * stage 2 is [[refineExact]] — full
    * precision touches only |queries|·k′ rows via one hash join, never
    * the corpus. vs [[twoStageKnn]] (flat SQ8 stage 1) the candidate
    * scan drops from all bytes of the code store to
    * `nprobe/nlist` of them — the two prunings multiply.
    * At `nprobe = nlist` and `kCandidates = |corpus|` the output IS
    * [[knnBruteForce]] row for row (spec-asserted: both stages
    * degrade to exhaustive). */
  def twoStageKnnIvf(spark: SparkSession, path: String, corpus: DataFrame, queries: DataFrame,
                     kCandidates: Int = 40, k: Int = 10, nprobe: Int = 3,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(kCandidates >= k,
      s"kCandidates ($kCandidates) must be >= k ($k) — the refine " +
        "stage can only shrink the candidate list")
    val cands = searchIvfIndex(spark, path, queries,
        k = kCandidates, nprobe = nprobe, idCol = idCol, vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"))
    refineExact(cands, corpus, queries, k, idCol, vecCol)
  }

  // ------------------------------------------------- product quantization

  /** Static PQ codebook (the q48 "static" discipline that makes the
    * operator oracle-checkable): the codebook for subspace j is the
    * j-th quantized subvector of the `ksub` SMALLEST-id corpus rows —
    * a pure function of the data, no training iterations, which the
    * DuckDB twin recomputes from the same rows. Returned flat as
    * `(j·ksub + c)·ds + i` for [[graft.functions.PqUtil]]. Real
    * deployments train per-subspace k-means instead (the
    * [[trainCentroids]] analogue); the ADC machinery is identical
    * either way, and THAT is what q206 gates. Driver-side collect is
    * ksub rows — config-sized, the frozen-centroid contract. */
  def pqStaticCodebook(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Array[Int] = {
    val rows = corpus
      .select(col(idCol), col(vecCol), vecNorm(col(vecCol)).as("__n"))
      .select(col(idCol), quantize(col(vecCol), col("__n")).as("__q"))
      .orderBy(col(idCol)).limit(ksub)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("__q").map(_.toInt).toArray)
    require(rows.length == ksub, s"corpus has fewer than $ksub rows")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val ds = dim / m
    val cb = new Array[Int](m * ksub * ds)
    for (j <- 0 until m; c <- 0 until ksub; i <- 0 until ds)
      cb((j * ksub + c) * ds + i) = rows(c)(j * ds + i)
    cb
  }

  /** PQ-ADC ANN top-k (Jégou et al. 2011) — the third compression
    * rung after SQ8 (4×) and IVF (partition pruning): corpus vectors
    * become `m` codebook indices (64-dim float32 → 8 bytes at the
    * defaults: 32× smaller), each query precomputes one m·ksub
    * lookup table, and scoring a candidate is m ARRAY LOOKUPS instead
    * of a d-element dot — the asymmetric distance computation that
    * makes billion-scale scans bandwidth-feasible. Runs over the
    * SQ8-quantized domain so every distance is an exact BIGINT
    * (see [[graft.functions.PqUtil]]): ranking is integer-
    * deterministic, ties break to the lower id, and the oracle check
    * is exact with no epsilon — the knnQuantized discipline.
    *
    * Scale shape: encode is scan-side (vectors never shuffle; only
    * m-int code rows leave), the query LUT frame is broadcast, and
    * the ranking window partitions by query. Being a DISTANCE
    * estimate, rank ascends. Compose with the IVF cell layout for
    * partition pruning on top ([[writeIvfIndex]] with [[IvfCodes.Pq]]);
    * re-rank survivors with exact cosine at k' ≫ k in a two-stage
    * deployment. */
  def knnPq(corpus: DataFrame, queries: DataFrame, k: Int = 10,
            m: Int = 8, ksub: Int = 16,
            codebook: Option[Array[Int]] = None,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = codebook.getOrElse(pqStaticCodebook(corpus, m, ksub, idCol, vecCol))
    require(cb.length % (m * ksub) == 0, "codebook shape mismatch")
    val ds = cb.length / (m * ksub)
    val codes = sq8Rows(corpus, idCol, vecCol, idCol, "__q")
      .select(col(idCol), pqEncode(col("__q"), cb, m, ksub, ds).as("__codes"))
    val luts = broadcast(sq8Rows(queries, idCol, vecCol, "query_id", "__q")
      .select(col("query_id"), pqLut(col("__q"), cb, m, ksub, ds).as("__lut")))
    val scored = codes.crossJoin(luts)
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("score", pqScore(col("__lut"), col("__codes"), ksub))
    topKPerQuery(scored, k, idCol, "score", ascending = true)
  }

  /** Index-quality evaluation as a first-class operator: per-query
    * recall@k of an approximate top-k result against the exact one —
    * the number every ANN deployment watches when tuning
    * nlist/nprobe/bits/bands. Both inputs are (query_id, neighbor_id,
    * ...) top-k frames (e.g. [[knnLsh]] vs [[knnBruteForce]]). Hits
    * are integers and recall is hits/k — one final division, so the
    * whole evaluation is oracle-exact. Queries with zero hits
    * surface with recall 0, not a dropped row. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val hit = approx.select(col("query_id"), col("neighbor_id"),
      lit(1L).as("__hit"))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(hit, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .select(col("query_id"), col("hits"),
        (col("hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Deterministic query sample for recall evals at scale — the
    * contract that makes [[recallAtK]]'s EXACT brute-force
    * denominator affordable at 100 TB: the eval scales by sampling
    * QUERIES, never the corpus. Per-query recall is self-contained
    * (its denominator is that query's own exact top-k over the FULL
    * corpus), so a query sample is an unbiased estimator of mean
    * recall — whereas sampling the corpus silently redefines the
    * ground truth and inflates recall. Selection is content-free and
    * replayable on any engine: keep ids with
    * pmod(xxhash64(id), 1000) < permille — no RNG, stable across
    * runs, partitionings, and re-executions (the E223 determinism
    * rule), and independent of insertion order so the same sample is
    * reproducible against a regrown corpus. The registry's fixture
    * evals (q95/q332) keep exhaustive query sets — at fixture scale
    * exhaustive IS the sample; this is the documented scale path
    * their E-rows point to. */
  def sampleQueries(queries: DataFrame, permille: Long,
                    idCol: String = "vec_id"): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1, 1000], got $permille")
    queries.filter(pmod(xxhash64(col(idCol)), lit(1000L)) < permille)
  }

  /** Matryoshka truncation-recall curve — the dimension-budget eval
    * for prefix-truncatable embeddings (Kusupati et al. 2022,
    * arXiv:2205.13147): for each dim in a stated ladder, run the
    * SQ8 top-k over the RE-NORMALIZED d-prefix of every vector and
    * measure recall against the full-dimension top-k. The curve says
    * how many dims the ANN tier can drop before recall pays — the
    * knob that multiplies with IVF pruning and PQ codes (E198) at
    * 100 TB, since candidate bytes scale linearly in d.
    *
    * Fully integer-deterministic (the [[knnQuantized]] contract —
    * integer code dots, id tie-breaks), so unlike every float ANN
    * eval the whole curve is exactly oracle-checkable. Renormalizing
    * per prefix is the matryoshka protocol (a truncated unit vector
    * isn't unit). Diagnostics shape: each rung is a brute-force pass
    * (run on a sample at scale, or swap in the IVF path per rung —
    * the recall@k join is rung-agnostic). */
  def truncationRecallCurve(corpus: DataFrame, queries: DataFrame,
                            dims: Seq[Int], k: Int = 10,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val exact = knnQuantized(corpus, queries, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    dims.map { d =>
      val tc = corpus.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val tq = queries.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val approx = knnQuantized(tc, tq, k, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__hit"), lit(0L))).as("hits"))
        .select(lit(d).as("dim"), col("n_truth"), col("hits"),
          when(col("n_truth") > 0, expr("(hits * 1000) div n_truth"))
            .as("recall_permille"))
    }.reduce(_.unionByName(_))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest centroid, then
    * inside each cluster drop every document that has a LOWER-id
    * near-duplicate (exact cosine ≥ `threshold`) — keep-first-by-id,
    * the deterministic form of the paper's keep-one-per-dup-group.
    * Returns every row with its cluster and a `kept` verdict, so the
    * same output drives both the filter and the audit.
    *
    * Pairwise work is Σ|cell|² over clusters, never n² — that bound is
    * the whole point of the clustering step, so `centroids.length`
    * must scale with the corpus (the paper uses ~50k clusters for
    * 100M+ docs; cells of ~10³-10⁴ keep the per-cell self-join
    * trivially in-memory per task). Assignment is a pure literal
    * projection (zero shuffle — see [[nearestCell]]); the only
    * exchanges are the equi-join on `__cell` and the final dropped-id
    * anti-lookup, both on the compact (id, vec) projection. With
    * trained centroids pass [[trainCentroids]]'s output; with fixed
    * centroids the whole operator is SQL-expressible and
    * oracle-checked (q88). */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    centroids: Array[Array[Float]],
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assigned = corpus.select(col(idCol), col(vecCol),
        vecNorm(col(vecCol)).as("__norm"))
      .withColumn("__cell", nearestCell(col(vecCol), col("__norm"), centroids))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.__cell") === col("b.__cell") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(vecDot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
        (col("a.__norm") * col("b.__norm")) >= threshold)
      .select(col(s"b.$idCol").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("__cell").as("cell"),
        col("__dropped").isNull.as("kept"))
  }

  /** Embedding hygiene audit — the vector-column health check an
    * index build runs FIRST (a zero vector poisons cosine with
    * NaN/div-0; a non-unit vector silently reweights every dot
    * product; a dimension mismatch breaks the kernel): per vector,
    * dimension, zero-component count, the norm (through the SAME
    * native dot expression the search paths use — the audit measures
    * what the index will see), and an `is_unit` flag at
    * `tolMicro` micro-units of 1.0. Pure scan-side projection —
    * vectors never shuffle; the only lambda (the zero count) reads
    * an aliased column, not a recomputed subtree. */
  def embeddingHygiene(emb: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       tolMicro: Long = 1000L): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"))
      .select(col(idCol),
        size(col("__v")).cast("long").as("dim"),
        size(filter(col("__v"), x => x === lit(0.0f))).cast("long")
          .as("n_zero"),
        vecNorm(col("__v")).as("norm"))
      .withColumn("is_unit",
        abs(col("norm") - lit(1.0)) * 1e6 <= lit(tolMicro.toDouble))

  /** Per-DIMENSION distribution audit — the transposed complement to
    * [[embeddingHygiene]]'s per-vector check: a dead dimension
    * (always 0), a collapsed one (min = max), or a runaway one
    * (|max| ≫ siblings) silently degrades every distance in the
    * index, and only the per-dimension view shows it. Per dim:
    * count, zero count, exact float min/max (float comparisons are
    * exact — no arithmetic), and the mean in micro-units via the
    * round-then-sum discipline (each component rounds ONCE to e6 in
    * BIGINT, the sum is order-free — a raw double sum would be
    * partitioning-dependent).
    *
    * Shape: one posexplode (components never shuffle as vectors —
    * only (dim, value) pairs keyed by dim) + one map-side-combinable
    * aggregate; output = the dimensionality. */
  def dimensionAudit(emb: DataFrame,
                     vecCol: String = "embedding"): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col("dim").cast("long").as("dim"),
        col("__x").cast("double").as("__x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__x") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min(col("__x")).as("min_val"),
        max(col("__x")).as("max_val"),
        sum(expr("CAST(round(__x * 1000000) AS BIGINT)")).as("__s6"))
      .withColumn("mean_e6", expr("__s6 div n"))
      .drop("__s6")
}
