package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (exact, O(Q·N)); scale path:
  * random-hyperplane LSH bucketing (approximate, O(Q·bucket)).
  */
object Similarity {

  /** Dot product of two double arrays via the native codegen
    * expression `graft.functions.DotProduct` (registered as `dot_d`
    * by GraftExtensions): the same sequential left-fold accumulation
    * as the zip_with+aggregate form — bit-identical results, all
    * cosine oracles unchanged — but fused into WholeStageCodegen
    * instead of interpreted lambda evaluation, which is the dominant
    * CPU term of every pairwise-scoring operator.
    */
  def dot(x: Column, y: Column): Column = call_function("dot_d", x, y)

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))

  /** Cosine from a precomputed per-vector norm: `dot/na/nb` is
    * bit-identical to [[cosine]]'s `dot/√(a·a)/√(b·b)` (same division
    * order) but the pair join pays ONE array traversal instead of
    * three — precompute norms once per vector, not once per pair.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / na / nb

  /** Project to (vec_id, v, norm). `v` keeps the source's FLOAT
    * elements: dot_d/dist2_d widen per element (exact), so all math
    * is bit-identical to casting the array to double up front — but
    * every pair-join shuffle moves 4-byte elements instead of 8,
    * halving the payload of the heaviest ANN stages. Spread first:
    * the downstream pairwise scoring multiplies work per row, so a
    * single-row-group scan must not pin it all on one task.
    */
  private[ops] def withNorm(embeddings: DataFrame): DataFrame =
    Spread(embeddings).select(col("vec_id"), col("embedding").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Exact top-k neighbors for each query vector (vec_id < nQueries):
    * broadcast the queries, score every corpus vector, window top-k.
    * At 100 TB the corpus side stays partitioned; only Q rows move.
    */
  def knnBrute(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("qv"), col("v"), col("qn"), col("norm")).as("cos"))
    topKByCosine(scored, k)
  }

  /** The shared top-k tail of every cosine kNN family: per-query
    * rank by (cos DESC, neighbor_id), keep `k`, round to 4 — ONE
    * definition so the brute, IVF and persisted-index paths cannot
    * drift in tie order or rounding (their oracle contracts all
    * assume this exact tail). Input: (query_id, neighbor_id, cos).
    */
  private[ops] def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The fitted coarse quantizer: the nCells × dim centroid table —
    * the k·d driver-side model state every IVF family plans from
    * (probe enumeration broadcasts it, cell assignment embeds it as a
    * plan literal). Replaces the round-1..14 MLlib `KMeansModel` (see
    * [[quantizerFor]] for why).
    */
  final case class Coarse(centroids: Array[Array[Double]]) {
    private[ops] lazy val flat: IndexedSeq[Double] =
      centroids.flatten.toIndexedSeq
  }

  /** The vector projected to the unit sphere — THE canonical
    * expression every IVF-geometry site shares (quantizer training,
    * corpus assignment, probe ranking), so the three see bit-identical
    * doubles. SPHERICAL cells are the point: the retrieval metric of
    * this whole family is cosine, and on unit vectors ‖û−ĉ‖² =
    * 2−2·cos(u,c) — Euclidean-nearest cells ARE the cosine-nearest
    * regions. Training/assigning on RAW vectors (rounds 1–14, via
    * MLlib and its replacement alike) lets a vector's NORM pull it
    * into a cell far from its cosine neighborhood — a no-op on the
    * pre-normalized fixture corpora (RecallCheck measured identical
    * covering either way), but real insurance for any production
    * corpus whose embeddings are NOT unit-norm, where Euclidean cells
    * over raw vectors cluster by magnitude and partial-probe recall
    * for a cosine metric degrades arbitrarily. A zero vector stays
    * raw (no cosine neighborhood to align with; assignment still
    * total).
    */
  private[ops] def unitOf(v: Column): Column = call_function("unit_d", v)

  /** The interpreted-HOF reference implementation of [[unitOf]] —
    * kept solely as the spec's bit-equality oracle for `unit_d` (the
    * [[Pq.codesOfHof]] convention). The native expression replaced it
    * on the hot paths in r20: the HOF `transform` lambdas are
    * interpreted (no codegen), and the corpus cell assignment plus
    * the probe-derivation normalize evaluate this once per row.
    */
  private[graft] def unitOfHof(v: Column): Column = {
    val n = sqrt(dot(v, v))
    when(n === 0.0d, transform(v, x => x.cast("double")))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** Cell assignment as ONE codegen'd per-row argmin: `pq_encode` at
    * m = 1 over the flat centroid literal — no shuffle, no window, no
    * ml-vector conversion; input on the unit sphere ([[unitOf]]).
    * Bit-compatible with the probe ranking ([[nearestCellsFrom]]'s
    * `dist2_d` over the same [[unitOf]]): both accumulate (xᵢ−yᵢ)² in
    * the same sequential order and break distance ties to the LOWER
    * cell (strict `<` first-min ≡ the window's (d2, cell) order), so
    * a vector's assigned cell is exactly its rk=1 probe cell.
    *
    * The coalesce makes the column NON-NULLABLE (r20 opt): every IVF
    * family joins on `cell`, and an inner equi-join on a nullable
    * computed key makes InferFiltersFromConstraints push an
    * `IsNotNull(cell)` Filter BELOW the Project that computes it —
    * Filter and Project are separate operators with no cross-operator
    * subexpression reuse, so the whole unitOf-normalize + pq_encode
    * argmin chain (the most expensive per-row expression of the
    * family) was evaluated TWICE per corpus row (measured in the
    * x_knn_pq_ivf_check plan: the pushed `isnotnull(element_at(
    * pq_encode(...)))` duplicated the full encode). A null cell can
    * only arise from a corpus row whose dimension disagrees with the
    * fitted centroids (pq_encode's geometry check); such a row never
    * matched any join anyway — null keys don't equi-join — and the
    * −1 sentinel matches nothing either (real cells are 0-based), so
    * every join result is bit-identical while the encode runs once.
    */
  private[ops] def cellOf(v: Column, q: Coarse): Column =
    coalesce(element_at(call_function("pq_encode",
      unitOf(v), typedLit(q.flat), lit(1)), 1), lit(-1))

  /** Memoized coarse quantizers, keyed by the semantic hash of the
    * training plan + cell count: repeated queries over the same corpus
    * (the bench loop, a notebook session) fit once and reuse the
    * centroids instead of refitting per call. Deterministic — the
    * training sample and seeds are fixed functions of the data, so a
    * cache hit returns the exact centroids a refit would.
    *
    * The key combines the PLAN's semantic hash with a fingerprint of
    * the scanned file listing, so re-pointing the same path at a new
    * file set (overwrite = new part-file names) misses the cache and
    * refits. The one remaining staleness window is an in-place
    * mutation that preserves every file name — call
    * [[clearQuantizerCache]] after doing that in-session. The cache
    * is a [[BoundedMemo]] (32 entries, evict-all on overflow) so
    * long sessions over many corpora can't grow it without bound.
    */
  private val quantizers =
    new BoundedMemo[(Int, Int, Int), Coarse](capacity = 32)

  /** Distributed polish iterations of the coarse fit (the shared
    * [[Pq.lloydIters]] body over the FULL hash-mod training sample,
    * from the driver-side init below).
    */
  private val CoarsePolishIters = 10

  /** Driver-side init sub-sample bound: the 4096 lowest-xxhash64
    * sample vectors — deterministic (hash order, vec_id tiebreak),
    * layout-independent, and bounded model-fit state (4096 × 64
    * doubles ≈ 2 MB — the `clusterCenters` class of driver data, the
    * same move MLlib's own kmeans|| makes for its final weighted
    * init), never a corpus collect.
    */
  private val CoarseInitSample = 4096

  private val CoarseInitRestarts = 8
  private val CoarseInitLloydCap = 100

  /** Cell count past which the init switches from multi-restart
    * kmeans++ to hash-spread Forgy seeds. The kpp search is
    * O(restarts · iters · pts · k · dim) of DRIVER CPU — decisive
    * and cheap at small k, where one k-sample's clumps genuinely
    * change which optimum Lloyd reaches (the covering measurements
    * behind the recall gates), but O(k²)-growing and decreasingly
    * useful at large k: per-cell mass shrinks, init luck averages
    * out across thousands of cells, and the distributed polish over
    * the full training sample does the real shaping. At the √n auto
    * cell counts a 100 TB corpus implies (k in the thousands), the
    * kpp search would be minutes of driver CPU for no measurable
    * covering gain — the 1000× seam this dispatch closes.
    */
  private val KppMaxCells = 64

  /** Deterministic multi-restart kmeans++ + full Lloyd on a
    * driver-resident point set — the INIT of the coarse fit. Why
    * driver-side: at m = 1 the whole quantizer geometry rides one
    * k-centroid solution, and solution quality is what the
    * partial-probe covering gates measure; a single distributed
    * Forgy/maximin start converged to visibly worse optima
    * (RecallCheck, round-15 PROF addendum: covering-curve misses at
    * every probe depth roughly doubled vs best-of-8), while
    * restarts-with-best-SSE lands a kmeans||-class optimum — and on a
    * 4096-point sub-sample the whole search is milliseconds of driver
    * CPU and ZERO extra Spark jobs. Fixed RNG seed + deterministic
    * input order = one exact answer per corpus, whatever the layout.
    */
  private def kppBestOf(pts: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0d; var j = 0
      while (j < dim) { val d = a(j) - b(j); acc += d * d; j += 1 }
      acc
    }
    val rnd = new scala.util.Random(42)
    var bestSse = Double.MaxValue
    var best: Array[Array[Double]] = null
    for (_ <- 1 to CoarseInitRestarts) {
      // kmeans++ seeding: first uniform, then ∝ min-distance²
      val cents = Array.ofDim[Array[Double]](k)
      cents(0) = pts(rnd.nextInt(pts.length))
      val minD = pts.map(p => d2(p, cents(0)))
      var c = 1
      while (c < k) {
        var target = rnd.nextDouble() * minD.sum
        var pick = 0
        while (pick < pts.length - 1 && target > minD(pick)) {
          target -= minD(pick); pick += 1
        }
        cents(c) = pts(pick)
        var j = 0
        while (j < pts.length) {
          val d = d2(pts(j), cents(c)); if (d < minD(j)) minD(j) = d
          j += 1
        }
        c += 1
      }
      // Lloyd to a fixed point (strict-< argmin, ties to lower cell —
      // the pq_encode convention, so the polish continues seamlessly)
      var cur: Array[Array[Double]] = cents.map(_.clone())
      val assign = Array.ofDim[Int](pts.length)
      var moved = true; var it = 0
      while (moved && it < CoarseInitLloydCap) {
        var i = 0
        while (i < pts.length) {
          var bc = 0; var bd = Double.MaxValue; var cc = 0
          while (cc < k) {
            val d = d2(pts(i), cur(cc)); if (d < bd) { bd = d; bc = cc }
            cc += 1
          }
          assign(i) = bc; i += 1
        }
        val sums = Array.fill(k, dim)(0.0d)
        val counts = Array.fill(k)(0L)
        i = 0
        while (i < pts.length) {
          val a = assign(i); counts(a) += 1
          var j = 0
          while (j < dim) { sums(a)(j) += pts(i)(j); j += 1 }
          i += 1
        }
        moved = false
        var cc = 0
        while (cc < k) {
          if (counts(cc) > 0) {
            var j = 0
            while (j < dim) {
              val mu = sums(cc)(j) / counts(cc)
              if (mu != cur(cc)(j)) { cur(cc)(j) = mu; moved = true }
              j += 1
            }
          }
          cc += 1
        }
        it += 1
      }
      var sse = 0.0d
      var i = 0
      while (i < pts.length) { sse += d2(pts(i), cur(assign(i))); i += 1 }
      if (sse < bestSse) { bestSse = sse; best = cur }
    }
    best
  }

  /** Drop all memoized quantizers (e.g. after overwriting a corpus
    * path in the same JVM — see the staleness caveat above).
    */
  def clearQuantizerCache(): Unit = quantizers.clear()

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * vector to one of `nCells` cells; a query scores only the vectors
    * in its `nProbe` nearest cells — O(Q · corpus·nProbe/nCells)
    * instead of O(Q · corpus). The quantizer trains on a deterministic
    * hash-based sample (1/`trainMod` of the corpus — no RNG state, no
    * count-dependent fraction, reproducible under retries); at 100 TB
    * the modulus is raised so the sample stays within a fixed training
    * budget. Cell assignment is one partitioned pass; only the tiny
    * centroid table and the Q query vectors move.
    */
  /** Fit (or reuse) the coarse quantizer for a corpus, fully
    * DETERMINISTIC and layout-independent: driver-side multi-restart
    * kmeans++ on the bounded hash-ordered sub-sample ([[kppBestOf]]),
    * polished by the shared distributed fixed-point Lloyd
    * ([[Pq.lloydIters]] at m = 1, assignment via the same codegen'd
    * argmin the corpus encode uses, exact fixed-point means) over the
    * full hash-mod SPHERICAL sample ([[unitOf]]), memoized per
    * (corpus, nCells).
    *
    * This replaced the MLlib `KMeans` fit in round 15 for the same
    * two measured reasons the PQ codebook dropped it in round 14
    * (`Pq.codebookFit`'s scaladoc): COST — kmeans||'s init passes +
    * per-fit Lloyd steps were ~dozens of scheduler jobs and the
    * single largest cold event left in the driver bench (23–28 s
    * pass-1 on the embedding-ANN legs, ~51 s of the artifact's
    * cold-over-warm excess); this fit is 2 driver collects (dims
    * probe + init sub-sample) + CoarsePolishIters aggregate jobs.
    * STABILITY — kmeans|| samples its init PER PARTITION, so the
    * centroids (and the covering measurement behind
    * `x_knn_ivf_recall`) moved with the data layout; the hash-ordered
    * sub-sample + fixed-seed restarts make them a function of the
    * DATA alone. Covering re-measured by the `RecallCheck` sweep at
    * all three fixture SFs and the gate probes re-pinned to the
    * measurement (nProbe=14 — the covering count is a property of the
    * fitted optimum, re-pinned whenever the fit changes); see
    * PROF_SF1.md round-15 addendum.
    *
    * Canonicalize the training lineage to the two columns the fit
    * reads BEFORE hashing: after optimizer pruning, the (vec_id, v)
    * projection over a given corpus is the same plan whichever family
    * asked — the classify path's `label`, the ANN path's `norm` prune
    * away — so one corpus trains ONE quantizer per cell count instead
    * of one per family.
    */
  private def quantizerFor(e: DataFrame, nCells: Int,
      trainMod: Int): Coarse = {
    val trainSample = e.select(col("vec_id"), col("v"))
      .filter(pmod(xxhash64(col("vec_id")), lit(trainMod)) === 0)
    val key = (trainSample.queryExecution.optimizedPlan.semanticHash(),
      java.util.Arrays.hashCode(e.inputFiles.asInstanceOf[Array[AnyRef]]),
      nCells)
    quantizers.getOrElseUpdate(key) {
      // spherical training: the quantizer lives in the SAME unit-
      // sphere geometry assignment and probing use (see unitOf)
      val persisted = trainSample
        .select(col("vec_id"), unitOf(col("v")).as("v")).persist()
      try {
        // loud geometry check, the codebookFor convention: an empty or
        // mixed-dimension corpus fails HERE with a real error instead
        // of pq_encode nulling every cell assignment downstream
        val dims = persisted.agg(min(size(col("v"))).as("lo"),
          max(size(col("v"))).as("hi")).head()
        require(!dims.isNullAt(0),
          "ivf: cannot train a coarse quantizer on an empty embeddings sample")
        val (dimLo, dim) = (dims.getInt(0), dims.getInt(1))
        require(dimLo == dim,
          s"ivf: corpus has mixed embedding dimensions ($dimLo..$dim)")
        // init: driver-side (one bounded collect job); polish: the
        // shared distributed fixed-point Lloyd over the FULL sample.
        // Small k → multi-restart kmeans++ on the hash-ordered
        // sub-sample (init luck is decisive there — see KppMaxCells);
        // large k → the k lowest-hash sample vectors as spread Forgy
        // seeds (a uniform random k-draw, deterministic), so the
        // driver cost stays O(k·dim) however many cells √n implies
        // loud minimum-sample guard (the Pq.codebookFit convention),
        // on DISTINCT sample points: duplicate seeds — whether from a
        // short sample or from duplicated corpus vectors (common after
        // unitOf collapses colinear embeddings) — starve their cells
        // permanently under the strict-< argmin (ties to the lower
        // cell), so the store would silently commit fewer effective
        // cells than requested, the exact silent-knob class the margin
        // certification refuses. Dedup preserves hash order, so on a
        // duplicate-free corpus (the fixtures, any real embedding set)
        // the init — and therefore the pinned covering gates — is
        // bit-identical to the pre-guard fit.
        def requireCover(got: Int): Unit = require(got >= nCells,
          s"ivf: the training sample has $got distinct vector(s) but " +
            s"nCells=$nCells — duplicate seeds would leave cells " +
            "permanently empty. Lower trainMod (denser sample) or " +
            "lower nCells")
        def sample(limit: Int): Array[Array[Double]] = {
          val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
          persisted
            .select(transform(col("v"), x => x.cast("double")).as("vd"),
              xxhash64(col("vec_id")).as("h"), col("vec_id"))
            .orderBy(col("h"), col("vec_id")).limit(limit)
            .collect()
            .foreach(r => seen += r.getSeq[Double](0))
          seen.iterator.map(_.toArray).toArray
        }
        val init =
          if (nCells <= KppMaxCells) {
            val sub = sample(CoarseInitSample)
            requireCover(sub.length)
            kppBestOf(sub, nCells)
          } else {
            // collect a bounded margin beyond nCells (still O(k·dim)
            // driver state) so duplicates can be dropped and replaced
            // by the next distinct hash-ordered vectors
            val distinct = sample(math.max(CoarseInitSample, 2 * nCells))
            requireCover(distinct.length)
            distinct.take(nCells)
          }
        Coarse(Pq.lloydIters(persisted, 1, nCells, dim,
          Array(init), CoarsePolishIters)(0))
      } finally { persisted.unpersist(); () }
    }
  }

  /** Current quantizer-memo population — profiling/spec hook for the
    * cross-family fit-sharing contract (see [[quantizerFor]]).
    */
  private[ops] def quantizerCacheSize: Int = quantizers.size

  /** Coarse-quantizer services for sibling operators (the IVF×PQ
    * composition in [[Pq]]): the corpus cell assignment and the
    * fitted model for probe enumeration. Uses the same canonical
    * training lineage as every IVF family, so the composition shares
    * the memoized fit instead of training its own.
    */
  private[ops] def cellsFor(embeddings: DataFrame, nCells: Int,
      trainMod: Int): (DataFrame, Coarse) = {
    val e = withNorm(embeddings)
    val model = quantizerFor(e, nCells, trainMod)
    (e.select(col("vec_id"), cellOf(col("v"), model).as("cell")), model)
  }

  /** The full assigned corpus relation (vec_id, v, norm, cell) plus
    * the fitted quantizer — the build-side service for [[IvfIndex]].
    * Same canonical training lineage and `model.transform` assignment
    * as [[knnIvf]], so an index persisted from this relation answers
    * queries bit-identically to the in-session IVF path.
    */
  private[ops] def assignedWithModel(embeddings: DataFrame, nCells: Int,
      trainMod: Int): (DataFrame, Coarse) = {
    val e = withNorm(embeddings)
    val model = quantizerFor(e, nCells, trainMod)
    (e.select(col("vec_id"), col("v"), col("norm"),
      cellOf(col("v"), model).as("cell")), model)
  }

  /** [[nearestCells]] for sibling operators: (vec_id, cell, rk) probe
    * rows for `vecs` = (vec_id, v).
    */
  private[ops] def probeSets(vecs: DataFrame, model: Coarse,
      nProbe: Int): DataFrame = nearestCells(vecs, model, nProbe)

  /** The fitted quantizer's centroid table as a relation:
    * (cell, cvec array<double>) — nCells rows. The k·d model state is
    * the one sanctioned driver-side object in the IVF family; turning
    * it into a DataFrame here is what lets [[IvfIndex]] persist it and
    * re-derive probe sets WITHOUT the in-session model.
    */
  private[ops] def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      model: Coarse): DataFrame = {
    import spark.implicits._
    model.centroids.toSeq.zipWithIndex
      .map { case (c, ix) => (ix, c.toSeq) }
      .toDF("cell", "cvec")
  }

  /** `nProbe` nearest coarse cells per vector, fully distributed: the
    * centroid table (nCells rows) broadcasts, every vector scores all
    * centroids, a per-vector window keeps the closest `nProbe` —
    * no driver collect anywhere (shared by [[knnIvf]],
    * [[embeddingNearDupAnn]] and the persisted-index query path).
    * Returns (vec_id, cell, rk).
    */
  private[ops] def nearestCellsFrom(vecs: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    // codegen'd squared distance — bit-identical fold to the HOF form,
    // so centroid rankings (and the recall-oracle contracts built on
    // them) are unchanged while the per-(vector, centroid) inner loop
    // fuses into the surrounding codegen stage
    val byDist = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cell"))
    // normalize BEFORE the centroid cross join: unitOf is the native
    // `unit_d` projection (a norm pass plus a per-element divide) and
    // the join multiplies every stream row by nCells — projecting it
    // under the join evaluates it once per VECTOR instead of once per
    // (vector × centroid) pair, ~nCells fewer normalizations per
    // vector on the ANN hot path
    vecs.select(col("vec_id"), unitOf(col("v")).as("uv"))
      .crossJoin(broadcast(centroids.select(col("cell"), col("cvec"))))
      .withColumn("d2", call_function("dist2_d", col("uv"), col("cvec")))
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") <= nProbe)
      .select(col("vec_id"), col("cell"), col("rk"))
  }

  private def nearestCells(vecs: DataFrame, model: Coarse,
      nProbe: Int): DataFrame =
    nearestCellsFrom(vecs, centroidsDf(vecs.sparkSession, model), nProbe)

  def knnIvf(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5,
      nCells: Int = 16, nProbe: Int = 4, trainMod: Int = 4): DataFrame = {
    val e = withNorm(embeddings)
    val model = quantizerFor(e, nCells, trainMod)
    val assigned = e.select(col("vec_id"), col("v"), col("norm"),
      cellOf(col("v"), model).as("cell"))

    // nProbe nearest centroids per query vector — the same distributed
    // broadcast-centroids + per-vector window as the full-corpus ANN
    // path; no driver collect (query vectors never leave executors)
    val probeDf = nearestCells(assigned.filter(col("vec_id") < nQueries),
        model, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))

    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
      .join(probeDf, "query_id")
    val scored = assigned
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineWithNorms(col("qv"), col("v"), col("qn"), col("norm")).as("cos"))
    // no dedup needed: each vector lives in exactly one cell, and each
    // (query, cell) probe row is unique
    topKByCosine(scored, k)
  }

  /** The two scale levers composed: IVF cell blocking bounds how many
    * pairs are SCORED ([[knnIvf]]), int8 packing bounds how many BYTES
    * each scored pair carries ([[Quantize.knnQuantized]]) — the
    * production ANN shape at 100 TB, where the candidate join's
    * payload is 64 B of codes per vector instead of 256 B of floats
    * and the per-pair score is one integer `int8_dot`. The corpus
    * never shuffles: the cell join broadcasts the (Q · nProbe)-row
    * packed query set, candidates filter in-partition, and the only
    * corpus-derived exchange is the top-k window's candidate stream
    * (nProbe/nCells of the corpus, in packed bytes).
    *
    * Same output contract and division order as
    * [[Quantize.knnQuantized]], so at nProbe == nCells (every cell
    * probed, every vector a candidate exactly once) the output equals
    * it bit-for-bit — the driver gate `x_knn_quantized_ivf_check`
    * pins the composition against the full quantized-search oracle.
    * At production probe counts it is approximate exactly like
    * [[knnIvf]]: a true neighbor in an unprobed cell is missed.
    */
  def knnQuantizedIvf(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5,
      nCells: Int = 16, nProbe: Int = 4, trainMod: Int = 4): DataFrame = {
    val e = Spread(embeddings).select(col("vec_id"), col("embedding").as("v"))
    val model = quantizerFor(e, nCells, trainMod)
    val packed = e
      .withColumn("cell", cellOf(col("v"), model))
      .withColumn("pack", Quantize.packedOf(col("v"), Quantize.scaleOf(col("v"))))
      .select(col("vec_id"), col("cell"), col("pack"))
      .withColumn("selfq", Quantize.i8dot(col("pack"), col("pack")))
    val probeDf = nearestCells(e.filter(col("vec_id") < nQueries), model, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val q = packed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("pack").as("qpack"),
        col("selfq").as("qself"))
      .join(probeDf, "query_id")
    val scored = packed
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("dot_q", Quantize.i8dot(col("qpack"), col("pack")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dot_q"),
        // query-norm first, then neighbor-norm — the bit-exact
        // contract shared with Quantize.knnQuantized and its oracle
        (col("dot_q").cast("double") / sqrt(col("qself").cast("double"))
          / sqrt(col("selfq").cast("double"))).as("qcos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("dot_q"), round(col("qcos"), 4).as("qcosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Full-corpus embedding near-dup via IVF cell blocking: every
    * vector joins the vectors of its `nProbe` nearest cells, and only
    * those candidates pay the exact cosine — O(n²/nCells·nProbe)
    * instead of all pairs, with `nCells` scaled ~√n at corpus size so
    * the work stays subquadratic. A pair is a candidate when either
    * side's probe set contains the other's primary cell (symmetric by
    * construction of the probe×primary join + pair normalization).
    * Approximate — a pair split across non-probed cells is missed —
    * so verified as rows-only with a recall assertion against the
    * exact bounded baseline [[Dedup.embeddingCosinePairs]]. Every
    * step is a join or window over distributed relations; the
    * centroid table (nCells rows) is the only broadcast.
    */
  /** Coarse-quantizer sizing for the full-corpus path: ~√n cells,
    * clamped to [16, 4096]. With FIXED cells the per-cell population
    * grows linearly and candidate generation degenerates to
    * O(n²/nCells) — measured as a 27× blowup on a 10× corpus — while
    * √n cells keep it at O(n^1.5·nProbe). Fixed nProbe stays sound
    * for NEAR-DUP detection as cells grow because true near-dups
    * quantize into the same or adjacent cells; recall on mid-range
    * similarities (far below the dup threshold) trades off, which is
    * the standard IVF contract.
    */
  private[graft] def autoCells(n: Long): Int =
    math.max(16, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** The ANN candidate stage as a standalone relation: probe-cell ×
    * primary-cell equi-join, deduped to narrow (id, id) pairs. The
    * production query ([[embeddingNearDupAnn]]) fuses scoring into
    * the cell join instead of materializing this; the profile uses
    * this stage to COUNT candidates — the designed O(n^1.5·nProbe)
    * term — independent of scoring and threshold effects.
    *
    * boundA > 0 restricts output to pairs with min(id) < boundA (the
    * recall-gate shape: "verify the bounded region exactly") — see
    * [[cellJoin]] for the split that makes the bound prune the join
    * inputs. At high nProbe (the exhaustive recall setting) this cuts
    * the candidate join output by ~corpus/boundA.
    */
  private[graft] def annCandidates(e: DataFrame, model: Coarse,
      nProbe: Int, boundA: Long): DataFrame = {
    val probes = nearestCells(e, model, nProbe)
    val primary = probes.filter(col("rk") === 1)
      .select(col("vec_id").as("p_id"), col("cell"))
    cellJoin(probes, primary, boundA)
      .filter(col("vec_id") =!= col("p_id"))
      .select(
        least(col("vec_id"), col("p_id")).as("vec_a"),
        greatest(col("vec_id"), col("p_id")).as("vec_b"))
      .distinct()
  }

  /** The ANN probe-side × primary-side cell equi-join, shared by
    * [[annCandidates]] (narrow counting) and [[embeddingNearDupAnn]]
    * (fused scoring) so the profile's candidate count and the
    * production pair stream can never drift apart. `left` carries the
    * probe rows keyed by `vec_id`, `right` the primary-cell rows
    * keyed by `p_id`; any payload columns ride along untouched.
    *
    * boundA > 0 keeps only pairs whose min(id) < boundA. A
    * post-filter on least() can't prune either join input — the full
    * probe×primary product would materialize first — so the bound
    * splits into two side-filtered joins: a qualifying pair has its
    * < boundA member on the probe side (first branch) or, failing
    * that, on the primary side (second branch, whose probe side is
    * restricted to >= boundA so the branches are DISJOINT — no pair
    * is generated, or scored, twice across branches).
    */
  private[ops] def cellJoin(left: DataFrame, right: DataFrame,
      boundA: Long): DataFrame =
    if (boundA > 0)
      left.filter(col("vec_id") < boundA).join(right, "cell")
        .unionAll(left.filter(col("vec_id") >= boundA)
          .join(right.filter(col("p_id") < boundA), "cell"))
    else left.join(right, "cell")

  /** The shared ANN prologue: normed vectors with the ml-vector
    * column, and the (memoized) coarse quantizer. One body for both
    * the query path and the profile's candidate count — the quantizer
    * memo keys on the semanticHash of the training plan, so the two
    * paths must build IDENTICAL plans to share a fit.
    * nCells = 0 → size from the corpus row count (a parquet
    * metadata-only count); explicit values pin the oracle paths.
    */
  private def preparedForAnn(embeddings: DataFrame, nCells: Int,
      trainMod: Int): (DataFrame, Coarse) = {
    val cells = if (nCells > 0) nCells else autoCells(embeddings.count())
    val e = withNorm(embeddings)
    (e, quantizerFor(e, cells, trainMod))
  }

  /** Count the ANN candidate pairs for a corpus at the auto-sized
    * cell count — the scale profile's algorithmic-term probe.
    */
  private[graft] def annCandidateCount(embeddings: DataFrame,
      nProbe: Int = 2, trainMod: Int = 4): Long = {
    val (e, model) = preparedForAnn(embeddings, 0, trainMod)
    annCandidates(e, model, nProbe, 0L).count()
  }

  def embeddingNearDupAnn(embeddings: DataFrame, minCosine: Double = 0.4,
      nCells: Int = 0, nProbe: Int = 2, trainMod: Int = 4,
      boundA: Long = 0): DataFrame = {
    val (e, model) = preparedForAnn(embeddings, nCells, trainMod)
    // Round-7 rework: the cosine is computed INSIDE the cell join,
    // where both vectors are already co-located, so the similarity
    // threshold prunes the O(n^1.5·nProbe) pair stream IN-PARTITION
    // before anything wide ever shuffles. The previous shape
    // (distinct the (id,id) candidates, then join the vectors back)
    // shuffled the full pair stream three times — 139.7M pairs at the
    // 100x profile, ~46 GB of vector payload, spill-bound on one box
    // (PROF_SF1.md); now the only wide shuffles are the probe/primary
    // relations themselves (n·(nProbe+1) rows of float vectors) and
    // the distinct runs over the few threshold-survivors.
    //
    // Bit-exactness: dot(va,vb) is orientation-symmetric (per-index
    // fold, commutative products), but the sequential division
    // dot/na/nb is NOT — so the norm DIVISION ORDER is keyed to the
    // least-id side with conditional SCALARS (the arrays stay plain
    // columns for codegen), reproducing exactly the value the
    // join-back shape produced and the recall oracle recomputes. A
    // pair generated in both orientations yields the same cosine, so
    // the final distinct collapses it.
    // Assign + attach vectors ONCE (r19 opt: the decode-once rule).
    // `probes` feeds the cellJoin's left side and (rk==1-filtered)
    // its right side — and a boundA split doubles each again; with no
    // cross-side common-subexpression reuse every instance re-ran the
    // scan → normalize → centroid-window → vector join subtree (the
    // measured x_dedup_embedding_ann plan: 8 parquet scans, 2 full
    // window passes — plans/r19/x_dedup_embedding_ann_before2.txt).
    // One checkpoint materializes the probe relation; every cellJoin
    // input reads it (disk-backed blocks, n·(nProbe) rows — the same
    // bytes one window pass already shuffled).
    val probes = PlanAudit.checkpointed(nearestCells(e, model, nProbe)
      .join(e.select(col("vec_id"), col("v"), col("norm")), "vec_id"))
    val left = probes.select(col("vec_id"), col("cell"),
      col("v").as("va"), col("norm").as("na"))
    val right = probes.filter(col("rk") === 1)
      .select(col("vec_id").as("p_id"), col("cell"),
        col("v").as("vb"), col("norm").as("nb"))
    val aFirst = col("vec_id") < col("p_id")
    cellJoin(left, right, boundA)
      .filter(col("vec_id") =!= col("p_id"))
      .select(
        least(col("vec_id"), col("p_id")).as("vec_a"),
        greatest(col("vec_id"), col("p_id")).as("vec_b"),
        (dot(col("va"), col("vb"))
          / when(aFirst, col("na")).otherwise(col("nb"))
          / when(aFirst, col("nb")).otherwise(col("na"))).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cosine"))
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** kNN majority-vote label propagation: vectors with
    * `vec_id < labeledMax` carry ground-truth labels (the seed set);
    * every other vector is assigned the majority label of its k
    * nearest labeled neighbors by cosine. This is the auto-labeling
    * step of a training-data pipeline — propagating a hand-labeled
    * seed set's quality/domain/topic labels to the full corpus before
    * filtering or mixing on them.
    *
    * Deterministic: neighbor ranking ties break on neighbor id, vote
    * ties on the smaller label — both reproducible by the SQL oracle.
    *
    * Scale shape: the labeled seed set broadcasts (bounded by
    * `labeledMax` — seed sets are hand-curated, orders of magnitude
    * smaller than the corpus); the corpus side stays partitioned, the
    * vectors are dropped BEFORE the top-k window so the only exchange
    * is the narrow (vec_id, label, cos, n_id) score stream. A seed
    * set too large to broadcast cell-blocks like [[knnIvf]] instead —
    * same quantizer machinery, labeled side assigned to cells,
    * corpus probing its nProbe nearest.
    */
  /** The shared classify prologue: normed labeled corpus, so the
    * exact and IVF paths can never drift on the projection or the
    * norm formula (the same role [[preparedForAnn]] plays for the
    * ANN paths).
    */
  private def labeledCorpus(embeddings: DataFrame): DataFrame =
    Spread(embeddings)
      .select(col("vec_id"), col("embedding").as("v"), col("label"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  def knnClassify(embeddings: DataFrame, k: Int = 5,
      labeledMax: Long = 250): DataFrame = {
    val e = labeledCorpus(embeddings)
    val labeled = e.filter(col("vec_id") < labeledMax)
      .select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("norm").as("nn"), col("label"))
    val scored = e.filter(col("vec_id") >= labeledMax)
      .select(col("vec_id"), col("v"), col("norm"))
      .join(broadcast(labeled))
      .select(col("vec_id"), col("n_id"), col("label"),
        cosineWithNorms(col("v"), col("nv"), col("norm"), col("nn")).as("cos"))
    majorityVote(scored, k)
  }

  /** The shared vote tail of both classify paths: per-vector top-k by
    * (cos desc, neighbor id), then the plurality label with ties to
    * the smaller label. Operates on the narrow (vec_id, n_id, label,
    * cos) score stream — vectors were dropped by the caller.
    */
  private def majorityVote(scored: DataFrame, k: Int): DataFrame = {
    val topk = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val votes = scored.withColumn("rnk", row_number().over(topk))
      .filter(col("rnk") <= k)
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val byVotes = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("pr", row_number().over(byVotes))
      .filter(col("pr") === 1)
      .select(col("vec_id"), col("label").as("label_pred"), col("votes"))
      .orderBy(col("vec_id"))
  }

  /** IVF cell-blocked form of [[knnClassify]] for seed sets too large
    * to broadcast: labeled vectors are assigned to their primary
    * quantizer cell, each unlabeled vector probes its `nProbe` nearest
    * cells, and only same-cell (unlabeled, labeled) pairs are scored —
    * O(corpus · seed·nProbe/nCells) instead of O(corpus · seed).
    *
    * Exchange shape: the corpus payload moves twice — once on
    * `vec_id` joining its probe rows back (the window that ranks
    * cells needs that partitioning anyway, and the join reuses the
    * exchange), once on `cell` into the scoring join, duplicated
    * nProbe times (the standard IVF trade); the seed side moves once
    * on `cell`. Each labeled vector lives in exactly one cell and
    * probe rows are unique, so the score stream has no duplicate
    * pairs and no dedup stage.
    *
    * Approximate at production probe counts — a true neighbor in an
    * unprobed cell degrades the vote, and an unlabeled vector whose
    * probed cells hold NO seeds is emitted with a NULL
    * label_pred/votes rather than silently dropped (a corpus-labeling
    * pipeline must see every document; NULL marks "probe deeper or
    * fall back to exact"). At probe counts covering every seed cell
    * (nProbe == nCells guarantees it), the output equals
    * [[knnClassify]] bit-for-bit.
    */
  def knnClassifyIvf(embeddings: DataFrame, k: Int = 5,
      labeledMax: Long = 250, nCells: Int = 16, nProbe: Int = 4,
      trainMod: Int = 4): DataFrame = {
    val e = labeledCorpus(embeddings)
    val model = quantizerFor(e, nCells, trainMod)
    val labeled = e.filter(col("vec_id") < labeledMax)
      .select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("norm").as("nn"), col("label"),
        cellOf(col("v"), model).as("cell"))
    val unlabeled = e.filter(col("vec_id") >= labeledMax)
      .select(col("vec_id"), col("v"), col("norm"))
    val probed = unlabeled
      .join(nearestCells(e.filter(col("vec_id") >= labeledMax), model, nProbe)
        .select(col("vec_id"), col("cell")), "vec_id")
    val scored = probed.join(labeled, Seq("cell"))
      .select(col("vec_id"), col("n_id"), col("label"),
        cosineWithNorms(col("v"), col("nv"), col("norm"), col("nn")).as("cos"))
    unlabeled.select(col("vec_id"))
      .join(majorityVote(scored, k), Seq("vec_id"), "left")
      .orderBy(col("vec_id"))
  }

  /** Random-hyperplane LSH (sign sketch) ANN: vectors hash to a
    * `nPlanes`-bit bucket by the sign of their dot product with fixed
    * pseudo-random hyperplanes; queries only score their own bucket.
    * Approximate — recall depends on bucket granularity — so verified
    * as rows-only (no value oracle), with recall asserted in tests.
    */
  /** The fixed pseudo-random hyperplanes used by [[knnLsh]]:
    * deterministic pure-function values (no RNG state), which is what
    * lets the DuckDB oracle replicate the FULL algorithm — the planes
    * embed as SQL literals, so bucketing, multi-probe and top-k are
    * recomputable bit-exactly outside Spark.
    */
  private[graft] def lshPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        // the explicit-seed overload returns the exact value the
        // deprecated 1-arg productHash did — the plane values (and the
        // SQL oracle literals generated from them) must never shift
        val h = scala.util.hashing.MurmurHash3.productHash(
          (p, d, 42), scala.util.hashing.MurmurHash3.productSeed)
        (h.toDouble / Int.MaxValue)
      }
    }

  def knnLsh(embeddings: DataFrame, k: Int = 5, nQueries: Long = 5,
      nPlanes: Int = 4, dim: Int = 64, multiProbeBits: Int = 1): DataFrame = {
    val planes = lshPlanes(nPlanes, dim)
    val planesCol = array(planes.map(pl => array(pl.map(lit): _*)): _*)

    val e = withNorm(embeddings)
    // plane·v via the codegen dot (identical sequential left fold —
    // the sign, and with it the bucket, the probe set and the oracle
    // contract, cannot move); only the bucket assembly stays a HOF
    val bucketed = e.withColumn("bucket",
      aggregate(
        zip_with(planesCol, sequence(lit(0), lit(nPlanes - 1)), (plane, ix) =>
          when(call_function("dot_d", plane, col("v")) >= 0,
            pow(lit(2.0d), ix).cast("long")).otherwise(lit(0L))),
        lit(0L), (acc, bit) => acc + bit))

    // multi-probe: each query enumerates every bucket within
    // `multiProbeBits` sign flips of its own (the standard recall
    // lever when a neighbor's hyperplane signs disagree on a bit or
    // two). Enumerating the probe buckets keeps the join an equi-join
    // on `bucket` — a broadcast hash join touching only the probed
    // buckets — where a bit_count(xor) predicate would degenerate to a
    // nested-loop scan of all N corpus rows per query. Probe masks are
    // distinct, so each (query, neighbor) pair matches exactly once.
    val probeMasks = (0 until (1 << nPlanes))
      .filter(m => java.lang.Integer.bitCount(m) <= multiProbeBits)
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"),
        explode(array(probeMasks.map(m =>
          col("bucket").bitwiseXOR(lit(m.toLong))): _*)).as("bucket"))
    val scored = bucketed.select(col("vec_id").as("neighbor_id"),
        col("v"), col("norm"), col("bucket"))
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(col("qv"), col("v"), col("qn"), col("norm")).as("cos"))
    topKByCosine(scored, k)
  }

  /** Semantic decontamination — the vector-space analog of
    * [[Dedup.decontaminate]]: flag corpus vectors whose cosine to ANY
    * benchmark vector reaches `minCosine`. N-gram decontamination
    * misses paraphrase/translation leakage; this is the check that
    * catches it. Per flagged vector: the number of near benchmark
    * vectors, the max cosine (rounded AFTER the max — the per-pair
    * cosines are the same exact expression [[knnBrute]] carries, so
    * the max is deterministic), and the smallest matching benchmark
    * id (a stable example to audit).
    *
    * At 100 TB: the benchmark (a bounded eval set) broadcasts, the
    * corpus stays partitioned, and the aggregation is per corpus
    * vector — one pass, the [[knnBrute]] layout with a threshold
    * instead of a top-k. A benchmark too large to broadcast takes
    * the cell-blocked candidate machinery
    * ([[embeddingNearDupAnn]]'s) instead.
    */
  def embeddingDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      minCosine: Double = 0.4): DataFrame = {
    val c = withNorm(corpus)
    val b = withNorm(benchmark)
      .select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("norm").as("bn"))
    c.join(broadcast(b),
        cosineWithNorms(col("v"), col("bv"), col("norm"), col("bn"))
          >= minCosine)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_near"),
        round(max(cosineWithNorms(col("v"), col("bv"), col("norm"),
          col("bn"))), 4).as("max_cosine"),
        min(col("b_id")).as("nearest_min_id"))
      .orderBy(col("vec_id"))
  }
}
