package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.CacheTracker

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), Spark-first.
  *
  * Baseline: brute-force cosine top-k — one broadcast of the (small) query
  * set, one scan, one top-k per query via window. Scale path: random
  * hyperplane LSH (sign sketch) restricts candidates to matching buckets
  * before exact re-ranking — candidate generation is an equi-join on bucket
  * keys, so the full corpus is never pairwise-compared. All vector math is
  * `zip_with`/`aggregate` higher-order expressions — no UDF serialization on
  * the scan path.
  */
object Similarity {

  import graft.functions.Kernels

  /** Dot product of two array<double> columns — native codegen'd expression
    * ([[graft.functions.Kernels.dotProduct]]): one compiled loop per row, not an
    * interpreted higher-order-function tree.
    */
  def dot(a: Column, b: Column): Column = Kernels.dotProduct(a, b)

  /** Squared Euclidean distance ([[graft.functions.Kernels.dist2]], compiled) —
    * the SMOTE/ADASYN neighbor metric.
    */
  def dist2(a: Column, b: Column): Column = Kernels.dist2(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm
    * ([[graft.functions.Kernels.cosineSim]], single fused pass).
    */
  def cosine(a: Column, b: Column): Column = Kernels.cosineSim(a, b)

  /** Symmetric int8 quantization of an embedding column (array<double> ->
    * array<byte>): floor(x * 127 / maxAbs) — the index-compression format
    * of large embedding stores (4x smaller than float32, 8x than the
    * doubles). Dequantize with maxAbs/127 per vector ([[vecMaxAbs]]);
    * floor (not round) so any SQL engine replays it bit-for-bit.
    */
  def quantizeInt8(v: Column): Column = Kernels.quantizeInt8(v)

  /** Largest |x| of the vector — the quantization scale divisor. */
  def vecMaxAbs(v: Column): Column = Kernels.vecMaxAbs(v)

  /** Sum of the int8-quantized elements — compact parity fingerprint. */
  def quantSumInt8(v: Column): Column = Kernels.quantSumInt8(v)

  /** Brute-force cosine top-k neighbors for every query vector.
    *
    * @param corpus  (idCol, vecCol) table — the big side, scanned once
    * @param queries (idCol, vecCol) table — SMALL; broadcast
    * @return (query_id, neighbor_id, cosine, rank), rank 1..k per query
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    cosineTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__cv"), col("__qv"))), k)
  }

  /** Per-query top-k: rank each `by` partition of `scored` by `order`,
    * keep ranks <= k and project `out`. Catalyst plans the rank filter as
    * a map-side WindowGroupLimit, so the exchange carries at most k rows
    * per query and partition.
    */
  private[similarity] def topK(
      scored: DataFrame, by: String, k: Int, order: Seq[Column], out: String*): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col(by)).orderBy(order: _*)))
      .where(col("rank") <= k)
      .select(out.map(col): _*)

  /** (query_id, neighbor_id, cosine, rank): the k highest cosines per
    * query, ties to the smaller neighbor id.
    */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    topK(scored, "query_id", k, Seq(col("cosine").desc, col("neighbor_id")),
      "query_id", "neighbor_id", "cosine", "rank")

  /** [[cosineTopK]] over the corpus rows `c` that share a `key` with a
    * query probe row of `q` (broadcast): self-matches dropped, and each
    * (query, neighbor) pair scored once however many probes it matched.
    */
  private def probedCosineTopK(c: DataFrame, q: DataFrame, key: String, k: Int): DataFrame =
    cosineTopK(c.join(broadcast(q), Seq(key))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__cv"), col("__qv"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("__cv"), col("__qv"))), k)

  /** Random-hyperplane LSH bucket key: `numBits`-bit sign sketch of the
    * vector against seeded Gaussian-ish hyperplanes. Deterministic given
    * (dim, numBits, seed).
    */
  def hyperplaneBucket(vec: Column, dim: Int, numBits: Int, seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    // row-major (numBits x dim) plane matrix, held as a codegen reference
    // object — all sign bits computed in one compiled pass
    val planes = Seq.fill(numBits * dim)(rng.nextGaussian())
    Kernels.hyperplaneBucket(vec, planes, dim)
  }

  /** Base bucket + the `probes` lowest-|margin| single-bit flips, as an
    * array<long> ([[graft.functions.Kernels.hyperplaneProbes]], compiled).
    * Identical plane generation to [[hyperplaneBucket]] for the same
    * (dim, numBits, seed), so the two key spaces always agree.
    */
  def hyperplaneProbeBuckets(
      vec: Column, dim: Int, numBits: Int, probes: Int, seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    val planes = Seq.fill(numBits * dim)(rng.nextGaussian())
    Kernels.hyperplaneProbes(vec, planes, dim, probes)
  }

  /** LSH-bucketed ANN: exact cosine top-k but only among corpus vectors
    * whose hyperplane bucket matches one of the query's probe buckets.
    *
    * Multi-probe: besides its own bucket, each QUERY probes buckets at
    * Hamming distance 1 from its sketch — the standard recall lever:
    * vectors near a hyperplane land just across it, and flipping that bit
    * recovers them. `maxProbes` controls HOW MANY bits are flipped,
    * QUERY-DIRECTED: the bits with the smallest hyperplane margin
    * |vec . plane| first (a true neighbor most plausibly differs there).
    * `maxProbes < 0` (default) probes the full Hamming-1 ring (all
    * numBits flips); `maxProbes = 0` is the single-bucket variant.
    * Probing expands only the (small, broadcast) query side; the corpus
    * is still scanned once and joined on a single equi-key, so the plan
    * shape and shuffle count are unchanged at any corpus size.
    *
    * Calibration (measured, BENCHNOTES.md "Query-directed multi-probe
    * LSH", 20k vectors / numBits=8): recall@10 climbs 0.31 (maxProbes=0) → 0.55
    * (2) → 0.66 (4) → 0.71 (full ring). `maxProbes = numBits/2` buys
    * ~89% of the full-ring recall gain at ~1/3 of the candidate
    * fan-out — the recommended starting point when tuning away from the
    * full-ring default. (Parameter renamed from `probes` when its
    * meaning changed from "any positive = full ring" to "probe count";
    * the rename makes stale named callers fail to compile rather than
    * silently losing recall.)
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      numBits: Int = 8,
      seed: Long = 42L,
      maxProbes: Int = -1): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      hyperplaneBucket(col(vecCol), dim, numBits, seed).as("__bucket"))
    val nProbe = if (maxProbes < 0) numBits else math.min(maxProbes, numBits)
    val base = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      hyperplaneProbeBuckets(col(vecCol), dim, numBits, nProbe, seed).as("__pb"))
    val q = base
      .select(col("query_id"), col("__qv"), explode(col("__pb")).as("__bucket"))
    probedCosineTopK(c, q, "__bucket", k)
  }

  /** Train the IVF coarse quantizer on a BOUNDED deterministic sample of the
    * corpus: the `cap` rows with the smallest seeded xxhash64 of their id
    * (TakeOrdered — per-partition top-k then a tiny merge, never a full
    * sort). Centroid quality needs on the order of 100-1000 points per list,
    * not the corpus — at 100 TB, training on every vector would be a
    * multi-pass KMeans job paid per query (round-1 q37 spent 20% of the
    * whole bench re-training). Returns row-major `nLists x dim` centroids
    * to pass to [[ivfTopK]] and reuse across queries.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int = 16,
      seed: Long = 42L,
      sampleCap: Int = 0,
      maxIter: Int = 10,
      driverFlopsPerIter: Long = 10000000000L): Seq[Double] = {
    val cap = trainingCap(nLists, sampleCap)
    // adaptive routing (the Components pattern): per-iteration driver work
    // is cap x nLists x dim flops — beyond the threshold (~seconds of
    // driver arithmetic even on the parallel Lloyd) the train moves to the
    // cluster, where spark.ml KMeans amortizes its scheduler round-trips
    // against real work. cellsForOccupancy at corpus scale is what gets
    // here: ~100k cells over 50M docs is 4e13 flops/iter, driver-impossible
    if (cap.toLong * nLists * dim > driverFlopsPerIter)
      return trainIvfCentroidsDistributed(corpus, idCol, vecCol, dim, nLists, seed, cap, maxIter)
    // ONE distributed job collects the sample; Lloyd's on <= cap points is
    // driver-trivial (cap * nLists * dim flops per iteration) — spark.ml
    // KMeans here would cost a dozen scheduler round-trips to cluster a
    // few thousand rows
    kmeans(hashSample(corpus, idCol, vecCol, seed, cap, "IVF centroids"),
      nLists, dim, seed, maxIter)
  }

  /** Driver-local twin of [[trainIvfCentroids]]'s small-quantizer path
    * for a sample that is ALREADY resident on the driver (the
    * [[graft.similarity.Pq]] per-subspace trainers slice one collected
    * corpus sample m ways): replays the exact DataFrame-path pipeline —
    * seeded xxhash64 order on the id (the same two-child fold Catalyst
    * evaluates: id under seed 42, then the seed literal under that
    * result), `cap` smallest, multi-restart seeded Lloyd, zero-pad — so
    * the returned centroids are BIT-IDENTICAL to handing the pairs to
    * [[trainIvfCentroids]] via a local DataFrame (spec-pinned), without
    * the per-subspace Spark job that a 4k-row LocalRelation sort+collect
    * costs (guide §1.2: the round-trips were pure scheduler overhead —
    * 8 jobs per PQ training, ~0.1 s each, on data already in driver
    * arrays).
    */
  def trainIvfCentroidsLocal(
      sample: IndexedSeq[(Long, Array[Double])],
      dim: Int,
      nLists: Int = 16,
      seed: Long = 42L,
      sampleCap: Int = 0,
      maxIter: Int = 10): Seq[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    require(sample.nonEmpty, "cannot train IVF centroids on an empty sample")
    // xxhash64(id, lit(seed)) as Catalyst folds it: 42 is the function's
    // initial seed, each child re-seeds with the running hash
    def h(id: Long): Long = XXH64.hashLong(seed, XXH64.hashLong(id, 42L))
    val picked = sample.sortBy(p => h(p._1)).take(trainingCap(nLists, sampleCap)).map(_._2).toArray
    kmeans(picked, nLists, dim, seed, maxIter)
  }

  /** Cluster-side trainer for cell counts the driver can't afford: a
    * seeded HASH-FILTER sample (map-side predicate — no global sort, no
    * driver collect of vectors) feeds spark.ml KMeans (k-means||,
    * distributed Lloyd). Same contract as the driver path: row-major
    * `nLists x dim` centroids, vectors padded/truncated to `dim`.
    *
    * Not bit-identical to the driver Lloyd (different init, cluster-order
    * float reduction) — callers that pin centroid-literal oracles capture
    * whatever this returns per run, exactly like the driver path's
    * captured constants. Within a run the result is computed once and
    * reused, which is all cell assignment needs.
    */
  def trainIvfCentroidsDistributed(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int,
      seed: Long,
      cap: Int,
      maxIter: Int): Seq[Double] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = corpus.count()
    require(n > 0, "cannot train IVF centroids on an empty corpus")
    // keep ~cap rows: seeded xxhash64 rate filter; the sample size is
    // approximate (binomial around cap), which k-means does not care
    // about — what matters is that it's deterministic, seeded, and never
    // materializes on the driver. Modulus 2^40, NOT 1e6: with a coarse
    // modulus the floor-at-1 rate quantization overshoots cap without
    // bound once n >> modulus x cap (n = 1e13, cap = 25k: a 1e6 modulus
    // floors to keep-1-per-million = a 1e7-row sample, 400x the budget)
    val mod = 1L << 40
    val keep = math.min(mod, math.max(1L, math.round(cap.toDouble / n * mod)))
    val feats = corpus
      .where(pmod(xxhash64(col(idCol), lit(seed)), lit(mod)) < lit(keep))
      .select(array_to_vector(
        slice(concat(col(vecCol).cast("array<double>"),
          array_repeat(lit(0.0), lit(dim))), 1, dim)).as("features"))
      .transform(CacheTracker.persistTracked)
    try {
      val m = feats.count()
      require(m > 0, "hash-filter sample selected no rows")
      val k = math.min(nLists.toLong, m).toInt
      // init mode: k-means|| runs a SINGLE-THREADED local k-means++ over
      // its ~O(k) collected candidates on the driver — O(k^2 * dim) with
      // Lloyd refinement, which at coarse-quantizer scale (k in the
      // thousands; measured: k=3907/dim=64 at the sf100 decade point sat
      // minutes on one core) dwarfs the distributed iterations it is
      // supposed to help. Random init is the standard coarse-quantizer
      // practice (faiss trains IVF lists exactly this way): cell QUALITY
      // converges under the same Lloyd iterations, and every caller's
      // oracle captures whatever centroids the run produced.
      val model = new KMeans()
        .setK(k).setSeed(seed).setMaxIter(maxIter).setFeaturesCol("features")
        .setInitMode(if (k > 1024) "random" else "k-means||")
        .fit(feats)
      model.clusterCenters.flatMap(_.toArray).toSeq.padTo(nLists * dim, 0.0)
    } finally CacheTracker.free(feats)
  }

  // ---- the driver-side training blocks shared with Pq and Opq ----

  /** Default training-sample cap of a `k`-centroid quantizer, unless
    * `sampleCap` > 0 sets one: 256 per cell for small quantizers
    * (unchanged published layouts), but bounded at max(25k, 64 per cell)
    * once cells scale with the corpus (cellsForOccupancy) — driver Lloyd's
    * AND k-means++ seeding are O(sample x k x dim), so an uncapped
    * 256/cell sample at hundreds of cells turns training into tens of
    * seconds of single-threaded driver CPU (measured on the sf10 decade);
    * 64-100 points per cell is the quality floor.
    */
  private[similarity] def trainingCap(k: Int, sampleCap: Int = 0): Int =
    if (sampleCap > 0) sampleCap else math.min(256 * k, math.max(25000, 64 * k))

  /** The bounded training sample: the vectors of the `cap` rows with the
    * smallest seeded xxhash64 of their id (TakeOrdered — per-partition
    * top-k then a tiny merge, never a full sort), collected in hash order.
    * `what` names the model for the empty-corpus error.
    */
  private[similarity] def hashSample(corpus: DataFrame, idCol: String, vecCol: String,
      seed: Long, cap: Int, what: String): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol).as("__v"), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(cap)
      .select(col("__v"))
      .collect()
      .map(r => toDoubles(r.getSeq[Any](0)))
    require(sample.nonEmpty, s"cannot train $what on an empty corpus")
    sample
  }

  /** A collected numeric array as doubles. */
  private[similarity] def toDoubles(s: Seq[Any]): Array[Double] = s.toArray.map {
    case d: Double => d
    case f: Float => f.toDouble
    case n: Number => n.doubleValue()
  }

  /** (index, squared distance) of the strict-< ascending-index nearest of
    * the row-major `dim`-wide centroids `cents` to v(off ..), over
    * min(dim, v.length - off) coordinates; index -1 when no distance is
    * below Double.MaxValue. The driver twin of the compiled
    * [[graft.functions.TextAlgo.nearestCentroids]] argmin: the same
    * index-ordered accumulation, so a vector's cell here equals the
    * corpus scan's cell for it bit-for-bit.
    */
  private[similarity] def nearest(
      v: Array[Double], cents: Array[Double], dim: Int, off: Int = 0): (Int, Double) = {
    val n = math.min(dim, v.length - off)
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length / dim) {
      var s = 0.0
      var i = 0
      val co = c * dim
      while (i < n) { val d = v(off + i) - cents(co + i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    (best, bestD)
  }

  // Per-point loops run on the common ForkJoin pool: the O(n x k x dim)
  // phases (seeding distance refresh, Lloyd assignment) are
  // embarrassingly parallel over points, each writing only its own slot —
  // results are BIT-IDENTICAL to the sequential loop because per-point
  // arithmetic is unchanged and every order-sensitive accumulation
  // (minD.sum, the centroid sums) stays sequential. Matters once
  // cellsForOccupancy scales k into the hundreds: the single-threaded
  // train was ~7 s of the q71 sf10 wall.
  private def parForeach(bound: Int)(f: Int => Unit): Unit =
    java.util.stream.IntStream.range(0, bound).parallel().forEach(i => f(i))

  /** One Lloyd pass over `pts`, in place on the row-major `dim`-wide
    * centroids `cents`: assign each point its [[nearest]] centroid (cell 0
    * when none is nearer than Double.MaxValue), then move every centroid
    * that got points to their mean over its first `dim` coordinates,
    * summed in point order; an empty cell keeps its centroid. Returns
    * whether any point changed cell against `assign`, which it updates.
    */
  private[similarity] def lloydStep(
      pts: Array[Array[Double]], cents: Array[Double], dim: Int, assign: Array[Int]): Boolean = {
    val moved = new java.util.concurrent.atomic.AtomicBoolean(false)
    parForeach(pts.length) { i =>
      val best = math.max(0, nearest(pts(i), cents, dim)._1)
      if (assign(i) != best) { assign(i) = best; moved.set(true) }
    }
    val k = cents.length / dim
    val sums = new Array[Double](k * dim)
    val cnts = new Array[Long](k)
    var i = 0
    while (i < pts.length) {
      val c = assign(i); cnts(c) += 1
      var j = 0
      while (j < math.min(dim, pts(i).length)) { sums(c * dim + j) += pts(i)(j); j += 1 }
      i += 1
    }
    var c = 0
    while (c < k) {
      if (cnts(c) > 0) {
        var j = 0
        while (j < dim) { cents(c * dim + j) = sums(c * dim + j) / cnts(c); j += 1 }
      }
      c += 1
    }
    moved.get()
  }

  /** Driver k-means of a collected sample, zero-padded to row-major
    * `nLists x dim`. Multi-restart: k-means++ is init-sensitive; 5 seeded
    * restarts keeping the lowest within-cluster sum of squares — still
    * microseconds of driver arithmetic at this sample size. (Euclidean
    * cells, NOT spherical: these corpora cluster by position, and
    * directional cells degrade toward sign-sketch LSH behavior — measured
    * on the synthetic embeddings: euclidean 9/15 vs spherical 5/15 at
    * nLists=16/nProbe=4.)
    */
  private def kmeans(
      pts: Array[Array[Double]], nLists: Int, dim: Int, seed: Long, maxIter: Int): Seq[Double] = {
    val k = math.min(nLists, pts.length)
    (0 until 5).map { r =>
      val c = lloyd(pts, k, dim, seed + r * 7919, maxIter)
      (pts.map(nearest(_, c, dim)._2).sum, c)
    }.minBy(_._1)._2.toSeq.padTo(nLists * dim, 0.0)
  }

  /** Seeded Lloyd's k-means with k-means++ init, on the driver, until no
    * point moves (counted from an all-zero assignment) or `maxIter`
    * passes. Returns row-major k x dim centroids.
    */
  private def lloyd(
      pts: Array[Array[Double]], k: Int, dim: Int, seed: Long, maxIter: Int): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val n = pts.length
    // k-means++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(pts(rng.nextInt(n)))
    val minD = Array.fill(n)(Double.MaxValue)
    while (centers.length < k) {
      val last = centers.last
      parForeach(n) { i => minD(i) = math.min(minD(i), nearest(pts(i), last, dim)._2) }
      val totalW = minD.sum
      val pick =
        if (totalW <= 0) rng.nextInt(n)
        else {
          val u = rng.nextDouble() * totalW
          var acc = 0.0; var j = 0
          while (j < n - 1 && acc + minD(j) < u) { acc += minD(j); j += 1 }
          j
        }
      centers += pts(pick)
    }
    val cents = centers.toArray.flatMap(_.padTo(dim, 0.0).take(dim))
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) { moved = lloydStep(pts, cents, dim, assign); iter += 1 }
    cents
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nLists` cells; each query probes its `nProbe` nearest
    * centroids and re-ranks exactly (cosine) within those cells only.
    *
    * Plan shape: centroids train once (spark.ml KMeans — distributed,
    * seeded) and ship as a codegen constant; corpus assignment is a
    * compiled argmin per row ([[graft.functions.Kernels.nearestCentroids]]);
    * candidate generation is ONE equi-join of the corpus's cell id against
    * the exploded (query, probe-cell) pairs — query side is broadcast, the
    * corpus is scanned once and never pairwise-compared. Higher recall per
    * candidate than sign-sketch LSH when the corpus is clustered; `nProbe`
    * trades recall for cost.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nLists: Int = 16,
      nProbe: Int = 2,
      seed: Long = 42L,
      centroids: Option[Seq[Double]] = None,
      corpusAssign: Int = 1): DataFrame = {

    // coarse quantizer: caller-provided (train once, reuse per query) or
    // trained here on the bounded sample
    val cent: Seq[Double] =
      centroids.getOrElse(trainIvfCentroids(corpus, idCol, vecCol, dim, nLists, seed))

    def cellsOf(vec: Column, probes: Int): Column =
      Kernels.nearestCentroids(vec, cent, dim, probes)

    // multi-assignment (corpusAssign > 1) stores each corpus vector in its
    // several nearest cells: index grows by that factor, recall at a fixed
    // probe count rises sharply for boundary vectors — the standard IVF
    // recall lever when probing more is costlier than indexing more
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      explode(cellsOf(col(vecCol), math.max(1, corpusAssign))).as("__cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      explode(cellsOf(col(vecCol), nProbe)).as("__cell"))
    probedCosineTopK(c, q, "__cell", k)
  }

  /** Smallest hyperplane bit-width (>= minBits) whose mean bucket
    * occupancy n/2^bits stays at or under `targetOccupancy`.
    *
    * THE parameter that keeps single-table sign-LSH pair finding linear:
    * with bits pinned, occupancy grows with the corpus and within-bucket
    * candidate pairs grow QUADRATICALLY — measured on the sf10 decade as
    * a 70x wall-time jump for 10x data (BENCHNOTES round 5) before this
    * existed. Costs one count() job; recall per true pair of angle theta
    * is (1 - theta/pi)^bits, so growing bits trades tail-similarity
    * recall for bounded cost — the high-cosine pairs near-dup actually
    * hunts degrade slowest. Callers that need fixed recall at fixed cost
    * per candidate should hold bits and cap occupancy instead (the
    * streaming variant's maxBucketState).
    */
  def bitsForOccupancy(
      n: Long, targetOccupancy: Long = 64L, minBits: Int = 4, maxBits: Int = 24): Int = {
    var bits = minBits
    while (bits < maxBits && (n >> bits) > targetOccupancy) bits += 1
    bits
  }

  /** KMeans cell count for a target mean cell occupancy — the SemDeDup
    * scaling rule (Abbas et al. 2023 run 50k clusters over 5B embeddings
    * for exactly this reason): cells must grow WITH the corpus so
    * within-cell all-pairs work stays n * occupancy, not n^2/k. Clamped
    * below so small fixtures keep their published cell layouts; training
    * stays bounded (256 sampled points per cell, driver Lloyd's).
    */
  def cellsForOccupancy(
      n: Long, targetOccupancy: Long = 512L, minCells: Int = 8, maxCells: Int = 1 << 17): Int = {
    val want = (n + targetOccupancy - 1) / targetOccupancy
    math.min(maxCells.toLong, math.max(minCells.toLong, want)).toInt
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * LSH-bucketed (pairs must share a bucket).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      numBits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      hyperplaneBucket(col(vecCol), dim, numBits, seed).as("__bucket"))
    val l = keyed.alias("cl")
    val r = keyed.alias("cr")
    l.join(r, col("cl.__bucket") === col("cr.__bucket") && col("cl.id") < col("cr.id"))
      .withColumn("cosine", cosine(col("cl.__v"), col("cr.__v")))
      .where(col("cosine") >= threshold)
      .select(col("cl.id").as("id_a"), col("cr.id").as("id_b"), col("cosine"))
  }

  /** Banded sign-LSH near-dup pairs — the recall lever over
    * [[cosineNearDupPairs]]'s single table. `numBands` independent
    * `numBits`-bit sketches (contiguous slices of ONE seeded plane
    * stream, so band 0 IS the single-table sketch and the single-table
    * pairs are a subset by construction); a pair becomes a candidate by
    * colliding in ANY band, exactly the MinHash-LSH banding already used
    * for text (L2). Distinct candidates are exact-cosine verified.
    *
    * Cost is `numBands` x the single-table candidate volume — linear in n
    * when `numBits` rides [[bitsForOccupancy]] — and recall per true pair
    * of angle theta rises from p^r to 1-(1-p^r)^b with p = 1 - theta/pi:
    * at cosine 0.9 and r=12, one table keeps 28% of true pairs, 4 bands
    * 73%, 8 bands 93%. Bands buy recall at a LINEAR cost multiplier —
    * the production trade for corpus-scale near-dup at high similarity.
    */
  def bandedCosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      numBits: Int = 8,
      numBands: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(numBands >= 1, s"numBands must be >= 1, got $numBands")
    val rng = new scala.util.Random(seed)
    val allPlanes = Seq.fill(numBands * numBits * dim)(rng.nextGaussian())
    val bandBuckets = (0 until numBands).map { b =>
      val planes = allPlanes.slice(b * numBits * dim, (b + 1) * numBits * dim)
      Kernels.hyperplaneBucket(col(vecCol), planes, dim)
    }
    val keyed = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      posexplode(array(bandBuckets: _*)).as(Seq("__band", "__bucket")))
    val l = keyed.alias("bl")
    val r = keyed.alias("br")
    l.join(r, col("bl.__band") === col("br.__band") &&
        col("bl.__bucket") === col("br.__bucket") && col("bl.id") < col("br.id"))
      // Score FIRST, dedupe LAST: a pair colliding in several bands costs
      // up to `numBands` redundant compiled cosines (map-side, cheap),
      // while deduping before the score would shuffle EVERY candidate
      // with both dim-double vectors attached — measured at sf10 as a
      // ~25 GB exchange that made the operator 25x per decade. The
      // threshold filter runs in the join stage, so the only exchange
      // carries the (id_a, id_b, cosine) triples of true near-dups, and
      // duplicates agree on the cosine bit-for-bit (same compiled kernel,
      // same operands), so the kept row is value-deterministic.
      .withColumn("cosine", cosine(col("bl.__v"), col("br.__v")))
      .where(col("cosine") >= threshold)
      .select(col("bl.id").as("id_a"), col("br.id").as("id_b"), col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** KMeans document clustering for corpus curation (cluster-balanced
    * sampling, per-cluster dedup, topic pruning): train `k` centroids on a
    * bounded seeded sample (see [[trainIvfCentroids]] — training cost is
    * corpus-size-independent), assign EVERY vector to its nearest centroid
    * in one compiled map-side pass, and profile clusters: size + mean
    * distance-to-centroid. Returns (trained centroids, profile) so callers
    * can reuse the model and an oracle can replay assignment from the
    * centroid values.
    *
    * The per-row distance is quantized `floor(dist * 10000)` BEFORE the
    * sum: integer summation is order-independent (double accumulation
    * across an unordered shuffle is not), making the aggregate
    * deterministic under any partitioning and engine-portable; the final
    * division back to a mean costs one exact-int-to-double op per cluster.
    * `vecCol` must already be array<double>.
    */
  def kmeansClusterProfile(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int = 8,
      seed: Long = 42L): (Seq[Double], DataFrame) = {
    val cent = trainIvfCentroids(corpus, idCol, vecCol, dim, nLists = k, seed = seed)
    val cell = Kernels.nearestCentroids(col(vecCol), cent, dim, 1).getItem(0)
    val dist = Kernels.nearestCentroidDist(col(vecCol), cent, dim)
    val profile = corpus
      .select(cell.as("cell"), floor(dist * 10000).cast("long").as("__d10k"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("__d10k")).as("__sd"))
      .select(col("cell"), col("n"),
        round(col("__sd").cast("double") / col("n").cast("double") / 10000.0, 4).as("avg_dist"))
    (cent, profile)
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    * INSIDE KMeans cells only — train `k` centroids on a bounded sample,
    * assign every vector to its nearest cell in one compiled map-side
    * pass, then compare pairs that share a cell. The cell id is an
    * equi-join key, so the all-pairs scan that is O(n^2) globally becomes
    * O(sum cell_i^2): with balanced cells that is n^2/k, and at 100 TB the
    * cell count scales with the corpus while per-cell occupancy stays
    * bounded — the same "candidates must share a bucket" contract as the
    * LSH family, but with data-adaptive buckets (clustered corpora pack
    * near-duplicates into the same cell at much higher recall than random
    * hyperplane buckets; the trade is one bounded training job).
    *
    * Returns (trained centroids, pairs) — centroids let an oracle replay
    * the assignment and callers reuse the model across runs. `vecCol`
    * must already be array<double>.
    */
  def semanticNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      k: Int = 8,
      seed: Long = 42L,
      driverFlopsPerIter: Long = 10000000000L): (Seq[Double], DataFrame) = {
    val cent = trainIvfCentroids(corpus, idCol, vecCol, dim, nLists = k, seed = seed,
      driverFlopsPerIter = driverFlopsPerIter)
    val cellOf = Kernels.nearestCentroids(col(vecCol), cent, dim, 1).getItem(0)
    val keyed = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"),
      cellOf.as("cell"))
    val l = keyed.alias("sl")
    val r = keyed.alias("sr")
    val pairs = l.join(r, col("sl.cell") === col("sr.cell") && col("sl.id") < col("sr.id"))
      .withColumn("cosine", cosine(col("sl.__v"), col("sr.__v")))
      .where(col("cosine") >= threshold)
      .select(col("sl.cell").as("cell"), col("sl.id").as("id_a"),
        col("sr.id").as("id_b"), col("cosine"))
    (cent, pairs)
  }

  /** Streaming twin of [[cosineNearDupPairs]]: embedding near-duplicate
    * pairs WITHIN an event-time horizon, for dedup-at-ingest of an
    * embedding stream. Same state discipline as
    * [[graft.dedup.Dedup.streamingNearDupPairs]]: state is keyed by the
    * hyperplane sign-sketch bucket (candidates must share a bucket —
    * never all-pairs), holds at most `maxBucketState` in-horizon vectors
    * per bucket, and is evicted by event-time timeout once the watermark
    * passes the horizon. Exact cosine runs in-state against the bounded
    * bucket residents only. Also runs on a batch frame (watermark =
    * -inf), which is how the spec cross-checks it against the batch
    * operator. `vecCol` must be array<double>.
    */
  def streamingCosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      eventTimeCol: String,
      delayMs: Long,
      threshold: Double,
      dim: Int,
      numBits: Int = 8,
      seed: Long = 42L,
      maxBucketState: Int = 256): org.apache.spark.sql.Dataset[StreamCosinePair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        col(eventTimeCol).as("__et"))
      // drop malformed rows (null/uncastable id, null/empty vector) like
      // the batch twin does via its null join key — one bad event must not
      // kill a long-running ingest query at the non-nullable encoder
      .where(col("id").isNotNull && col("v").isNotNull && size(col("v")) > 0)
      .withWatermark("__et", s"$delayMs milliseconds")
      .select(col("id"), col("v"), unix_millis(col("__et")).as("ts_ms"),
        hyperplaneBucket(col("v"), dim, numBits, seed).as("bucket"), col("__et"))
      .as[(Long, Seq[Double], Long, Long, java.sql.Timestamp)]
    val streaming = df.isStreaming
    keyed
      .groupByKey(_._4)
      .flatMapGroupsWithState[CosineBucketState, StreamCosinePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[CosineBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.tsMs >= wm)
            val out = scala.collection.mutable.ArrayBuffer.empty[StreamCosinePair]
            rows.toSeq.sortBy(r => (r._3, r._1)).foreach { case (id, v, ts, _, _) =>
              val arr = v.toArray
              entries.foreach { e =>
                if (e.id != id) {
                  val c = cosineArr(e.vec, arr)
                  if (c >= threshold)
                    out += StreamCosinePair(math.min(e.id, id), math.max(e.id, id),
                      c, math.max(e.tsMs, ts))
                }
              }
              entries = (CosineBucketEntry(id, arr, ts) :: entries).take(maxBucketState)
            }
            if (entries.nonEmpty) {
              state.update(CosineBucketState(entries))
              if (streaming) {
                val horizon = entries.map(_.tsMs).max + delayMs
                state.setTimeoutTimestamp(math.max(horizon, wm + 1))
              }
            } else if (state.exists) state.remove()
            out.iterator
          }
      }
  }

  /** Plain-array cosine for in-state comparisons; 0 for zero-norm inputs
    * (same contract as [[graft.functions.Kernels.cosineSim]]).
    */
  private def cosineArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Greedy k-center (farthest-point-first) coreset selection — the
    * classic 2-approximation for max-min diversity sampling (Gonzalez
    * 1985), the "pick k maximally-different examples" primitive of data
    * curation (seed sets, eval panels, active-learning batches).
    *
    * Deterministic contract (what the q87 oracle replays round by
    * round): the seed is the minimum id; each round adds the point with
    * the LARGEST distance to its nearest selected center, ties broken by
    * ascending id. Degenerate inputs stay deterministic: once every
    * remaining point coincides with a center (max min-distance 0) the
    * argmax keeps re-selecting the minimum id at radius 0 rather than
    * stopping early, so a fixed k always yields exactly k rows.
    *
    * Shape at scale: selected centers are driver state (k x dim doubles
    * — bounded by construction); distributed work is one map stage per
    * BATCH over the cached corpus updating `minD = least(minD,
    * dist2(v, c1), dist2(v, c2), …)` against plan-literal centers (the
    * compiled [[dist2]] kernel — total work stays k*n*dim flops, NOT
    * k^2*n*dim) plus a `TakeOrderedAndProject(batchFetch)`. Batching
    * (the round-trip killer at large k): each job fetches the top
    * `batchFetch` candidates by `(d DESC, id ASC)`; the driver then
    * accepts greedily, re-verifying each candidate's exact min-distance
    * against the centers accepted earlier in the same batch (the SAME
    * ascending-index dist2 accumulation as the compiled kernel, so the
    * doubles are bit-identical) and stopping the moment a candidate's
    * updated distance no longer strictly beats the fetch boundary (an
    * unfetched point could then win the (d, id) tie-break). k=10k
    * becomes tens of jobs instead of 10k. Every `checkpointEvery`
    * batches the frame is `localCheckpoint`ed so the `least` chain's
    * plan depth stays bounded regardless of k. No shuffle ever carries
    * vectors.
    *
    * @return (rank, vec_id, radius) — radius = sqrt of the point's
    *         min-distance at selection time, rounded to 6 dp; NULL for
    *         the rank-0 seed.
    */
  def kCenterSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      batchFetch: Int = 64,
      checkpointEvery: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(batchFetch >= 1, s"batchFetch must be >= 1, got $batchFetch")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // ids must be integral: the (d DESC, id ASC) argmax needs the id
    // tie-break, and a silent cast("long") would NULL-and-drop string
    // ids (diverging from the oracle replay, which does not cast)
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"kCenterSelect requires an integral id column for the (d DESC, id ASC) " +
          s"tie-break; '$idCol' is $other — derive a long id upstream (e.g. hash or zipWithIndex)")
    }
    val spark = df.sparkSession
    import spark.implicits._
    // ids must be UNIQUE per row (duplicate ids would make tie
    // resolution partition-dependent, like any dedup operator fed
    // duplicate doc_ids); NULL ids are excluded like NULL vectors —
    // they cannot participate in the id tie-break
    val base = df.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .where(col("id").isNotNull)
    val seed = base.orderBy(col("id").asc).limit(1)
      .collect().headOption
    // the compiled kernel's exact accumulation order (ascending index,
    // min length) — driver re-verification must produce the same double
    def d2(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    seed match {
      case None =>
        Seq.empty[(Int, Long, Option[Double])]
          .toDF("rank", "vec_id", "radius")
          .select(col("rank"), col("vec_id"), col("radius").cast("double"))
      case Some(s0) =>
        val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
          (0, s0.getLong(0), None))
        def distToLit(c: Array[Double]): Column =
          dist2(col("v"), typedLit(c.toSeq))
        var cur = CacheTracker.persistTracked(base
          .withColumn("d", distToLit(s0.getAs[scala.collection.Seq[Double]]("v").toArray)))
        // the previous batch's cache is freed only AFTER the next
        // batch's fetch has materialized its child — freeing it
        // earlier would recompute the whole least(...) chain
        var toFree: DataFrame = null
        var batches = 0
        final class Cand(val id: Long, val vec: Array[Double], var d: Double)
        while (picked.length < k) {
          val top = cur.orderBy(col("d").desc, col("id").asc)
            .limit(batchFetch).collect()
          if (toFree != null) { CacheTracker.free(toFree); toFree = null }
          // a short fetch saw EVERY point: no unfetched candidate exists
          // and the whole remaining selection resolves on the driver
          val complete = top.length < batchFetch
          val cands = top.map(r => new Cand(r.getLong(0),
            r.getAs[scala.collection.Seq[Double]]("v").toArray, r.getDouble(2)))
          val fetchBound = if (complete) Double.NegativeInfinity else cands.last.d
          val acceptedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          var safe = cands.nonEmpty
          while (safe && picked.length < k) {
            // exact argmax among fetched candidates (their d is exact —
            // re-verified against every center accepted this batch);
            // accepted candidates STAY in the pool at d=0, preserving
            // the degenerate re-select-min-id-at-radius-0 contract
            var best: Cand = null
            var ci = 0
            while (ci < cands.length) {
              val c = cands(ci)
              if (best == null || c.d > best.d || (c.d == best.d && c.id < best.id))
                best = c
              ci += 1
            }
            // the first accept is the fetch head == the global argmax;
            // later accepts are safe only if they STRICTLY beat the
            // fetch boundary (an unfetched point's d is <= fetchBound
            // and can only have decreased — ties are unresolvable)
            if (acceptedVecs.nonEmpty && !(best.d > fetchBound)) safe = false
            else {
              picked += ((picked.length, best.id, Some(best.d)))
              acceptedVecs += best.vec
              ci = 0
              while (ci < cands.length) {
                val c = cands(ci)
                val nd = d2(c.vec, best.vec)
                if (nd < c.d) c.d = nd
                ci += 1
              }
            }
          }
          if (picked.length < k) {
            val withNew = cur.withColumn("d",
              least((col("d") +: acceptedVecs.toSeq.map(distToLit)): _*))
            batches += 1
            if (batches % checkpointEvery == 0) {
              // bound the least(...) chain's plan depth: materialize and
              // cut lineage, then the parent cache is immediately free
              val cp = CacheTracker.checkpointTracked(withNew)
              CacheTracker.free(cur)
              cur = cp
            } else {
              toFree = cur
              cur = CacheTracker.persistTracked(withNew)
            }
          }
        }
        CacheTracker.free(cur)
        picked.toSeq.toDF("rank", "vec_id", "radius")
          .select(col("rank"), col("vec_id"),
            round(sqrt(col("radius")), 6).as("radius"))
    }
  }
}

/** One (id, vector, event-time ms) resident in a sign-sketch bucket. */
case class CosineBucketEntry(id: Long, vec: Array[Double], tsMs: Long)

/** Per-bucket streaming state: in-horizon vectors. */
case class CosineBucketState(entries: List[CosineBucketEntry])

/** Emitted embedding near-dup pair: normalized ids + exact cosine. */
case class StreamCosinePair(id_a: Long, id_b: Long, cosine: Double, ts_ms: Long)
