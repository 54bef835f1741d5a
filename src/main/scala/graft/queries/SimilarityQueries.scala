package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

import Shared._

/** Embedding queries: norms, int8 quantization, exact and LSH k-NN,
  * near-duplicate pairs and components, k-means and SemDeDup, IVF, PQ and
  * OPQ indexes, label centroids and k-center coresets.
  */
object SimilarityQueries {

  val all: Seq[Query] = Seq(
    // q25: embedding norms — vector arithmetic parity with the oracle
    Query.fixed("q25_embedding_norms", (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        round(Similarity.l2Norm(col("embedding").cast("array<double>")), 4).as("l2_norm"))
        .orderBy(col("vec_id")),
      """SELECT vec_id, label,
        |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // q26: brute-force cosine top-k similarity search (SURVEY+: ANN baseline)
    Query.fixed("q26_knn_bruteforce", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(e.v, q.qv) /
        |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        |  FROM e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // q27: LSH-bucketed ANN (rows-only: bucket assignment is seeded-plane
    // specific; recall properties covered in ScalaTest)
    Query.fixed("q27_knn_lsh", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 5, dim = 64, numBits = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
      // q27: 4-bit embedded planes (fixed — a 3-query k-NN probe, no
      // occupancy concern); multi-probe = own bucket + each sign bit
      // flipped once, exact re-rank within candidates
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |    (CASE WHEN list_dot_product(v, ${q39PlaneLits(0)}) >= 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${q39PlaneLits(1)}) >= 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${q39PlaneLits(2)}) >= 0 THEN 4 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${q39PlaneLits(3)}) >= 0 THEN 8 ELSE 0 END) AS bucket
         |  FROM e),
         |q AS (SELECT vec_id AS query_id, bucket AS b0 FROM b WHERE vec_id < 3),
         |probes AS (SELECT query_id,
         |  unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS bucket FROM q),
         |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
         |  FROM probes p JOIN b c ON p.bucket = c.bucket AND p.query_id <> c.vec_id),
         |scored AS (SELECT cand.query_id, cand.neighbor_id,
         |  list_dot_product(cv.v, qv.v) /
         |    (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS cos
         |  FROM cand JOIN b cv ON cand.neighbor_id = cv.vec_id
         |            JOIN b qv ON cand.query_id = qv.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // q37: IVF ANN — k-means coarse quantizer + probed exact re-rank.
    // Training is deterministic (seeded xxhash64 TakeOrdered sample +
    // seeded Lloyd), so the build returns an oracle that embeds the
    // centroids it trained as literals — the q27/q39 embedded-constant
    // pattern extended to data-trained constants.
    Query("q37_knn_ivf", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        dim = 64, nLists = 16)
      val frame = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5, dim = 64,
        nLists = 16, nProbe = 4, corpusAssign = 2, centroids = Some(cent))
        .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
      Built(frame, Some(q37OracleSql(cent)))
    }),

    // q35: exact all-pairs embedding-cosine near-duplicates — the
    // brute-force baseline the LSH variant approximates (SURVEY+: dedup by
    // embedding); compiled cosine keeps the O(n^2/2) pair scan codegen'd
    Query.fixed("q35_cosine_neardup_exact", (s, dir) => {
      val e = vectors(s, dir, "v")
      val a = e.alias("ea")
      val b = e.alias("eb")
      a.join(b, col("ea.vec_id") < col("eb.vec_id"))
        .withColumn("cosine", Similarity.cosine(col("ea.v"), col("eb.v")))
        .where(col("cosine") >= 0.3)
        .select(col("ea.vec_id").as("id_a"), col("eb.vec_id").as("id_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin),

    // q39: LSH-bucketed cosine near-dup — the scale-safe sibling of q35's
    // exact all-pairs baseline: candidate pairs must share a hyperplane
    // bucket, so the pair count scales with bucket occupancy, not n^2
    // (rows-only: bucket assignment is seeded-plane specific)
    Query("q39_cosine_neardup_lsh", (s, dir) => {
      val e = vectors(s, dir, "v")
      // occupancy-scaled bit-width (one count job): pinning bits made the
      // within-bucket self-join quadratic in corpus size — the sf10 decade
      // measured 70x wall for 10x data before this (BENCHNOTES round 5)
      val bits = Similarity.bitsForOccupancy(e.count())
      val frame = Similarity.cosineNearDupPairs(e, "vec_id", "v", threshold = 0.3, dim = 64, numBits = bits)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
      Built(frame, Some(q39OracleSql(bits)))
    }),

    // q76: banded sign-LSH near-dup (SURVEY+ L40) — the recall-controlled
    // production shape of q39: any-band collision makes a candidate, so
    // per-pair recall rises 1-(1-p^r)^b at a LINEAR x4 cost; bits still
    // ride the occupancy rule, so the decade scaling holds.
    Query("q76_banded_neardup", (s, dir) => {
      val e = vectors(s, dir, "v")
      val bits = Similarity.bitsForOccupancy(e.count())
      val frame = Similarity.bandedCosineNearDupPairs(e, "vec_id", "v", threshold = 0.3,
          dim = 64, numBits = bits, numBands = Q76Bands)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
      Built(frame, Some(q76OracleSql(bits)))
    }),

    // q54: int8 embedding quantization (Similarity.quantizeInt8) — per-
    // vector scale + quantized-sum fingerprint, floor semantics replayed
    // exactly by the DuckDB oracle; cosine drift vs float is spec-bounded
    Query.fixed("q54_quantize_int8", (s, dir) => {
      val emb = vectors(s, dir, "v")
      emb.select(col("vec_id"),
        round(Similarity.vecMaxAbs(col("v")), 6).as("max_abs"),
        Similarity.quantSumInt8(col("v")).as("q_sum"))
        .orderBy(col("vec_id"))
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma FROM e)
        |SELECT vec_id,
        |  round(CASE WHEN ma IS NULL THEN 0.0 ELSE ma END, 6) AS max_abs,
        |  CAST(CASE WHEN ma IS NULL OR ma = 0 THEN 0
        |       ELSE list_sum(list_transform(v, x -> CAST(floor(x * 127.0 / ma) AS INTEGER))) END
        |    AS INTEGER) AS q_sum
        |FROM m ORDER BY vec_id""".stripMargin),

    // q55: near-dup clusters — connected components (min-label propagation,
    // graft.dedup.Components) over the q39 LSH pair graph; component = min
    // reachable vec_id, recomputed independently by a DuckDB recursive CTE
    Query("q55_neardup_components", (s, dir) => {
      val e = vectors(s, dir, "v")
      val bits = Similarity.bitsForOccupancy(e.count())
      val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "v",
        threshold = 0.3, dim = 64, numBits = bits)
      val frame = graft.dedup.Components.connectedComponents(
        pairs, "id_a", "id_b", e.select(col("vec_id")), "vec_id")
        .select(col("id").as("vec_id"), col("component"))
        .orderBy(col("vec_id"))
      Built(frame, Some(q55OracleSql(bits)))
    }),

    // q65: KMeans document clustering profile (SURVEY+ L27) — cluster the
    // embedding corpus with seeded bounded-sample KMeans (cost independent
    // of corpus size), assign every vector map-side, report per-cluster
    // size and mean distance-to-centroid. Trained centroids are captured
    // for the oracle exactly like q37's.
    Query("q65_kmeans_clusters", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val (cent, profile) = Similarity.kmeansClusterProfile(
        emb, "vec_id", "embedding", dim = 64, k = 8)
      val frame = profile.orderBy(col("cell"))
      Built(frame, Some(q65OracleSql(cent)))
    }),

    // q71: SemDeDup (SURVEY+ L35, Abbas et al. 2023) — semantic near-dup
    // pairs found inside trained KMeans cells only: the global O(n^2) pair
    // scan becomes an equi-join on the cell id (data-adaptive buckets,
    // vs q39's random hyperplanes). Centroids captured for the oracle the
    // same way as q37/q65.
    Query("q71_semdedup_pairs", (s, dir) => {
      val emb = vectors(s, dir, "v")
      // SemDeDup scaling rule: cells grow with the corpus (the paper runs
      // 50k cells over 5B vectors) so within-cell all-pairs stays linear —
      // k pinned at 8 measured 95x wall for 10x data on the sf10 decade
      val k = Similarity.cellsForOccupancy(emb.count())
      // measurement hook (round-6 verdict task): lowering the flop
      // threshold forces centroid training through the DISTRIBUTED
      // spark.ml route — the oracle captures whatever centroids the run
      // produced, so the gate verifies that route end-to-end too
      val flops = sys.env.get("SPARK_GRAFT_IVF_DRIVER_FLOPS")
        .map(_.toLong).getOrElse(10000000000L)
      val (cent, pairs) = Similarity.semanticNearDupPairs(
        emb, "vec_id", "v", dim = 64, threshold = 0.3, k = k,
        driverFlopsPerIter = flops)
      val frame = pairs.select(col("cell").cast("long").as("cell"), col("id_a"), col("id_b"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
      Built(frame, Some(q71OracleSql(cent)))
    }),

    // q83: group-centroid embedding pooling (graft.similarity.Pooling,
    // SURVEY+ L48) — per-label mean centroid over x1000-quantized
    // vectors. The TypedImperativeAggregate ships ONE dim-length double
    // array per (group x map-partition) instead of an n x dim posexplode
    // shuffle; integral quantized inputs make the sums exact in any merge
    // order, so the oracle is a bit-exact replay with no rounding. The
    // final posexplode runs over the 10-group AGGREGATED result (the
    // driver gate has no array-column precedent), not the data.
    Query.fixed("q83_label_centroids", (s, dir) =>
      t(s, dir, "embeddings")
        // the aggregate skips NULL rows and rows containing a null
        // element; filter them HERE too so n_vecs always equals the
        // mean denominator (fixture has neither, but a regenerated
        // scale-up must not be able to diverge the oracle)
        .where(col("embedding").isNotNull &&
          !exists(col("embedding"), x => x.isNull))
        .select(col("label"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000, 0)).as("qv"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          graft.similarity.Pooling.meanPool(col("qv")).as("centroid"))
        .select(col("label"), col("n_vecs"),
          posexplode(col("centroid")).as(Seq("dim", "c")))
        .select(col("label"), col("n_vecs"),
          col("dim").cast("long").as("dim"), col("c"))
        .orderBy(col("label"), col("dim")),
      // pooled-centroid replay: x1000 quantization makes every element
      // integral, so sum/count is exact in any accumulation order on both
      // engines — a bit-exact double compare, no rounding cap needed
      """WITH q AS (SELECT label,
        |  list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000, 0)) AS qv
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |u AS (SELECT label, unnest(qv) AS v, unnest(range(0, len(qv))) AS i FROM q),
        |m AS (SELECT label, i AS dim, sum(v) / count(v) AS c FROM u GROUP BY label, i),
        |n AS (SELECT label, count(*) AS n_vecs FROM q GROUP BY label)
        |SELECT m.label, n.n_vecs, CAST(m.dim AS BIGINT) AS dim, m.c
        |FROM m JOIN n ON m.label IS NOT DISTINCT FROM n.label
        |ORDER BY m.label, m.dim""".stripMargin),

    // q87: greedy k-center coreset (graft.similarity.Similarity
    // .kCenterSelect, SURVEY+ L51) — 8 maximally-diverse embeddings by
    // farthest-point-first selection. Each round is one map stage over
    // the cached corpus against a plan-literal center + a TakeOrdered(1);
    // the oracle replays all 8 rounds as generated CTEs (exact dist2
    // replay, (d DESC, id) argmax).
    Query.fixed("q87_kcenter_coreset", (s, dir) =>
      graft.similarity.Similarity.kCenterSelect(
        t(s, dir, "embeddings"), idCol = "vec_id", vecCol = "embedding",
        k = 8),
      // k-center replay: 8 generated rounds (see kCenterOracleSql)
      kCenterOracleSql(8)),

    // q121: product-quantization ANN (SURVEY+ L80, Jegou et al. 2011)
    // — per-subspace codebooks trained on bounded seeded samples,
    // corpus encoded to m=8 code ids in one compiled pass, ADC scoring
    // of all queries in ONE scan via a driver-built lookup table
    // (Kernels.pqAdcDists), per-query top-k as a map-side WindowGroupLimit.
    // Codebooks are captured for the oracle (the q37/q65 pattern):
    // DuckDB replays code assignment (argmin + lower-code tie), the ADC
    // tables (list_dot_product of the diff with itself — ascending-i,
    // bit-identical to the driver loop) and the ascending-j
    // parenthesized sum, so every distance matches bit-for-bit.
    Query("q121_pq_ann", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      val cbs = graft.similarity.Pq.trainCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
      val frame = adcRanked(graft.similarity.Pq.adcTopK(emb, "vec_id", "embedding", queries,
          cbs, dim = 64, k = 5))
      Built(frame, Some(q121OracleSql(cbs)))
    }),

    // q122: IVF+PQ ANN (SURVEY+ L80 composition — the FAISS IVFx,PQm
    // billion-scale layout): the q37 coarse quantizer routes each query
    // to nProbe cells, the q121 ADC table scores ONLY those cells'
    // residents, so per-query cost is probed occupancy, not the corpus.
    // Both models' constants are captured and the oracle composes the
    // two verified replays (argmin cells/probes + ADC pivot sum).
    Query("q122_ivfpq_ann", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        dim = 64, nLists = 16)
      val cbs = graft.similarity.Pq.trainCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
      val frame = adcRanked(graft.similarity.Pq.ivfAdcTopK(emb, "vec_id", "embedding", queries,
          cent, cbs, dim = 64, k = 5, nProbe = 4))
      Built(frame, Some(q122OracleSql(cent, cbs)))
    }),

    // q132: OPQ + PQ ANN (SURVEY+ L86 — FAISS's `OPQm,PQm`
    // pre-transform, Ge et al. 2013): a learned ORTHOGONAL rotation
    // decorrelates/balances the subspaces before PQ (L2 distances are
    // rotation-invariant, so search semantics are unchanged while the
    // codes quantize better — measured 51% reconstruction-error
    // reduction on the anisotropic spec fixture). Training is driver
    // alternation over the ONE bounded sample (Newton-polar
    // Procrustes); corpus/queries rotate in one compiled map-side pass
    // (Kernels.matVec), then EVERYTHING downstream is the verified q121
    // machinery. Oracle = the q121 replay over rotated vectors with
    // the rotation's column vectors captured as VALUES.
    Query("q132_opq_ann", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val rot = graft.similarity.Opq.trainRotation(
        emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 6)
      val rotated = emb.select(col("vec_id"),
        graft.similarity.Opq.rotate(col("embedding"), rot, 64).as("embedding"))
      val queries = rotated.where(col("vec_id") < 3)
      val cbs = graft.similarity.Pq.trainCodebooks(
        rotated, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
      val frame = adcRanked(graft.similarity.Pq.adcTopK(rotated, "vec_id", "embedding", queries,
          cbs, dim = 64, k = 5))
      Built(frame, Some(q132OracleSql(rot, cbs)))
    }),

    // q123: RESIDUAL IVF+PQ ANN (SURVEY+ L81 — the FAISS IVFPQ
    // construction proper): PQ codes are learned on and assigned to
    // v - centroid(cell), and each query builds one ADC table PER
    // PROBED CELL from its own residual, so codes micro-rank WITHIN a
    // cell (raw-vector codes collapse tight clusters onto one code —
    // the round-9 measured 1% recall). Oracle extends the q122 replay
    // by the centroid subtraction at all three sites: corpus residual
    // (v[i]-cc[i]), code assignment over residual slices, and the
    // per-(query,cell) table diff ((qv-cc)-cv).
    Query("q123_ivfpq_residual_ann", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val queries = emb.where(col("vec_id") < 3)
      val cent = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
        dim = 64, nLists = 16)
      val cbs = graft.similarity.Pq.trainResidualCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = 8, centroids = cent, ksub = 16)
      val frame = adcRanked(graft.similarity.Pq.ivfAdcTopKResidual(emb, "vec_id", "embedding", queries,
          cent, cbs, dim = 64, k = 5, nProbe = 4))
      Built(frame, Some(q123OracleSql(cent, cbs)))
    }),

    // q134: the PRODUCTION ANN STACK, declared (SURVEY+ L88) — OPQ rotation ->
    // residual IVFPQ -> exact refine (FAISS `OPQ8,IVF16,PQ8 +
    // IndexRefineFlat`), the scaladoc-designated default entry point
    // (Pq.ivfAdcTopKResidualRefined), with BOTH trained models
    // round-tripping through their persisted artifacts
    // (ModelState.saveRotation/savePqModel -> load) before scoring —
    // the full train-once/score-many deployment in one declared plan.
    // Oracle composes the three verified replays: the q132 captured-
    // rotation CTE (rotated vectors), the q123 residual-ADC replay
    // over them (rank <= rerank as candidates), and a plain exact
    // squared-L2 rerank (list_dot_product of the diff with itself —
    // bit-identical to the dist2 kernel's ascending-i loop).
    Query("q134_ann_opq_ivfpq_refined", (s, dir) => {
      val emb = vectors(s, dir, "embedding")
      val rot = graft.similarity.Opq.trainRotation(
        emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 6)
      val stateBase = Scratch.dir().toString
      graft.model.ModelState.saveRotation(s, stateBase + "/rot", rot, dim = 64)
      val rotLoaded = graft.model.ModelState.loadRotation(s, stateBase + "/rot", dim = 64)
      val rotated = emb.select(col("vec_id"),
        graft.similarity.Opq.rotate(col("embedding"), rotLoaded, 64).as("embedding"))
      val cent = Similarity.trainIvfCentroids(rotated, "vec_id", "embedding",
        dim = 64, nLists = 16)
      val cbs = graft.similarity.Pq.trainResidualCodebooks(
        rotated, "vec_id", "embedding", dim = 64, m = 8, centroids = cent, ksub = 16)
      graft.model.ModelState.savePqModel(s, stateBase + "/pq", cent, cbs, dim = 64)
      val (centL, cbsL) = graft.model.ModelState.loadPqModel(
        s, stateBase + "/pq", dim = 64, m = 8, ksub = 16)
      val queries = rotated.where(col("vec_id") < 3)
      val frame = graft.similarity.Pq.ivfAdcTopKResidualRefined(rotated, "vec_id", "embedding",
          queries, centL, cbsL, dim = 64, k = 5, nProbe = 4, rerank = 12)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("dist2"), 4).as("dist2"))
        .orderBy(col("query_id"), col("rank"))
      Built(frame, Some(q134OracleSql(rotLoaded, centL, cbsL)))
    }))

  /** The k-center rounds replayed by the shared generator in
    * [[graft.tools.ReplaySql]], the same SQL the differential fuzz harness
    * runs.
    */
  private def kCenterOracleSql(k: Int): String =
    graft.tools.ReplaySql.kCenter("embeddings", "vec_id", "embedding", k) + "\nORDER BY rank"

  /** DuckDB literals for the first `numBits` seeded hyperplanes — the SAME
    * row-major gaussian stream `hyperplaneBucket` consumes, so plane i is
    * identical for every bit-width (prefix property of the fill).
    */
  private def planeLits(numBits: Int): Seq[String] = {
    val rng = new scala.util.Random(42L)
    Seq.fill(numBits * 64)(rng.nextGaussian()).grouped(64)
      .map(_.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]")).toSeq
  }

  /** q39's hyperplanes are PURE seed output (no data dependence), so the
    * oracle can embed them as literals: same `Random(42)` Box-Muller
    * sequence as `Similarity.hyperplaneBucket`, row-major numBits x dim.
    * `Double.toString` round-trips exactly through DuckDB's parser, and
    * both engines accumulate the dot product in ascending index order.
    */
  private lazy val q39PlaneLits: Seq[String] = planeLits(4)

  /** The sign-sketch bucket expression over `numBits` embedded planes —
    * bit i weighted 2^i, matching `TextAlgo.hyperplaneBucket`.
    */
  private def bucketCaseSql(numBits: Int): String = {
    val lits = planeLits(numBits)
    (0 until numBits).map(i =>
      s"(CASE WHEN list_dot_product(v, ${lits(i)}) >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("\n  + ")
  }

  /** q76's band count — fixed small constant (recall multiplier; cost is
    * linear in it), embedded in both the query and its oracle.
    */
  private val Q76Bands = 4

  /** Plane literals for band `band` of a banded sketch: slice of the SAME
    * seeded stream [[bandedCosineNearDupPairs]] consumes (band 0 == the
    * single-table planes).
    */
  private def bandPlaneLits(numBits: Int, numBands: Int): Seq[Seq[String]] = {
    val rng = new scala.util.Random(42L)
    val all = Seq.fill(numBands * numBits * 64)(rng.nextGaussian())
    (0 until numBands).map { b =>
      all.slice(b * numBits * 64, (b + 1) * numBits * 64).grouped(64)
        .map(_.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]")).toSeq
    }
  }

  private def q76OracleSql(bits: Int): String = {
    val bands = bandPlaneLits(bits, Q76Bands)
    val bucketCols = bands.zipWithIndex.map { case (lits, bi) =>
      (0 until bits).map(i =>
        s"(CASE WHEN list_dot_product(v, ${lits(i)}) >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString("    ", "\n  + ", s" AS b$bi")
    }.mkString(",\n")
    val bandJoins = (0 until Q76Bands).map(bi =>
      s"SELECT a.vec_id AS ia, c.vec_id AS ib FROM b a JOIN b c ON a.b$bi = c.b$bi AND a.vec_id < c.vec_id")
      .mkString("\n  UNION\n  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |$bucketCols
       |  FROM e),
       |cand AS (
       |  $bandJoins
       |)
       |SELECT ia AS id_a, ib AS id_b,
       |  round(list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
       |FROM cand JOIN e x ON ia = x.vec_id JOIN e y ON ib = y.vec_id
       |WHERE list_dot_product(x.v, y.v) /
       |  (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def q39OracleSql(bits: Int): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |    ${bucketCaseSql(bits)} AS bucket
       |  FROM e)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       |  round(list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE list_dot_product(a.v, c.v) /
       |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  private def q55OracleSql(bits: Int): String =
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |    ${bucketCaseSql(bits)} AS bucket
       |  FROM e),
       |pair AS (SELECT a.vec_id AS s, c.vec_id AS t
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |  WHERE list_dot_product(a.v, c.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.3),
       |edges AS (SELECT s, t FROM pair UNION ALL SELECT t AS s, s AS t FROM pair),
       |reach(id, lab) AS (
       |  SELECT vec_id, vec_id FROM e
       |  UNION
       |  SELECT edges.t, reach.lab FROM reach JOIN edges ON reach.id = edges.s)
       |SELECT id AS vec_id, min(lab) AS component
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** DuckDB replica of the q65 cluster profile: assign each vector to the
    * nearest trained centroid (list_distance ties to the lower cell id,
    * matching the strict-< argmin), then the same quantized-integer mean
    * distance. floor(dist*10000) quantization makes the sum exact in both
    * engines regardless of accumulation order.
    */
  private def q65OracleSql(cent: Seq[Double]): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |cent(cell, c) AS (VALUES
       |  ${centroidRows(cent)}),
       |d AS (SELECT e.vec_id, cent.cell, list_distance(e.v, cent.c) AS dist,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.v, cent.c), cent.cell) AS rk
       |  FROM e CROSS JOIN cent),
       |a AS (SELECT vec_id, cell, CAST(floor(dist * 10000) AS BIGINT) AS d10k FROM d WHERE rk = 1)
       |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
       |  round((CAST(sum(d10k) AS DOUBLE) / count(*)) / 10000.0, 4) AS avg_dist
       |FROM a GROUP BY cell ORDER BY cell""".stripMargin

  /** DuckDB replica of the q121 PQ-ANN pipeline with the trained
    * per-subspace codebooks as literals: code assignment is the argmin
    * with lower-code tie (list_distance is a monotone sqrt of the
    * kernel's squared scan), ADC table entries are
    * list_dot_product(diff, diff) — the same ascending-i accumulation
    * as the driver table loop — and the total is the explicit
    * ascending-j parenthesized sum, so every double matches the
    * compiled path bit-for-bit.
    */
  private def q121OracleSql(cbs: Seq[Seq[Double]]): String =
    pqAdcOracleSql(cbs,
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)")

  /** DuckDB replica of the q132 OPQ+PQ pipeline: the q121 ADC replay
    * over the vectors rotated by the captured rotation.
    */
  private def q132OracleSql(rot: Seq[Double], cbs: Seq[Seq[Double]]): String =
    pqAdcOracleSql(cbs, rotatedVectorsCtes(rot))

  /** The shared q121 ADC-replay body: `eCtes` must define
    * `e (vec_id, v)` — plain cast vectors for q121, captured-rotation
    * products for q132.
    */
  private def pqAdcOracleSql(cbs: Seq[Seq[Double]], eCtes: String): String = {
    val subDim = 64 / cbs.length
    val (pivotCols, orderedSum) = adcPivot(cbs.length)
    s"""WITH $eCtes,
       |cb(j, c, cv) AS (VALUES
       |  ${codebookRows(cbs)}),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |enc AS (SELECT e.vec_id, cb.j, cb.c,
       |    row_number() OVER (PARTITION BY e.vec_id, cb.j
       |      ORDER BY list_distance(list_transform(range(1, ${subDim + 1}),
       |        i -> e.v[cb.j * $subDim + i]), cb.cv), cb.c) AS rk
       |  FROM e CROSS JOIN cb),
       |codes AS (SELECT vec_id, j, c FROM enc WHERE rk = 1),
       |tab AS (SELECT q.query_id, cb.j, cb.c,
       |    list_dot_product(
       |      list_transform(range(1, ${subDim + 1}), i -> q.qv[cb.j * $subDim + i] - cb.cv[i]),
       |      list_transform(range(1, ${subDim + 1}), i -> q.qv[cb.j * $subDim + i] - cb.cv[i])) AS t
       |  FROM q CROSS JOIN cb),
       |at AS (SELECT tab.query_id, codes.vec_id, codes.j, tab.t
       |  FROM codes JOIN tab ON codes.j = tab.j AND codes.c = tab.c),
       |pv AS (SELECT query_id, vec_id,
       |    $pivotCols
       |  FROM at GROUP BY 1, 2),
       |adc AS (SELECT query_id, vec_id, $orderedSum AS adc_dist FROM pv
       |  WHERE query_id <> vec_id),
       |r AS (SELECT query_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, rank, vec_id, round(adc_dist, 4) AS adc_dist
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the q122 IVF+PQ pipeline: the q37 cell/probe
    * replay (argmin over centroid literals, lower-cell tie) feeding the
    * q121 ADC replay (tables via list_dot_product(diff,diff), pivot +
    * ascending-j parenthesized sum) over probed candidates only.
    */
  private def q122OracleSql(cent: Seq[Double], cbs: Seq[Seq[Double]]): String = {
    val subDim = 64 / cbs.length
    val (pivotCols, orderedSum) = adcPivot(cbs.length)
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |cent(cell, cc) AS (VALUES
       |  ${centroidRows(cent)}),
       |cb(j, c, cv) AS (VALUES
       |  ${codebookRows(cbs)}),
       |ca AS (SELECT e.vec_id, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.v, cent.cc), cent.cell) AS rk
       |  FROM e CROSS JOIN cent),
       |cells AS (SELECT vec_id, cell FROM ca WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM ca WHERE vec_id < 3 AND rk <= 4),
       |cand AS (SELECT probes.query_id, cells.vec_id
       |  FROM probes JOIN cells ON probes.cell = cells.cell
       |  WHERE probes.query_id <> cells.vec_id),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |enc AS (SELECT e.vec_id, cb.j, cb.c,
       |    row_number() OVER (PARTITION BY e.vec_id, cb.j
       |      ORDER BY list_distance(list_transform(range(1, ${subDim + 1}),
       |        i -> e.v[cb.j * $subDim + i]), cb.cv), cb.c) AS rk
       |  FROM e CROSS JOIN cb),
       |codes AS (SELECT vec_id, j, c FROM enc WHERE rk = 1),
       |tab AS (SELECT q.query_id, cb.j, cb.c,
       |    list_dot_product(
       |      list_transform(range(1, ${subDim + 1}), i -> q.qv[cb.j * $subDim + i] - cb.cv[i]),
       |      list_transform(range(1, ${subDim + 1}), i -> q.qv[cb.j * $subDim + i] - cb.cv[i])) AS t
       |  FROM q CROSS JOIN cb),
       |at AS (SELECT cand.query_id, cand.vec_id, codes.j, tab.t
       |  FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |    JOIN tab ON tab.query_id = cand.query_id AND codes.j = tab.j AND codes.c = tab.c),
       |pv AS (SELECT query_id, vec_id,
       |    $pivotCols
       |  FROM at GROUP BY 1, 2),
       |adc AS (SELECT query_id, vec_id, $orderedSum AS adc_dist FROM pv),
       |r AS (SELECT query_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)
       |SELECT query_id, rank, vec_id, round(adc_dist, 4) AS adc_dist
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of the q123 RESIDUAL IVF+PQ pipeline: the q122
    * replay with the centroid subtraction at every site FAISS IVFPQ
    * specifies — the corpus residual (v[i] - cc[i], plain double
    * subtraction on both engines), code assignment as argmin over
    * RESIDUAL subvector slices, and one ADC table per (query, probed
    * cell) whose diff is (qv - cc_probe) - cv (left-assoc, matching the
    * driver loop's order of operations bit-for-bit).
    */
  private def q123OracleSql(cent: Seq[Double], cbs: Seq[Seq[Double]]): String =
    residualAdcReplayCtes(cent, cbs,
      "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)") +
      """
        |SELECT query_id, rank, vec_id, round(adc_dist, 4) AS adc_dist
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB replica of the q134 PRODUCTION ANN STACK: the q132
    * captured-rotation CTE builds the rotated vectors, the q123
    * residual-ADC replay ranks probed candidates over them, the top
    * `rerank` = 12 feed an exact squared-L2 rerank
    * (list_dot_product(diff, diff) — bit-identical to the dist2 kernel's
    * ascending-i accumulation over the SAME rotated doubles), and the
    * exact top-5 wins.
    */
  private def q134OracleSql(rot: Seq[Double], cent: Seq[Double],
      cbs: Seq[Seq[Double]]): String =
    residualAdcReplayCtes(cent, cbs, rotatedVectorsCtes(rot)) +
      """,
        |cand12 AS (SELECT query_id, vec_id FROM r WHERE rank <= 12),
        |rr2 AS (SELECT c.query_id, c.vec_id,
        |    list_dot_product(
        |      list_transform(range(1, 65), i -> e.v[i] - q.qv[i]),
        |      list_transform(range(1, 65), i -> e.v[i] - q.qv[i])) AS dist2
        |  FROM cand12 c JOIN e ON c.vec_id = e.vec_id
        |    JOIN q ON c.query_id = q.query_id),
        |rk2 AS (SELECT query_id, vec_id, dist2,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist2, vec_id) AS rank
        |  FROM rr2)
        |SELECT query_id, rank, vec_id, round(dist2, 4) AS dist2
        |FROM rk2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The shared q123 residual-ADC replay: `eCtes` must define
    * `e (vec_id, v)` (plain cast vectors for q123, captured-rotation
    * products for q134); returns the full WITH chain through
    * `r (query_id, vec_id, adc_dist, rank)` and `q (query_id, qv)` —
    * callers append the final SELECT (q123) or further rerank CTEs
    * (q134).
    */
  private def residualAdcReplayCtes(cent: Seq[Double], cbs: Seq[Seq[Double]],
      eCtes: String): String = {
    val subDim = 64 / cbs.length
    val (pivotCols, orderedSum) = adcPivot(cbs.length)
    s"""WITH $eCtes,
       |cent(cell, cc) AS (VALUES
       |  ${centroidRows(cent)}),
       |cb(j, c, cv) AS (VALUES
       |  ${codebookRows(cbs)}),
       |ca AS (SELECT e.vec_id, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.v, cent.cc), cent.cell) AS rk
       |  FROM e CROSS JOIN cent),
       |cells AS (SELECT vec_id, cell FROM ca WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM ca WHERE vec_id < 3 AND rk <= 4),
       |res AS (SELECT e.vec_id, cells.cell,
       |    list_transform(range(1, 65), i -> e.v[i] - cent.cc[i]) AS r
       |  FROM e JOIN cells ON e.vec_id = cells.vec_id
       |    JOIN cent ON cells.cell = cent.cell),
       |enc AS (SELECT res.vec_id, cb.j, cb.c,
       |    row_number() OVER (PARTITION BY res.vec_id, cb.j
       |      ORDER BY list_distance(list_transform(range(1, ${subDim + 1}),
       |        i -> res.r[cb.j * $subDim + i]), cb.cv), cb.c) AS rk
       |  FROM res CROSS JOIN cb),
       |codes AS (SELECT vec_id, j, c FROM enc WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |tab AS (SELECT probes.query_id, probes.cell, cb.j, cb.c,
       |    list_dot_product(
       |      list_transform(range(1, ${subDim + 1}),
       |        i -> (q.qv[cb.j * $subDim + i] - cent.cc[cb.j * $subDim + i]) - cb.cv[i]),
       |      list_transform(range(1, ${subDim + 1}),
       |        i -> (q.qv[cb.j * $subDim + i] - cent.cc[cb.j * $subDim + i]) - cb.cv[i])) AS t
       |  FROM probes JOIN q ON probes.query_id = q.query_id
       |    JOIN cent ON probes.cell = cent.cell CROSS JOIN cb),
       |cand AS (SELECT probes.query_id, cells.vec_id, cells.cell
       |  FROM probes JOIN cells ON probes.cell = cells.cell
       |  WHERE probes.query_id <> cells.vec_id),
       |at AS (SELECT cand.query_id, cand.vec_id, codes.j, tab.t
       |  FROM cand JOIN codes ON cand.vec_id = codes.vec_id
       |    JOIN tab ON tab.query_id = cand.query_id AND tab.cell = cand.cell
       |      AND tab.j = codes.j AND tab.c = codes.c),
       |pv AS (SELECT query_id, vec_id,
       |    $pivotCols
       |  FROM at GROUP BY 1, 2),
       |adc AS (SELECT query_id, vec_id, $orderedSum AS adc_dist FROM pv),
       |r AS (SELECT query_id, vec_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc)""".stripMargin
  }

  /** DuckDB replica of the q71 SemDeDup pipeline with the trained
    * centroids as literals: nearest-cell assignment (list_distance ties to
    * the lower cell id, matching the strict-< argmin), pairs share a cell,
    * exact cosine threshold — the same dot/sqrt form as the q35 oracle.
    */
  private def q71OracleSql(cent: Seq[Double]): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |cent(cell, c) AS (VALUES
       |  ${centroidRows(cent)}),
       |d AS (SELECT e.vec_id, e.v, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.v, cent.c), cent.cell) AS rk
       |  FROM e CROSS JOIN cent),
       |a AS (SELECT vec_id, v, CAST(cell AS BIGINT) AS cell FROM d WHERE rk = 1)
       |SELECT x.cell, x.vec_id AS id_a, y.vec_id AS id_b,
       |  round(list_dot_product(x.v, y.v) /
       |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
       |FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |WHERE list_dot_product(x.v, y.v) /
       |  (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replica of the IVF pipeline with the trained centroids as
    * literals: every vector ranks the 16 cells by euclidean distance
    * (`list_distance`; ties to the lower cell id, matching
    * `TextAlgo.nearestCentroids`'s strict-< scan), the corpus stores each
    * vector in its 2 nearest cells (corpusAssign), queries probe their 4
    * nearest (nProbe), candidates share a cell, exact cosine re-rank.
    */
  private def q37OracleSql(cent: Seq[Double]): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |cent(cell, c) AS (VALUES
       |  ${centroidRows(cent)}),
       |d AS (SELECT e.vec_id, e.v, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.v, cent.c), cent.cell) AS rk
       |  FROM e CROSS JOIN cent),
       |corpus AS (SELECT vec_id AS neighbor_id, v, cell FROM d WHERE rk <= 2),
       |q AS (SELECT vec_id AS query_id, v, cell FROM d WHERE vec_id < 3 AND rk <= 4),
       |cand AS (SELECT DISTINCT q.query_id, corpus.neighbor_id
       |  FROM q JOIN corpus ON q.cell = corpus.cell AND q.query_id <> corpus.neighbor_id),
       |scored AS (SELECT cand.query_id, cand.neighbor_id,
       |    list_dot_product(cv.v, qv.v) /
       |      (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS cos
       |  FROM cand JOIN e cv ON cand.neighbor_id = cv.vec_id
       |            JOIN e qv ON cand.query_id = qv.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cosine
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Trained 64-d centroids as `(cell, vector)` VALUES rows. */
  private def centroidRows(cent: Seq[Double]): String =
    cent.grouped(64).zipWithIndex.map { case (c, i) =>
      c.map(d => java.lang.Double.toString(d))
        .mkString(s"($i, CAST([", ", ", "] AS DOUBLE[]))")
    }.mkString(",\n  ")

  /** PQ codebooks as `(subspace j, code c, subvector)` VALUES rows. */
  private def codebookRows(cbs: Seq[Seq[Double]]): String = {
    val subDim = 64 / cbs.length
    val ksub = cbs.head.length / subDim
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      (0 until ksub).map { c =>
        cb.slice(c * subDim, (c + 1) * subDim)
          .map(d => java.lang.Double.toString(d))
          .mkString(s"($j, $c, CAST([", ", ", "] AS DOUBLE[]))")
      }
    }.mkString(",\n  ")
  }

  /** The ADC pivot over `m` subspaces: one table-entry column per
    * subspace, and their ascending-j parenthesized sum.
    */
  private def adcPivot(m: Int): (String, String) =
    ((0 until m).map(j => s"max(CASE WHEN at.j = $j THEN at.t END) AS t$j").mkString(",\n    "),
      (1 until m).foldLeft("t0") { (acc, j) => s"($acc + t$j)" })

  /** CTEs defining `e (vec_id, v)` as the captured rotation applied to
    * every embedding (q132, q134): the rotation's COLUMN vectors as
    * VALUES, each rotated coordinate a list_dot_product(v0, column j)
    * (ascending-i, bit-identical to the mat_vec kernel), assembled in j
    * order by the ordered list aggregate.
    */
  private def rotatedVectorsCtes(rot: Seq[Double]): String = {
    val rcolRows = (0 until 64).map { j =>
      (0 until 64).map(i => java.lang.Double.toString(rot(i * 64 + j)))
        .mkString(s"($j, CAST([", ", ", "] AS DOUBLE[]))")
    }.mkString(",\n  ")
    s"""e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0 FROM embeddings),
       |rcol(j, rv) AS (VALUES
       |  $rcolRows),
       |e AS (SELECT e0.vec_id,
       |    list(list_dot_product(e0.v0, rcol.rv) ORDER BY rcol.j) AS v
       |  FROM e0 CROSS JOIN rcol GROUP BY e0.vec_id)""".stripMargin
  }

  /** The embeddings as `(vec_id, <as>)`, the vector cast to array<double>. */
  private def vectors(s: SparkSession, dir: String, as: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as(as))

  /** An ADC top-k frame as `(query_id, rank, vec_id, adc_dist)`, the
    * distance rounded to 4 places, in query then rank order.
    */
  private def adcRanked(topK: DataFrame): DataFrame =
    topK.select(col("query_id"), col("rank"), col("vec_id"),
        round(col("adc_dist"), 4).as("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
}
