package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}

import graft.functions.{CentroidResidualExpr, NearestCentroidsExpr, PqAdcDistAtExpr, PqAdcDistsExpr}

/** Product quantization for embedding ANN at corpus scale (Jégou,
  * Douze & Schmid, TPAMI 2011 — the FAISS `PQm` family): split each
  * `dim`-vector into `m` subvectors, learn a small k-means codebook
  * per subspace, and represent every vector by its `m` nearest-code
  * ids. A 64-dim float vector (256 B) becomes m=8 single-byte-range
  * codes — the compression that lets a 100 TB embedding corpus keep
  * its SEARCH structure resident. Queries score against codes with
  * ADC (asymmetric distance computation): one per-query lookup table
  * of m x ksub exact sub-distances, then each corpus row costs m
  * table lookups — no per-row float vector arithmetic at all.
  *
  * Scale shape:
  *  - training: m bounded seeded-sample k-means jobs
  *    ([[Similarity.trainIvfCentroids]] on sliced subvectors — cost is
  *    corpus-size-independent);
  *  - encoding: ONE compiled map-side pass (m argmin scans per row,
  *    [[NearestCentroidsExpr]]); codes can be persisted and reused —
  *    the corpus's float vectors never need to be read again;
  *  - search: ADC tables build on the driver (Q x m x ksub x subDim
  *    flops — trivial for a bounded query batch), ship as ONE codegen
  *    reference object scoring ALL queries in a single corpus scan
  *    ([[PqAdcDistsExpr]]); the per-query top-k is a map-side
  *    WindowGroupLimit, so the only exchange carries candidate rows.
  *
  * Determinism/oracle contract: codebooks are deterministic given the
  * seed (captured as literals, the q37/q65 pattern); code assignment
  * is the strict-< ascending-index argmin; ADC doubles accumulate in
  * ascending index order at BOTH levels (sub-distance over i, total
  * over j), so another engine replays every distance bit-for-bit.
  *
  * ==Which entry point to use==
  *
  * For production ANN search, use [[ivfAdcTopKResidualRefined]] (or
  * [[adcTopKRefined]] without a coarse quantizer): residual codes +
  * IVF routing + an EXACT rerank of the Q x R candidate rows. The
  * UNREFINED ADC top-k ([[adcTopK]]/[[ivfAdcTopK]]/
  * [[ivfAdcTopKResidual]]) is a CANDIDATE GENERATOR, not a finished
  * ranking — PQ codes cannot micro-rank inside tight clusters, and the
  * measured recall@10 on the 20-cluster BENCHNOTES fixture is 1.2%
  * raw / 8.8% residual without the rerank, vs 57% residual+rerank at
  * R=200 and 99% at R=cluster-size. Treat the unrefined forms as the
  * building block they are (reranking is where recall comes from;
  * `rerank` must cover the quantization ambiguity set).
  */
object Pq {

  /** Train the `m` per-subspace codebooks from ONE bounded seeded
    * corpus sample (TakeOrdered by hash, the [[Similarity
    * .trainIvfCentroids]] convention): the sample's full vectors are
    * collected once and each subspace's multi-restart Lloyd (seeded
    * per subspace) runs over its slice — one corpus scan for all m
    * codebooks, where per-subspace sampling would pay m scans just to
    * draw training rows at 100 TB. Returns row-major (ksub x subDim)
    * codebooks.
    */
  def trainCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int = 16,
      seed: Long = 42L): Seq[Seq[Double]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must be a multiple of m $m")
    val subDim = dim / m
    // same cap rule as the IVF trainer at nLists = ksub
    val cap = math.min(256 * ksub, math.max(25000, 64 * ksub))
    val sample: Array[Seq[Double]] = corpus
      .select(col(vecCol).as("__v"), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(cap)
      .select(col("__v"))
      .collect()
      .map(_.getSeq[Any](0).map {
        case d: Double => d
        case f: Float => f.toDouble
        case n: Number => n.doubleValue()
      })
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    (0 until m).map { j =>
      val slices = sample.zipWithIndex
        .map { case (v, i) => (i.toLong, v.slice(j * subDim, (j + 1) * subDim).toArray) }
      // the sample is already on the driver: the LOCAL trainer replays
      // the DataFrame path's hash order + multi-restart Lloyd
      // bit-identically (spec-pinned) without paying one Spark job per
      // subspace just to sort+collect a LocalRelation (r11, guide §1.2)
      Similarity.trainIvfCentroidsLocal(slices.toIndexedSeq,
        subDim, nLists = ksub, seed = seed + j)
    }
  }

  /** PQ codes of a vector column: array<long> of length m, code j = the
    * strict-< argmin centroid of subspace j — one compiled pass.
    */
  def encode(vec: Column, codebooks: Seq[Seq[Double]], dim: Int): Column = {
    val m = codebooks.length
    require(m > 0 && dim % m == 0, s"dim $dim must be a multiple of m $m")
    val subDim = dim / m
    array((0 until m).map { j =>
      toCol(NearestCentroidsExpr(
        toExpr(slice(vec, j * subDim + 1, subDim)), codebooks(j), subDim, 1))
        .getItem(0)
    }: _*)
  }

  /** Top-`k` ADC neighbors per query over the encoded corpus. `queries`
    * must be a BOUNDED frame (the ANN batch model — its vectors are
    * collected to build the lookup tables); self-matches are excluded.
    * Output: (query_id, rank, vec_id, adc_dist) — adc_dist is the
    * approximate SQUARED L2 distance (the PQ reconstruction metric).
    */
  def adcTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    val ksub = codebooks.head.length / subDim
    require(codebooks.forall(_.length == ksub * subDim),
      "all codebooks must hold ksub x subDim values")
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
    require(qRows.nonEmpty, "query batch is empty")
    val qIds: Array[Long] = qRows.map(_.getLong(0))
    // ADC tables, row-major (query, subspace, code): exact squared
    // sub-distances, ascending-i accumulation (the oracle's
    // list_dot_product(diff, diff) replays this bit-for-bit)
    val tables: Array[Double] = qRows.flatMap { r =>
      val qv = r.getSeq[Any](1).toArray.map {
        case d: Double => d
        case f: Float => f.toDouble
        case n: Number => n.doubleValue()
      }
      (0 until m).flatMap { j =>
        val cb = codebooks(j)
        (0 until ksub).map { c =>
          var s = 0.0
          var i = 0
          while (i < subDim) {
            val d = qv(j * subDim + i) - cb(c * subDim + i)
            s += d * d
            i += 1
          }
          s
        }
      }
    }
    val codes = encode(col(vecCol), codebooks, dim)
    val dists = toCol(PqAdcDistsExpr(toExpr(codes), tables.toSeq, m, ksub))
    val w = Window.partitionBy(col("__qi")).orderBy(col("adc_dist"), col("vec_id"))
    corpus
      .select(col(idCol).as("vec_id"), posexplode(dists).as(Seq("__qi", "adc_dist")))
      .withColumn("query_id", element_at(typedlit(qIds.toSeq), col("__qi") + 1))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_dist"))
  }

  /** [[adcTopK]] with an EXACT rerank (the FAISS refine step,
    * `IndexRefineFlat`): ADC generates `rerank` candidates per query,
    * then true squared-L2 re-scores those candidates only and the
    * exact top-`k` wins. PQ codes can't micro-rank inside tight
    * clusters (quantization collapses near-identical vectors onto one
    * code — measured recall@10 of 1% on a 20-cluster corpus,
    * BENCHNOTES.md); as a CANDIDATE GENERATOR + exact rerank the
    * recall is a tunable function of `rerank` (R = 50 already recovers
    * ~all of it there). Cost shape: the corpus scan is still
    * ADC-over-codes; the float vectors are read only for the Q x R
    * candidate rows (broadcast semi-join on id) — at 100 TB that is
    * the difference between re-reading the corpus and re-reading a few
    * thousand rows.
    */
  def adcTopKRefined(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be >= k $k")
    val cands = adcTopK(corpus, idCol, vecCol, queries, codebooks, dim, rerank)
      .select(col("query_id"), col("vec_id"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val withVec = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("dist2", toCol(graft.functions.Dist2Expr(
        toExpr(col("__cv")), toExpr(col("__qv")))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("vec_id"))
    withVec
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist2"))
  }

  /** IVF+PQ (the FAISS `IVFx,PQm` composition — the canonical
    * billion-scale ANN layout): an IVF coarse quantizer routes each
    * query to its `nProbe` nearest cells and ADC scoring runs over the
    * PQ codes of THOSE cells' residents only — [[adcTopK]]'s scan cost
    * drops from the corpus to the probed occupancy, and with
    * occupancy-scaled cell counts the per-query work is
    * corpus-size-independent. Every building block is the verified
    * one: cell assignment and query probing are the compiled strict-<
    * argmin ([[NearestCentroidsExpr]], the q37 machinery), scoring is
    * the q121 ADC table. The probe pairs (query, cell) broadcast; the
    * only exchange is the per-query top-k rank over candidates.
    *
    * Output: (query_id, rank, vec_id, adc_dist), rank over the probed
    * candidates (IVF recall semantics: a true neighbor outside every
    * probed cell is missed — the standard trade, tuned by `nProbe`).
    */
  def ivfAdcTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      centroids: Seq[Double],
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int,
      nProbe: Int): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    val ksub = codebooks.head.length / subDim
    // probes computed by the SAME compiled kernel as corpus assignment,
    // collected with the query vectors (bounded batch)
    val qRows = queries.select(col(idCol).cast("long").as("__id"),
        toCol(NearestCentroidsExpr(toExpr(col(vecCol)), centroids, dim, nProbe)).as("__pb"),
        col(vecCol).as("__v"))
      .collect()
    require(qRows.nonEmpty, "query batch is empty")
    val qIds: Array[Long] = qRows.map(_.getLong(0))
    val tables: Array[Double] = qRows.flatMap { r =>
      val qv = r.getSeq[Any](2).toArray.map {
        case d: Double => d
        case f: Float => f.toDouble
        case n: Number => n.doubleValue()
      }
      (0 until m).flatMap { j =>
        val cb = codebooks(j)
        (0 until ksub).map { c =>
          var s = 0.0
          var i = 0
          while (i < subDim) {
            val d = qv(j * subDim + i) - cb(c * subDim + i)
            s += d * d
            i += 1
          }
          s
        }
      }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val probePairs = qRows.zipWithIndex.flatMap { case (r, qi) =>
      r.getSeq[Long](1).map(cell => (qi, r.getLong(0), cell))
    }.toSeq.toDF("__qi", "query_id", "__cell")
    val cellOf = toCol(NearestCentroidsExpr(toExpr(col(vecCol)), centroids, dim, 1)).getItem(0)
    val codes = encode(col(vecCol), codebooks, dim)
    val dists = toCol(PqAdcDistsExpr(toExpr(codes), tables.toSeq, m, ksub))
    val w = Window.partitionBy(col("__qi")).orderBy(col("adc_dist"), col("vec_id"))
    corpus
      .select(col(idCol).as("vec_id"), cellOf.as("__cell"), dists.as("__ds"))
      .join(broadcast(probePairs), Seq("__cell"))
      .select(col("query_id"), col("__qi"), col("vec_id"),
        element_at(col("__ds"), col("__qi") + 1).as("adc_dist"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_dist"))
  }

  private def toDoubles(s: Seq[Any]): Array[Double] = s.toArray.map {
    case d: Double => d
    case f: Float => f.toDouble
    case n: Number => n.doubleValue()
  }

  /** Driver-side twin of the compiled strict-< ascending-index argmin
    * ([[graft.functions.TextAlgo.nearestCentroids]] at nProbe=1): same
    * index-ordered squared-diff accumulation, so a sample vector's cell
    * here equals the corpus scan's cell for that vector bit-for-bit.
    */
  private def nearestCell(v: Array[Double], centroids: Array[Double], dim: Int): Int = {
    val nLists = centroids.length / dim
    var best = -1
    var bestD = Double.MaxValue
    var c = 0
    while (c < nLists) {
      var s = 0.0
      var i = 0
      val off = c * dim
      val n = math.min(v.length, dim)
      while (i < n) { val d = v(i) - centroids(off + i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** [[trainCodebooks]] on IVF RESIDUALS (the FAISS IVFPQ construction):
    * each sample vector is assigned its coarse cell, the codebooks are
    * learned on v - centroid(cell) — so the m x ksub codes spend their
    * resolution on WITHIN-cell structure instead of re-describing the
    * coarse geometry the cell id already captures. Raw-vector codes
    * collapse a tight cluster onto one code word (measured recall@10 of
    * ~1% intra-cluster, BENCHNOTES.md); residual codes
    * discriminate inside the cell. Same one-bounded-sample cost shape
    * as [[trainCodebooks]] — the cell assignment of the sample happens
    * on the driver with the kernel's own argmin.
    */
  def trainResidualCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      centroids: Seq[Double],
      ksub: Int = 16,
      seed: Long = 42L): Seq[Seq[Double]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must be a multiple of m $m")
    require(centroids.nonEmpty && centroids.length % dim == 0,
      "centroids must be row-major nLists x dim")
    val subDim = dim / m
    val cap = math.min(256 * ksub, math.max(25000, 64 * ksub))
    val centArr = centroids.toArray
    val residuals: Array[Array[Double]] = corpus
      .select(col(vecCol).as("__v"), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(cap)
      .select(col("__v"))
      .collect()
      .map { r =>
        val v = toDoubles(r.getSeq[Any](0))
        val off = nearestCell(v, centArr, dim) * dim
        val out = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { out(i) = v(i) - centArr(off + i); i += 1 }
        out
      }
    require(residuals.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    (0 until m).map { j =>
      val slices = residuals.zipWithIndex
        .map { case (v, i) => (i.toLong, v.slice(j * subDim, (j + 1) * subDim)) }
      // local trainer — bit-identical to the DataFrame path, no
      // per-subspace Spark job (see trainCodebooks)
      Similarity.trainIvfCentroidsLocal(slices.toIndexedSeq,
        subDim, nLists = ksub, seed = seed + j)
    }
  }

  /** RESIDUAL IVF+PQ search ([[ivfAdcTopK]] with FAISS's residual
    * encoding): corpus rows are coarse-assigned once, PQ-encoded on
    * v - centroid(cell), and each query builds ONE ADC table PER PROBED
    * CELL from its own residual q - centroid(cell) — so within a cell,
    * distances compare residual against residual and the codes can
    * micro-rank residents the raw-vector codes collapse together.
    *
    * Plan shape is [[ivfAdcTopK]]'s exactly (no new shuffles): the
    * (query, cell) probe pairs broadcast with their table index, the
    * corpus scan computes cell + residual + codes map-side in one
    * compiled pass, the joined row pays m lookups into ITS pair's table
    * ([[PqAdcDistAtExpr]]), and the per-query top-k rank is the only
    * exchange.
    *
    * ==Table-size bound / query-batch chunking==
    *
    * The packed ADC block is Q x nProbe x m x ksub doubles shipped as
    * ONE codegen reference object — at a production batch (Q=10k,
    * nProbe=16, m=16, ksub=256) that is ~5 GB of plan literal, a
    * driver/broadcast bottleneck the flat-PQ path (no nProbe factor)
    * doesn't have. `maxTableDoubles` (default 2^23 = 64 MB of doubles)
    * caps it: the query batch is split into slices whose packed blocks
    * each fit the cap, one plan per slice, results unioned. Queries are
    * independent (the top-k window partitions by query_id) and each
    * slice's tables are computed by the same driver loop, so chunked ==
    * unchunked BIT-IDENTICALLY (spec-pinned); the cost of a smaller cap
    * is one probed-corpus scan per slice.
    */
  def ivfAdcTopKResidual(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      centroids: Seq[Double],
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int,
      nProbe: Int,
      maxTableDoubles: Long = 1L << 23): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    val ksub = codebooks.head.length / subDim
    require(codebooks.forall(_.length == ksub * subDim),
      "all codebooks must hold ksub x subDim values")
    val perQueryDoubles = nProbe.toLong * m * ksub
    require(maxTableDoubles >= perQueryDoubles,
      s"maxTableDoubles $maxTableDoubles cannot hold even one query's " +
        s"nProbe x m x ksub = $perQueryDoubles ADC doubles")
    val qRows = queries.select(col(idCol).cast("long").as("__id"),
        toCol(NearestCentroidsExpr(toExpr(col(vecCol)), centroids, dim, nProbe)).as("__pb"),
        col(vecCol).as("__v"))
      .collect()
    require(qRows.nonEmpty, "query batch is empty")
    val queriesPerChunk = (maxTableDoubles / perQueryDoubles).toInt
    qRows.grouped(queriesPerChunk).map { chunk =>
      ivfAdcTopKResidualChunk(corpus, idCol, vecCol, chunk,
        centroids, codebooks, dim, k, m, subDim, ksub)
    }.reduce(_ unionAll _)
  }

  /** One query-slice plan of [[ivfAdcTopKResidual]] — the full
    * residual-ADC pipeline over a batch whose packed table block is
    * already under the caller's cap.
    */
  private def ivfAdcTopKResidualChunk(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      qRows: Array[org.apache.spark.sql.Row],
      centroids: Seq[Double],
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int,
      m: Int,
      subDim: Int,
      ksub: Int): DataFrame = {
    val centArr = centroids.toArray
    // one (query, probed cell) pair per table, in (query, probe-rank)
    // order; table P = exact squared sub-distances of the query's
    // RESIDUAL against that cell: ((q - cc) - cv)^2, ascending i
    val pairs = qRows.flatMap { r =>
      val qv = toDoubles(r.getSeq[Any](2))
      r.getSeq[Long](1).map(cell => (r.getLong(0), cell, qv))
    }
    val tables: Array[Double] = pairs.flatMap { case (_, cell, qv) =>
      val cOff = cell.toInt * dim
      (0 until m).flatMap { j =>
        val cb = codebooks(j)
        (0 until ksub).map { c =>
          var s = 0.0
          var i = 0
          while (i < subDim) {
            val d = (qv(j * subDim + i) - centArr(cOff + j * subDim + i)) - cb(c * subDim + i)
            s += d * d
            i += 1
          }
          s
        }
      }
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val probePairs = pairs.zipWithIndex
      .map { case ((qid, cell, _), pi) => (pi.toLong, qid, cell) }
      .toSeq.toDF("__pi", "query_id", "__cell")
    val cellCol = toCol(NearestCentroidsExpr(toExpr(col(vecCol)), centroids, dim, 1)).getItem(0)
    val withCell = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__v"),
      cellCol.as("__cell"))
    val residual = toCol(CentroidResidualExpr(toExpr(col("__v")), toExpr(col("__cell")), centroids, dim))
    val codes = encode(residual, codebooks, dim)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_id"))
    withCell
      .select(col("vec_id"), col("__cell"), codes.as("__codes"))
      .join(broadcast(probePairs), Seq("__cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        toCol(PqAdcDistAtExpr(toExpr(col("__codes")), toExpr(col("__pi")),
          tables.toSeq, m, ksub)).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc_dist"))
  }

  /** [[ivfAdcTopKResidual]] + the exact rerank of [[adcTopKRefined]]
    * (FAISS `IVFPQ + IndexRefineFlat`): residual-ADC generates `rerank`
    * candidates per query over the probed cells, true squared-L2
    * re-scores those Q x R rows only. The documented default entry
    * point for production ANN — residual codes make the candidate set
    * good, the refine makes the final ranking exact.
    */
  def ivfAdcTopKResidualRefined(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      centroids: Seq[Double],
      codebooks: Seq[Seq[Double]],
      dim: Int,
      k: Int,
      nProbe: Int,
      rerank: Int,
      maxTableDoubles: Long = 1L << 23): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must be >= k $k")
    val cands = ivfAdcTopKResidual(corpus, idCol, vecCol, queries,
        centroids, codebooks, dim, rerank, nProbe, maxTableDoubles)
      .select(col("query_id"), col("vec_id"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val withVec = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("dist2", toCol(graft.functions.Dist2Expr(
        toExpr(col("__cv")), toExpr(col("__qv")))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("vec_id"))
    withVec
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist2"))
  }
}
