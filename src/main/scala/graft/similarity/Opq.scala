package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.Kernels

/** OPQ — Optimized Product Quantization (Ge, He, Ke & Sun, CVPR 2013 /
  * TPAMI 2014; FAISS's `OPQm` pre-transform): learn an ORTHOGONAL
  * rotation R so that PQ on x·R quantizes better than PQ on x. Plain PQ
  * assumes the m subspaces are independent; real embeddings carry
  * cross-subspace correlation, which axis-aligned subspace codebooks
  * cannot represent — a rotation that decorrelates/balances the
  * subspaces removes exactly that loss (rotating queries and corpus by
  * the same R preserves every L2 distance, so search semantics are
  * unchanged).
  *
  * Training is the paper's non-parametric alternation, entirely on the
  * ONE bounded seeded sample (corpus-size-independent, the
  * [[Pq.trainCodebooks]] convention):
  *   repeat: (a) rotate the sample, (b) Lloyd per-subspace codebooks,
  *   (c) encode -> reconstructions Y-hat, (d) orthogonal Procrustes
  *   min_R ||X R - Y-hat||_F = polar(X^T Y-hat) via a Newton polar
  *   iteration (Higham 1986: Z <- (Z + Z^{-T})/2 converges to the
  *   orthogonal polar factor U V^T — no SVD library needed).
  * The returned R is row-major d x d; rotated(j) = sum_i v(i) R(i, j),
  * ascending-i accumulation (the oracle's list_dot_product against R's
  * COLUMN vectors replays every double bit-for-bit — the q121
  * contract).
  *
  * Use: `val r = Opq.trainRotation(corpus, ...)`; rotate corpus AND
  * queries with [[rotate]] (one compiled map-side pass, persist the
  * rotated codes like any PQ deployment); everything downstream is the
  * verified [[Pq]] machinery unchanged.
  */
object Opq {

  import Similarity.nearest

  /** y = v R (row-major R, ascending-i accumulation) — driver twin of
    * the compiled kernel ([[graft.functions.TextAlgo.matVec]]).
    */
  def matVecLocal(v: Array[Double], r: Array[Double], dim: Int): Array[Double] = {
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var s = 0.0
      var i = 0
      while (i < dim) { s += v(i) * r(i * dim + j); i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  /** Rotated vector column: array<double> of length dim, one compiled
    * map-side pass; R ships as a codegen reference object.
    */
  def rotate(vec: Column, r: Seq[Double], dim: Int): Column =
    Kernels.matVec(vec, r, dim)

  /** Learn the OPQ rotation from one bounded seeded sample. Returns
    * row-major d x d R with R^T R = I (checked). Deterministic given
    * the seed: the sample is the hash-ordered cap, the inner Lloyd is
    * seeded by (seed, subspace), and every step is driver float math.
    */
  def trainRotation(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int = 16,
      iters: Int = 8,
      seed: Long = 42L): Seq[Double] = {
    require(m > 0 && dim % m == 0, s"dim $dim must be a multiple of m $m")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val subDim = dim / m
    val sample = Similarity.hashSample(corpus, idCol, vecCol, seed,
      Similarity.trainingCap(ksub), "an OPQ rotation")
    val n = sample.length

    var r = identity(dim)
    // codebooks WARM-START across OPQ iterations (the paper's
    // alternation is monotone only if the quantizer continues from its
    // previous state — a cold Lloyd restart each round can jump local
    // optima and push R toward a degenerate target; measured: the
    // cold-restart variant INCREASED reconstruction error round over
    // round on the anisotropic fixture)
    var cbs: IndexedSeq[Array[Double]] = null
    var it = 0
    while (it < iters) {
      val rotated = sample.map(matVecLocal(_, r, dim))
      cbs = subspaceCodebooks(rotated, m, subDim, ksub, Option(cbs))
      // reconstructions under the current quantizer
      val recon = rotated.map(reconstruct(_, cbs, subDim))
      // Procrustes: M = X^T Y-hat (d x d), R = polar(M)
      val mMat = new Array[Double](dim * dim)
      var k = 0
      while (k < n) {
        val x = sample(k)
        val y = recon(k)
        var i = 0
        while (i < dim) {
          val xi = x(i)
          if (xi != 0.0) {
            var j2 = 0
            while (j2 < dim) { mMat(i * dim + j2) += xi * y(j2); j2 += 1 }
          }
          i += 1
        }
        k += 1
      }
      // keep the previous R unless the Newton iterate is actually
      // orthogonal: polarOrthogonal returns its 60th iterate even when
      // unconverged, and a non-orthogonal R would silently break the
      // distance-preservation invariant the whole pipeline relies on
      // (ADVICE round 10)
      r = polarOrthogonal(mMat, dim)
        .filter(cand => orthogonalityDeviation(cand, dim) < 1e-8)
        .getOrElse(r)
      it += 1
    }
    require(orthogonalityDeviation(r, dim) < 1e-8,
      "OPQ rotation failed the orthogonality check max|R^T R - I| < 1e-8")
    r.toSeq
  }

  /** max over (i, j) of |(R^T R)(i, j) - I(i, j)| — the orthogonality
    * residual [[trainRotation]] gates every Procrustes update on.
    */
  private[similarity] def orthogonalityDeviation(r: Array[Double], d: Int): Double = {
    var worst = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        // (R^T R)(i, j) = sum_k R(k, i) * R(k, j)
        var s = 0.0
        var k = 0
        while (k < d) { s += r(k * d + i) * r(k * d + j); k += 1 }
        val want = if (i == j) 1.0 else 0.0
        val dev = math.abs(s - want)
        if (dev > worst) worst = dev
        j += 1
      }
      i += 1
    }
    worst
  }

  /** Mean squared reconstruction error of per-subspace PQ on the GIVEN
    * already-transformed sample — the OPQ objective, exposed so specs
    * can assert the rotation actually helps.
    */
  def reconstructionError(
      vectors: Array[Array[Double]],
      dim: Int,
      m: Int,
      ksub: Int): Double = {
    val subDim = dim / m
    val cbs = subspaceCodebooks(vectors, m, subDim, ksub, None)
    var tot = 0.0
    vectors.foreach { y =>
      val rec = reconstruct(y, cbs, subDim)
      var i = 0
      while (i < rec.length) { val d = y(i) - rec(i); tot += d * d; i += 1 }
    }
    tot / vectors.length
  }

  /** The `m` per-subspace [[lloydLocal]] codebooks of `vectors`: 25 cold
    * passes, or 8 passes warm-started from `warm`'s codebooks.
    */
  private def subspaceCodebooks(vectors: Array[Array[Double]], m: Int, subDim: Int,
      ksub: Int, warm: Option[IndexedSeq[Array[Double]]]): IndexedSeq[Array[Double]] =
    (0 until m).map { j =>
      lloydLocal(vectors.map(_.slice(j * subDim, (j + 1) * subDim)),
        subDim, ksub, init = warm.map(_(j)), iters = if (warm.isEmpty) 25 else 8)
    }

  /** `y` with each `subDim` subspace replaced by its nearest code word. */
  private def reconstruct(
      y: Array[Double], cbs: IndexedSeq[Array[Double]], subDim: Int): Array[Double] = {
    val out = new Array[Double](cbs.length * subDim)
    cbs.indices.foreach { j =>
      val c = nearest(y, cbs(j), subDim, j * subDim)._1
      System.arraycopy(cbs(j), c * subDim, out, j * subDim, subDim)
    }
    out
  }

  // ---- driver linear algebra (d <= a few hundred; deterministic) ----

  private def identity(d: Int): Array[Double] = {
    val r = new Array[Double](d * d)
    var i = 0
    while (i < d) { r(i * d + i) = 1.0; i += 1 }
    r
  }

  /** Plain deterministic Lloyd for the OPQ inner loop (internal — the
    * FINAL search codebooks come from [[Pq.trainCodebooks]] over the
    * rotated corpus, so this only has to be a reasonable quantizer):
    * deterministic greedy-maximin init (farthest-point-first from the
    * first sample point — evenly-spaced init proved local-optimum-prone
    * enough to destabilize the OPQ alternation) unless warm-started,
    * then a fixed `iters` [[Similarity.lloydStep]] passes.
    */
  private[similarity] def lloydLocal(points: Array[Array[Double]], subDim: Int,
      ksub: Int, init: Option[Array[Double]] = None, iters: Int = 25): Array[Double] = {
    val n = points.length
    val cb = init.map(_.clone()).getOrElse {
      val out = new Array[Double](ksub * subDim)
      val k = math.min(ksub, n)
      // greedy maximin: start at point 0, then repeatedly take the
      // point farthest from its nearest chosen center
      val minD = Array.fill(n)(Double.MaxValue)
      var chosen = 0
      var c0 = 0
      while (c0 < k) {
        System.arraycopy(points(chosen), 0, out, c0 * subDim, subDim)
        var best = -1
        var bestD = -1.0
        var p = 0
        while (p < n) {
          val s = nearest(points(p), points(chosen), subDim)._2
          if (s < minD(p)) minD(p) = s
          if (minD(p) > bestD) { bestD = minD(p); best = p }
          p += 1
        }
        chosen = best
        c0 += 1
      }
      out
    }
    val assign = new Array[Int](n)
    (0 until iters).foreach(_ => Similarity.lloydStep(points, cb, subDim, assign))
    cb
  }

  /** Orthogonal polar factor of a square matrix via the Newton
    * iteration Z <- (Z + Z^{-T}) / 2 (Higham 1986) — equals U V^T of
    * the SVD, i.e. the Procrustes-optimal rotation. None when the
    * matrix is numerically singular (caller keeps the previous R).
    */
  private[similarity] def polarOrthogonal(m: Array[Double], d: Int): Option[Array[Double]] = {
    var z = m.clone()
    var iter = 0
    while (iter < 60) {
      val inv = invert(z, d).getOrElse(return None)
      val next = new Array[Double](d * d)
      var diff = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          // Z^{-T}(i, j) = inv(j, i)
          val v = (z(i * d + j) + inv(j * d + i)) / 2.0
          diff = math.max(diff, math.abs(v - z(i * d + j)))
          next(i * d + j) = v
          j += 1
        }
        i += 1
      }
      z = next
      if (diff < 1e-13) iter = 60 else iter += 1
    }
    Some(z)
  }

  /** Gauss-Jordan inverse with partial pivoting; None when singular. */
  private[similarity] def invert(m: Array[Double], d: Int): Option[Array[Double]] = {
    val a = m.clone()
    val inv = identity(d)
    var col = 0
    while (col < d) {
      var piv = col
      var best = math.abs(a(col * d + col))
      var r2 = col + 1
      while (r2 < d) {
        val v = math.abs(a(r2 * d + col))
        if (v > best) { best = v; piv = r2 }
        r2 += 1
      }
      if (best < 1e-12) return None
      if (piv != col) {
        var j = 0
        while (j < d) {
          val t = a(col * d + j); a(col * d + j) = a(piv * d + j); a(piv * d + j) = t
          val t2 = inv(col * d + j); inv(col * d + j) = inv(piv * d + j); inv(piv * d + j) = t2
          j += 1
        }
      }
      val p = a(col * d + col)
      var j = 0
      while (j < d) { a(col * d + j) /= p; inv(col * d + j) /= p; j += 1 }
      var r3 = 0
      while (r3 < d) {
        if (r3 != col) {
          val f = a(r3 * d + col)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < d) {
              a(r3 * d + j2) -= f * a(col * d + j2)
              inv(r3 * d + j2) -= f * inv(col * d + j2)
              j2 += 1
            }
          }
        }
        r3 += 1
      }
      col += 1
    }
    Some(inv)
  }
}
