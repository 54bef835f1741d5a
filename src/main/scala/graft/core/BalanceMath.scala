package graft.core

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Pure driver-side arithmetic for group balancing.
  *
  * The reference engine (reference `demv/helpers.py:5-29`, `_balance_set`)
  * balances each sensitive group by appending/dropping ONE uniformly-random
  * row per iteration until `round(w_exp / w_obs, roundLevel) == 1`. Which
  * row moves never affects the ratio — the loop is pure arithmetic on the
  * group SIZE. We therefore replay the loop on counts alone, on the driver,
  * and only materialize the final resize distributedly (see [[ExactSampler]]).
  * This is what makes the operator viable at 100 TB: the cluster computes one
  * aggregation of per-cell counts; everything else is O(iterations) scalar
  * arithmetic on <= 2^n * L cells.
  */
object BalanceMath {

  /** Python-compatible `round(x, ndigits)`: round-half-even performed on the
    * exact binary value of the double (CPython uses correctly-rounded dtoa;
    * `new BigDecimal(double)` is the same exact value). Spark SQL's `round`
    * is half-up — do NOT use it for parity (reference `demv/helpers.py:10`).
    */
  def pyRound(x: Double, ndigits: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else new JBigDecimal(x).setScale(ndigits, RoundingMode.HALF_EVEN).doubleValue()

  /** Disparity as the reference computes it: `w_exp / w_obs`, optionally
    * rounded. `roundLevel <= 0` means no rounding (Python falsy
    * `round_level`, reference `demv/helpers.py:10`).
    */
  private def disparity(wExp: Double, size: Long, total: Long, roundLevel: Int): Double = {
    val wObs = size.toDouble / total.toDouble
    val raw = wExp / wObs
    if (roundLevel > 0) pyRound(raw, roundLevel) else raw
  }

  private def rawRatio(wExp: Double, size: Long, total: Long): Double =
    wExp / (size.toDouble / total.toDouble)

  /** Outcome of replaying the balance loop for one (sensitive..., label) cell.
    *
    * @param targetSize   final group size after balancing
    * @param iters        number of +-1 iterations performed (reference `i`)
    * @param trace        disparity after each iteration, first entry is the
    *                     pre-loop disparity (reference `disparity` list). May
    *                     be truncated to `traceLimit` entries for huge walks;
    *                     `traceTruncated` flags that.
    * @param maxIterHit   the loop stopped because `iters == stop`
    *                     (reference prints "Warning: max iterations reached")
    */
  final case class BalanceResult(
      targetSize: Long,
      iters: Long,
      trace: Vector[Double],
      maxIterHit: Boolean,
      traceTruncated: Boolean)

  /** Replay `_balance_set` (reference `demv/helpers.py:5-29`) on sizes only.
    *
    * Exact semantics preserved:
    *  - loop guard uses the ROUNDED disparity, step direction uses the RAW
    *    ratio (they differ; with small groups the walk can overshoot the
    *    rounding window and oscillate until `stop`);
    *  - the iteration counter only increments while the group stays
    *    non-empty; the group hitting size 0 ends the loop immediately;
    *  - floating-point op order matches the reference:
    *    `w_obs = size/total` then `w_exp / w_obs`.
    *
    * @param wExp  expected weight: `(comboCount/total) * (labelCount/total)`,
    *              computed by the caller with exactly that op order
    * @param g0    initial cell size (> 0; empty cells are skipped upstream,
    *              reference `demv/helpers.py:52`)
    * @param total size of the FULL dataset — fixed for the whole loop
    * @param stop  max iterations (reference default 10000)
    */
  def balanceCell(
      wExp: Double,
      g0: Long,
      total: Long,
      roundLevel: Int,
      stop: Long,
      traceLimit: Int = 1 << 20): BalanceResult = {
    require(g0 > 0, s"balanceCell requires a non-empty cell, got size $g0")
    require(total > 0, s"balanceCell requires a non-empty dataset, got $total")
    var size = g0
    var i = 0L
    val trace = Vector.newBuilder[Double]
    var traced = 0
    var truncated = false
    def record(d: Double): Unit =
      if (traced < traceLimit) { trace += d; traced += 1 } else truncated = true
    var disp = disparity(wExp, size, total, roundLevel)
    record(disp)
    var sizeHitZero = false
    while (disp != 1.0 && i != stop && !sizeHitZero) {
      val raw = rawRatio(wExp, size, total)
      if (raw > 1) size += 1
      else if (raw < 1) size -= 1
      else { /* raw == 1 implies disp == 1; unreachable, guard anyway */ }
      if (size == 0) {
        // reference: w_obs == 0 => return (df, disparity, i) without a
        // final append/increment (demv/helpers.py:18-26 else-branch)
        sizeHitZero = true
      } else {
        disp = disparity(wExp, size, total, roundLevel)
        record(disp)
        i += 1
      }
    }
    // maxIterHit = the budget expired: all `stop` iterations consumed, OR
    // stop == 0 on a cell that still needed walking. A cell already
    // converged at entry (disp == 1, zero iterations) never hits the cap,
    // whatever `stop` is — without the `disp != 1.0` clause, stop == 0
    // would flag EVERY cell (evalDemv's sweep starts at stop = 0).
    BalanceResult(size, i, trace.result(),
      maxIterHit = i == stop && (stop > 0 || disp != 1.0), traceTruncated = truncated)
  }
}
