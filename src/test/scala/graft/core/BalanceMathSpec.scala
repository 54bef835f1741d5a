package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Count-oracle tests (SURVEY §5.3): a literal Scala transcription of the
  * reference's `_balance_set` loop (reference `demv/helpers.py:5-29`) is the
  * model; [[BalanceMath.balanceCell]] must match it exactly on sizes,
  * iteration counts and traces. Property
  * cases are seeded random sweeps (no scalatest-scalacheck bridge in the
  * offline cache).
  */
class BalanceMathSpec extends AnyFunSuite {

  /** Direct model of reference demv/helpers.py:5-29 on sizes. */
  private def referenceBalance(
      wExp: Double, g0: Long, total: Long, roundLevel: Int, stop: Long):
      (Long, Long, Vector[Double]) = {
    var size = g0
    var i = 0L
    def wObs = size.toDouble / total.toDouble
    def disp = {
      val raw = wExp / wObs
      if (roundLevel > 0) BalanceMath.pyRound(raw, roundLevel) else raw
    }
    var trace = Vector(disp)
    var done = false
    while (!done && disp != 1.0 && i != stop) {
      if (wExp / wObs > 1) size += 1
      else if (wExp / wObs < 1) size -= 1
      if (size == 0) done = true // w_obs == 0 branch: return immediately
      else { trace :+= disp; i += 1 }
    }
    (size, i, trace)
  }

  test("pyRound matches Python round-half-even") {
    // Python: round(0.5)=0, round(1.5)=2, round(2.5)=2, round(0.25,1)=0.2,
    // round(0.35,1)=0.3 (0.35 is 0.34999...8 in binary)
    assert(BalanceMath.pyRound(0.5, 0) === 0.0)
    assert(BalanceMath.pyRound(1.5, 0) === 2.0)
    assert(BalanceMath.pyRound(2.5, 0) === 2.0)
    assert(BalanceMath.pyRound(0.25, 1) === 0.2)
    assert(BalanceMath.pyRound(0.35, 1) === 0.3)
    assert(BalanceMath.pyRound(1.05, 1) === 1.1) // 1.05 binary is 1.05000...0003
    assert(BalanceMath.pyRound(-1.5, 0) === -2.0)
  }

  test("balanced cell: no iterations") {
    // w_exp == w_obs exactly -> disparity 1 -> zero iterations
    val r = BalanceMath.balanceCell(wExp = 0.25, g0 = 25, total = 100, roundLevel = 1, stop = 10000)
    assert(r.targetSize === 25)
    assert(r.iters === 0)
    assert(r.trace === Vector(1.0))
    assert(!r.maxIterHit)
  }

  test("upsample walk matches reference model") {
    // w_exp = 0.3, g0 = 10, total = 100: ratio 3.0 -> grow to ~30
    val r = BalanceMath.balanceCell(0.3, 10, 100, 1, 10000)
    val (size, iters, trace) = referenceBalance(0.3, 10, 100, 1, 10000)
    assert(r.targetSize === size)
    assert(r.iters === iters)
    assert(r.trace === trace)
  }

  test("downsample walk matches reference model") {
    val r = BalanceMath.balanceCell(0.1, 40, 100, 1, 10000)
    val (size, iters, trace) = referenceBalance(0.1, 40, 100, 1, 10000)
    assert(r.targetSize === size)
    assert(r.iters === iters)
    assert(r.trace === trace)
  }

  test("stop budget expires mid-walk") {
    val r = BalanceMath.balanceCell(0.5, 10, 1000, 1, stop = 7)
    val (size, iters, _) = referenceBalance(0.5, 10, 1000, 1, 7)
    assert(r.targetSize === size)
    assert(r.iters === 7)
    assert(iters === 7)
    assert(r.maxIterHit)
  }

  test("roundLevel <= 0 disables rounding (Python falsy round_level)") {
    // with no rounding the walk converges only on exact ratio 1 — here it
    // oscillates until stop
    val r = BalanceMath.balanceCell(0.333, 30, 100, 0, stop = 50)
    val (size, iters, _) = referenceBalance(0.333, 30, 100, 0, 50)
    assert(r.targetSize === size)
    assert(r.iters === iters)
  }

  test("property sweep: balanceCell replays the reference loop exactly") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val total = 10L + rng.nextInt(4990)
      val g0 = 1L + (rng.nextLong().abs % total)
      val wExp = (0.01 + rng.nextDouble() * 0.99) * (0.01 + rng.nextDouble() * 0.99)
      val roundLevel = rng.nextInt(3)
      val stop = Seq(10L, 100L, 10000L)(rng.nextInt(3))
      val r = BalanceMath.balanceCell(wExp, g0, total, roundLevel, stop)
      val (size, iters, trace) = referenceBalance(wExp, g0, total, roundLevel, stop)
      withClue(s"(wExp=$wExp g0=$g0 total=$total r=$roundLevel stop=$stop) ") {
        assert(r.targetSize === size)
        assert(r.iters === iters)
        assert(r.trace === trace)
      }
    }
  }

  test("stop=0 reports maxIterHit only on an unconverged cell") {
    // evalDemv's sweep starts at stop = 0. A cell whose disparity already
    // rounds to exactly 1.0 (roundLevel 2) did not need the budget...
    val (wExp, g0, total) = (0.25, 250L, 1000L)
    val r = BalanceMath.balanceCell(wExp, g0, total, 2, stop = 0L)
    assert(r.targetSize === g0 && r.iters === 0L && !r.maxIterHit)
    // ...while one that still needed walking ran out of it at entry
    val u = BalanceMath.balanceCell(0.3, 10L, 100L, 1, stop = 0L)
    assert(u.targetSize === 10L && u.iters === 0L && u.maxIterHit)
  }

  test("walk down to zero ends loop without final increment") {
    // tiny w_exp forces the group to shrink to nothing: reference's
    // w_obs == 0 branch (demv/helpers.py:8-9 via 18-26)
    val r = BalanceMath.balanceCell(1e-9, 5, 1000, 1, 10000)
    val (size, iters, _) = referenceBalance(1e-9, 5, 1000, 1, 10000)
    assert(r.targetSize === size)
    assert(size === 0)
    assert(r.iters === iters)
    assert(iters === 4) // i increments only while size stays >= 1
  }
}
