package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Debiaser for Multiple Variables — Spark-native rebuild of the reference
  * engine's core operator (reference `demv/demv.py:22-130`,
  * `demv/helpers.py:5-106`; d'Aloisio et al., IP&M 60(2) 2023).
  *
  * Balances every (sensitive-combination, label) cell of a classification
  * dataset so that the observed cell weight matches the expected weight under
  * independence: `w_exp = P(combo) * P(label)`, `w_obs = P(combo, label)`,
  * iterating each cell's size by +-1 until `round(w_exp/w_obs, roundLevel)`
  * is 1 (or `stop` iterations).
  *
  * Execution model (NOT the reference's row-at-a-time loop):
  *   1. ONE distributed aggregation: per-(combo, label, salt) counts.
  *   2. Driver replays the +-1 arithmetic per cell on counts alone
  *      ([[BalanceMath.balanceCell]]) — identical sizes/iters/disparities.
  *   3. ONE distributed sampling pass materializes the resize
  *      ([[ExactSampler]]), then an optional seeded shuffle.
  * Per-row add/drop choice is uniformly random in the reference and unseeded
  * (reference `demv/helpers.py:15-17`), so only sizes, iteration counts and
  * disparity traces are contractual — those match exactly.
  *
  * Differences from the reference, by design:
  *  - sensitive variables must be binary 0/1 — the reference hard-codes the
  *    0/1 branches and silently drops other values, then crashes downstream
  *    (reference `demv/helpers.py:74,85` vs `:93-95`); we raise a clear error.
  *  - an empty (combo, label) cell makes the reference return a raw group
  *    list that crashes the caller (reference `demv/helpers.py:106`,
  *    `demv/demv.py:110`); we raise a clear error naming the cell.
  *
  * @param sensitiveVars names of binary 0/1 sensitive columns (1 to ~3)
  * @param roundLevel    disparity rounding digits; <= 0 disables rounding
  *                      (reference Python `round_level` falsy semantics)
  * @param stop          max balance iterations per cell (reference default 10000)
  * @param seed          seed for row sampling and the final shuffle (the
  *                      reference shuffles with seed 2, `demv/helpers.py:98`)
  * @param saltBuckets   parallelism per cell in the materialization pass
  * @param shuffleOutput apply the final seeded shuffle (distributional parity
  *                      with `sample(frac=1, random_state=2)`)
  * @param strategy      how upsampled cells gain rows (SURVEY §2.3 legacy
  *                      surface): "random" duplicates existing rows (demv
  *                      1.0.2 semantics); "uniform" | "smote" | "adasyn"
  *                      synthesize new rows ([[Strategies]]). Downsampling
  *                      always drops random rows.
  * @param idCols        optional stable row-identifier columns used for the
  *                      sampling salt — lets the counting job prune its
  *                      scan to sensitiveVars ++ label ++ idCols instead of
  *                      the full row width (see [[ExactSampler.resize]]);
  *                      essential on wide tables at scale
  */
class DEMV(
    val sensitiveVars: Seq[String],
    val roundLevel: Int = 1,
    val stop: Long = 10000L,
    val seed: Long = 2L,
    val saltBuckets: Int = 32,
    val shuffleOutput: Boolean = true,
    val strategy: String = "random",
    val idCols: Option[Seq[String]] = None,
    val verbose: Boolean = false) extends Serializable {

  require(sensitiveVars.nonEmpty, "sensitiveVars must be non-empty")
  require(Seq("random", "uniform", "smote", "adasyn").contains(strategy),
    s"unknown strategy '$strategy' (reference generatemetrics.py:56-57)")

  @volatile private var disparitiesState: Seq[Seq[Double]] = Seq.empty
  @volatile private var iterState: Long = 0L
  @volatile private var plansState: Seq[DEMV.CellPlan] = Seq.empty

  /** Max iterations across cells (reference `DEMV.get_iters`, `demv/demv.py:114-121`). */
  def getIters: Long = iterState

  /** Per-cell disparity traces, cells ordered by binary counting over the
    * sensitive variables then ascending label (the reference's recursion
    * order, `demv/helpers.py:64-87`). The reference nests these lists by
    * recursion level (`demv/helpers.py:92`); we flatten to one trace per
    * cell, which is the information content (reference `DEMV.get_disparities`).
    */
  def getDisparities: Seq[Seq[Double]] = disparitiesState

  /** Full per-cell balance plans (rebuild-only introspection). */
  def getCellPlans: Seq[DEMV.CellPlan] = plansState

  /** Balance `df`. The label is a column (the reference takes a separate `y`
    * array and re-attaches it as column "y", `demv/demv.py:95-96` — a label
    * column is the Spark-native equivalent). `fit`/`transform` in the
    * reference are both aliases of this (`demv/demv.py:59,77`).
    */
  def fitTransform(df: DataFrame, labelCol: String): DataFrame = {
    val cols = df.columns.toSet
    val missing = (sensitiveVars :+ labelCol).filterNot(cols)
    require(missing.isEmpty, s"columns not in DataFrame: ${missing.mkString(", ")}")

    val keyCols = sensitiveVars :+ labelCol
    val saltCol = "__graft_salt"
    // salt from idCols when provided (count job scans only keyCols+idCols —
    // column-pruned on wide tables); otherwise all columns
    val saltInput = idCols.getOrElse(df.columns.toSeq)
    val salted = df.withColumn(saltCol, ExactSampler.salt(saltInput, seed, saltBuckets))

    // Job 1: per-(cell, salt) counts; cell counts, marginals and the total
    // all derive from it on the driver — at most 2^n * L * saltBuckets rows.
    // With idCols set this scan reads only keyCols ++ idCols.
    val cellSaltCounts = salted
      .select((keyCols :+ saltCol).map(col): _*)
      .groupBy(keyCols.map(col) :+ col(saltCol): _*).count().collect()

    // canonical (0/1 combo, label) -> (original combo values, cell count);
    // original values are kept so sampler join keys match the column types.
    val cellInfo: Map[(Seq[Int], Any), (Seq[Any], Long)] = cellSaltCounts
      .groupBy(r => (sensitiveVars.indices.map(i => anyToBinary(r.get(i), sensitiveVars(i))), r.get(sensitiveVars.length)))
      .map { case (k, rows) =>
        k -> ((sensitiveVars.indices.map(rows.head.get): Seq[Any],
          rows.map(_.getLong(sensitiveVars.length + 2)).sum))
      }
    val cellCounts: Map[(Seq[Int], Any), Long] = cellInfo.map { case (k, v) => k -> v._2 }

    val total: Long = cellCounts.valuesIterator.sum
    require(total > 0, "cannot balance an empty DataFrame")

    val labels: Seq[Any] = cellCounts.keysIterator.map(_._2).toSeq.distinct.sorted(DEMV.anyOrdering)
    val comboCounts: Map[Seq[Int], Long] =
      cellCounts.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val labelCounts: Map[Any, Long] =
      cellCounts.groupBy(_._1._2).map { case (l, m) => l -> m.values.sum }

    // All 2^n combos in the reference's recursion order (binary counting,
    // first sensitive var = most significant branch).
    val combos: Seq[Seq[Int]] = DEMV.binaryCombos(sensitiveVars.length)
    val missingCells = for {
      c <- combos; l <- labels if !cellCounts.contains((c, l))
    } yield s"(${sensitiveVars.zip(c).map { case (n, v) => s"$n=$v" }.mkString(", ")}, $labelCol=$l)"
    if (missingCells.nonEmpty)
      throw new IllegalStateException(
        s"DEMV requires every (sensitive-combination, label) cell to be non-empty; " +
          s"empty cells: ${missingCells.mkString("; ")} " +
          s"(the reference crashes here — demv/helpers.py:106, demv/demv.py:110)")

    // Driver replay of the reference's per-cell +-1 loop — float op order
    // matches demv/helpers.py:53-54 exactly.
    val plans = for (c <- combos; l <- labels) yield {
      val g0 = cellCounts((c, l))
      val wExp = (comboCounts(c).toDouble / total.toDouble) * (labelCounts(l).toDouble / total.toDouble)
      val r = BalanceMath.balanceCell(wExp, g0, total, roundLevel, stop)
      if (r.maxIterHit)
        org.slf4j.LoggerFactory.getLogger(classOf[DEMV]).warn(
          s"DEMV cell ($c, $l): max iterations ($stop) reached")
      if (verbose)
        org.slf4j.LoggerFactory.getLogger(classOf[DEMV]).info(
          s"DEMV cell ($c, $l): size $g0 -> ${r.targetSize} in ${r.iters} iterations " +
            s"(final disparity ${r.trace.lastOption.getOrElse(Double.NaN)})")
      DEMV.CellPlan(c, l, g0, r.targetSize, r.iters, r.trace, r.maxIterHit)
    }
    plansState = plans
    iterState = if (plans.isEmpty) 0L else plans.map(_.iters).max
    disparitiesState = plans.map(_.trace)

    // Jobs 2+3: materialize the resize, then the seeded shuffle
    // (reference demv/helpers.py:98: sample(frac=1, random_state=2)).
    val targets: Map[Seq[Any], Long] = plans.map { p =>
      (cellInfo((p.combo, p.label))._1 :+ p.label) -> p.targetSize
    }.toMap
    val currents: Map[Seq[Any], Long] = plans.map { p =>
      (cellInfo((p.combo, p.label))._1 :+ p.label) -> p.initialSize
    }.toMap
    val resized =
      if (strategy == "random")
        ExactSampler.resize(df, keyCols, targets, seed, saltBuckets,
          precomputedOccupancy = Some(cellSaltCounts), saltCols = idCols)
      else {
        // synthesis strategies: drop-to-target for shrinking cells, keep
        // growing cells whole and union synthesized extras
        val keepTargets = targets.map { case (key, t) => key -> math.min(t, currents(key)) }
        val extras = targets.collect { case (key, t) if t > currents(key) => key -> (t - currents(key)) }
        val kept = ExactSampler.resize(df, keyCols, keepTargets, seed, saltBuckets,
          precomputedOccupancy = Some(cellSaltCounts), saltCols = idCols)
        val synth = strategy match {
          case "uniform" =>
            Strategies.synthesizeUniform(df, keyCols, extras, seed,
              knownCellSizes = Some(currents))
          case "smote" => Strategies.synthesizeSmote(df, keyCols, extras, seed)
          case "adasyn" => Strategies.synthesizeSmote(df, keyCols, extras, seed, adasyn = true)
        }
        kept.unionByName(synth)
      }
    if (shuffleOutput) DEMV.seededShuffle(resized, seed) else resized
  }

  private def anyToBinary(v: Any, name: String): Int = v match {
    case i: Int if i == 0 || i == 1 => i
    case l: Long if l == 0L || l == 1L => l.toInt
    case s: Short if s == 0 || s == 1 => s.toInt
    case b: Byte if b == 0 || b == 1 => b.toInt
    case b: Boolean => if (b) 1 else 0
    // ordinal-encoded loaders (adult, drug, ...) carry sensitive columns as
    // DOUBLE 0.0/1.0 — numerically binary, and the reference's pandas
    // equality treats them as such; only exact 0.0/1.0 pass
    case d: Double if d == 0.0 || d == 1.0 => d.toInt
    case f: Float if f == 0.0f || f == 1.0f => f.toInt
    case other =>
      throw new IllegalArgumentException(
        s"sensitive variable '$name' must be binary 0/1, found value '$other' " +
          s"(the reference silently mishandles non-binary sensitive values — " +
          s"demv/helpers.py:74,85 vs :93-95)")
  }
}

object DEMV {
  /** One balanced cell: sensitive-combination values, label value, sizes and
    * the reference-parity iteration count / disparity trace.
    */
  final case class CellPlan(
      combo: Seq[Int],
      label: Any,
      initialSize: Long,
      targetSize: Long,
      iters: Long,
      trace: Seq[Double],
      maxIterHit: Boolean)

  /** 0/1 combinations in the reference's recursion order: first variable is
    * the outermost branch, 0 before 1 (reference `demv/helpers.py:66-87`).
    */
  def binaryCombos(n: Int): Seq[Seq[Int]] =
    (0 until (1 << n)).map(i => (0 until n).map(b => (i >> (n - 1 - b)) & 1))

  /** Seeded uniform permutation (distributional parity with pandas
    * `sample(frac=1, random_state=2)`, reference `demv/helpers.py:98`) as
    * ONE hash-partition shuffle + partition-local sort on a materialized
    * seeded random key. `orderBy(rand)` would be a RANGE sort: an extra
    * boundary-sampling job plus a global sort — pure overhead when the
    * contract is "uniformly shuffled", not "globally ordered".
    */
  def seededShuffle(df: DataFrame, seed: Long): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    df.withColumn("__graft_shuffle", rand(seed))
      .repartition(n, col("__graft_shuffle"))
      .sortWithinPartitions(col("__graft_shuffle"))
      .drop("__graft_shuffle")
  }

  /** Ordering matching `np.unique`'s ascending sort for label values. */
  val anyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      case (x: String, y: String) => x.compareTo(y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case _ => a.toString.compareTo(b.toString)
    }
  }
}
