package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegression

/** Fair-classification reduction algorithms (SURVEY §2.12 E7): the
  * reference drives fairlearn's `ExponentiatedGradient` and `GridSearch`
  * with `BoundedGroupLoss(ZeroOneLoss(), upper_bound=0.1)`
  * (reference `generatemetrics.py:101-131`, `confusionmatrix.py:167-184`).
  * Spark has no equivalent; both are rebuilt as reweighting meta-algorithms
  * over a `weightCol`-capable LogisticRegression (the reductions approach of
  * Agarwal et al. 2018, which fairlearn implements):
  *
  *  - [[ExponentiatedGradient.fit]]: multiplicative-weights game — each
  *    round fits with per-group example weights `1 + lambda_g`, measures
  *    per-group 0-1 loss, and exponentiates the multipliers on constraint
  *    violation `loss_g - bound`. Returns the best feasible iterate
  *    (fairlearn returns a randomized ensemble; a deterministic best
  *    iterate is the documented deviation).
  *  - [[GridSearch.fit]]: same weighting family over a fixed multiplier
  *    grid, pick the best constrained objective.
  *
  * Scale: every round is one spark.ml fit plus ONE aggregation for group
  * losses; multipliers live on the driver (|groups| values).
  */
object Reductions {

  final case class FittedReduction(
      model: PipelineModel,
      lambdas: Map[Seq[Any], Double],
      groupLosses: Map[Seq[Any], Double],
      rounds: Int) {
    def transform(df: DataFrame): DataFrame = model.transform(df)
  }

  private def basePipeline(featureCols: Seq[String], labelCol: String) = {
    val lr = new LogisticRegression("graft_reductions_logistic")
      .setLabelCol(labelCol).setFeaturesCol("__features").setWeightCol("__w")
    new org.apache.spark.ml.Pipeline("graft_reductions_pipeline")
      .setStages(CrossVal.features(featureCols) :+ lr)
  }

  /** Per-group 0-1 loss of `prediction` vs the label — one aggregation. */
  private def groupLosses(
      pred: DataFrame, sensitiveCols: Seq[String], labelCol: String): Map[Seq[Any], Double] =
    pred.groupBy(sensitiveCols.map(col): _*)
      .agg(avg(when(col("prediction") =!= col(labelCol), 1.0).otherwise(0.0)).as("loss"))
      .collect()
      .map(r => (sensitiveCols.indices.map(r.get): Seq[Any]) -> r.getDouble(sensitiveCols.length))
      .toMap

  private def withWeights(
      df: DataFrame, sensitiveCols: Seq[String], lambdas: Map[Seq[Any], Double]): DataFrame = {
    val w = lambdas.foldLeft(lit(1.0)) { case (acc, (group, lam)) =>
      val cond = sensitiveCols.zip(group).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      when(cond, lit(1.0 + lam)).otherwise(acc)
    }
    df.withColumn("__w", w)
  }

  /** One EG iterate retained for the randomized ensemble. */
  final case class Iterate(
      model: PipelineModel,
      lambdas: Map[Seq[Any], Double],
      groupLosses: Map[Seq[Any], Double],
      overallLoss: Double,
      maxViolation: Double)

  /** fairlearn-semantics EG result: a DISTRIBUTION over the round iterates
    * (reference `generatemetrics.py:101-131` — fairlearn's
    * `ExponentiatedGradient.predict` samples one inner classifier per call).
    * `transform` draws a seeded per-row choice among the iterate
    * predictions, so replication users see the ensemble's variance band,
    * not a deterministic best iterate.
    */
  final case class FittedEnsemble(
      iterates: Seq[Iterate],
      weights: Seq[Double],
      seed: Long) {
    require(iterates.nonEmpty && iterates.length == weights.length)

    /** Expected per-group 0-1 loss of the mixture. */
    def mixtureGroupLosses: Map[Seq[Any], Double] =
      iterates.head.groupLosses.keys.map { g =>
        g -> iterates.zip(weights).map { case (it, w) => w * it.groupLosses(g) }.sum
      }.toMap

    /** Randomized prediction: per-row seeded draw over iterate predictions.
      * One pass; Q model scorings, no shuffle.
      */
    def transform(df: DataFrame): DataFrame = {
      val scoreCols = Seq("__features_raw", "__features", "rawPrediction", "probability")
      var cur = df.withColumn("__draw", rand(seed))
      iterates.zipWithIndex.foreach { case (it, i) =>
        cur = it.model.transform(cur)
          .withColumnRenamed("prediction", s"__p$i")
          .drop(scoreCols: _*)
      }
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val pick = iterates.indices.tail.foldLeft(
        when(col("__draw") < cum(0), col("__p0"))) { (e, i) =>
        e.when(col("__draw") < cum(i), col(s"__p$i"))
      }.otherwise(col(s"__p${iterates.length - 1}"))
      cur.withColumn("prediction", pick)
        .drop(iterates.indices.map(i => s"__p$i") :+ "__draw": _*)
    }
  }

  object ExponentiatedGradient {
    /** @param bound  per-group 0-1 loss upper bound (reference uses 0.1)
      * @param eta    multiplicative step size
      * @param rounds EG iterations (each = one distributed fit + one agg)
      */
    def fit(
        train: DataFrame,
        featureCols: Seq[String],
        labelCol: String,
        sensitiveCols: Seq[String],
        bound: Double = 0.1,
        eta: Double = 2.0,
        rounds: Int = 5): FittedReduction = {
      val best = run(train, featureCols, labelCol, sensitiveCols, bound, eta, rounds)
        .minBy(it => it.overallLoss + 10.0 * it.maxViolation) // feasibility-first
      FittedReduction(best.model, best.lambdas, best.groupLosses, rounds)
    }

    /** fairlearn-fidelity variant: return the randomized ensemble over the
      * iterates. Weights are uniform over the FEASIBLE iterates (violation
      * <= eps past the bound) — the no-regret average play — falling back
      * to the best single iterate when none is feasible. (fairlearn derives
      * its mixture from the saddle-point LP; uniform-over-feasible is the
      * documented simplification, with the same support.)
      */
    def fitEnsemble(
        train: DataFrame,
        featureCols: Seq[String],
        labelCol: String,
        sensitiveCols: Seq[String],
        bound: Double = 0.1,
        eta: Double = 2.0,
        rounds: Int = 5,
        eps: Double = 0.02,
        seed: Long = 42L): FittedEnsemble = {
      val its = run(train, featureCols, labelCol, sensitiveCols, bound, eta, rounds)
      val feasible = its.filter(_.maxViolation <= eps)
      if (feasible.nonEmpty)
        FittedEnsemble(feasible, Seq.fill(feasible.length)(1.0 / feasible.length), seed)
      else {
        val best = its.minBy(it => it.overallLoss + 10.0 * it.maxViolation)
        FittedEnsemble(Seq(best), Seq(1.0), seed)
      }
    }

    private def run(
        train: DataFrame,
        featureCols: Seq[String],
        labelCol: String,
        sensitiveCols: Seq[String],
        bound: Double,
        eta: Double,
        rounds: Int): Seq[Iterate] = {
      val pipe = basePipeline(featureCols, labelCol)
      var lambdas = Map.empty[Seq[Any], Double].withDefaultValue(0.0)
      val its = Seq.newBuilder[Iterate]
      var round = 0
      while (round < rounds) {
        val weighted = withWeights(train, sensitiveCols, lambdas)
        val model = pipe.fit(weighted)
        val losses = groupLosses(model.transform(train), sensitiveCols, labelCol)
        val maxViolation = losses.valuesIterator.map(l => math.max(0.0, l - bound)).foldLeft(0.0)(math.max)
        val overall = losses.values.sum / losses.size
        its += Iterate(model, lambdas, losses, overall, maxViolation)
        // exponentiated update on violations, capped to keep weights sane
        lambdas = losses.map { case (g, l) =>
          val next = lambdas(g) * math.exp(eta * (l - bound)) + (if (lambdas(g) == 0.0 && l > bound) 0.1 else 0.0)
          g -> math.min(next, 100.0)
        }.withDefaultValue(0.0)
        round += 1
      }
      its.result()
    }
  }

  object GridSearch {
    /** Grid over a single unprivileged-group multiplier (fairlearn's grid is
      * the multiplier simplex; the 1-D unpriv-axis slice is where its mass
      * concentrates for one constraint).
      */
    def fit(
        train: DataFrame,
        featureCols: Seq[String],
        labelCol: String,
        sensitiveCols: Seq[String],
        unprivGroup: Map[String, Any],
        bound: Double = 0.1,
        grid: Seq[Double] = Seq(0.0, 0.5, 1.0, 2.0, 4.0)): FittedReduction = {
      val pipe = basePipeline(featureCols, labelCol)
      val cond = unprivGroup.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      val results = grid.map { lam =>
        val weighted = train.withColumn("__w", when(cond, lit(1.0 + lam)).otherwise(lit(1.0)))
        val model = pipe.fit(weighted)
        val losses = groupLosses(model.transform(train), sensitiveCols, labelCol)
        val maxViolation = losses.valuesIterator.map(l => math.max(0.0, l - bound)).foldLeft(0.0)(math.max)
        val overall = losses.values.sum / losses.size
        (overall + 10.0 * maxViolation, lam, model, losses)
      }
      val (_, lam, model, losses) = results.minBy(_._1)
      FittedReduction(model, Map(Seq[Any]("unpriv") -> lam), losses, grid.length)
    }
  }
}
