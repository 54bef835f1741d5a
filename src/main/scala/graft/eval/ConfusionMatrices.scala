package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.DEMV
import graft.data.DatasetSpec
import graft.etl.CacheTracker
import graft.metrics.GroupCondition

/** The reference's third entry point (SURVEY §3.3, E9/S8): out-of-fold
  * prediction assembly + per-group confusion matrices (reference
  * `confusionmatrix.py:147-229`). The reference renders PDFs; the engine
  * emits the normalized counts table — plotting is a driver-side concern
  * (SURVEY S8: out of engine scope).
  */
object ConfusionMatrices {

  /** E9: union of per-fold test predictions — every row predicted exactly
    * once by a model that never saw it (reference `getprediction`,
    * `confusionmatrix.py:186-205`; optional whole-dataset DEMV first,
    * `:160-165`).
    *
    * `debiaser` covers the reference's full roster
    * (`confusionmatrix.py:167-184`): `demv` (pre-processing, whole-dataset
    * balance), `eg` / `grid` (in-processing reductions, fitted per fold),
    * `blackbox` (post-processing rate transport on the assembled
    * predictions), `blackbox_eqodds` (post-processing TPR/FPR equalization,
    * binary labels only).
    */
  def outOfFoldPredictions(
      spec: DatasetSpec,
      classifier: String,
      debiaser: Option[String] = None,
      k: Int = 10,
      seed: Long = 2L): DataFrame = {
    val base = debiaser match {
      case Some("demv") =>
        // truncate the balancer's per-cell union lineage before the k-fold
        // loop re-analyzes it per fit (see CrossVal.crossVal — on wide
        // datasets the repeated Catalyst transform of that tree costs
        // minutes of driver CPU). The returned frame reads this checkpoint
        // lazily, so the CacheTracker drain releases it, not this call.
        CacheTracker.checkpointTracked(
          new DEMV(spec.sensitiveVars, seed = seed, shuffleOutput = false)
            .fitTransform(spec.df, spec.label))
      case _ => spec.df
    }
    val featureCols = base.columns.filterNot(_ == spec.label).toSeq
    val allLabels = CrossVal.labelValues(base, spec.label)
    val folded = CrossVal.withFolds(
      CrossVal.indexLabel(base, spec.label, allLabels), k, seed).cache()
    val oof =
      try {
        (0 until k).map { fold =>
          val train = folded.where(col("__fold") =!= fold)
          val test = folded.where(col("__fold") === fold)
          val pred = debiaser match {
            case Some("eg") =>
              Reductions.ExponentiatedGradient.fitEnsemble(
                train, featureCols, "__y", spec.sensitiveVars, seed = seed + fold)
                .transform(test)
            case Some("grid") =>
              Reductions.GridSearch.fit(
                train, featureCols, "__y", spec.sensitiveVars, spec.unprivGroup)
                .transform(test)
            case _ =>
              CrossVal.pipeline(classifier, featureCols, "__y", allLabels.length)
                .fit(train).transform(test)
          }
          CrossVal.mapPredictionBack(pred, allLabels)
            .select((featureCols.map(col) :+ col(spec.label).as("y_true") :+ col("prediction")): _*)
        }.reduce(_ unionByName _)
      } finally folded.unpersist()
    debiaser match {
      case Some("blackbox") =>
        PostProcess.blackbox(oof, spec.unprivGroup.toSeq, "prediction", seed)
      case Some("blackbox_eqodds") =>
        PostProcess.blackboxEqOdds(oof, spec.unprivGroup.toSeq, "prediction", "y_true", seed)
      case _ => oof
    }
  }

  /** Per-group normalized confusion matrix: for the unprivileged group and
    * its complement separately, counts and row-normalized rates per
    * (y_true, prediction) — the numbers behind the reference's PDF heatmaps
    * (`confusionmatrix.py:100-144,227-229`). One aggregation pass.
    */
  def perGroup(
      predDF: DataFrame,
      unpriv: GroupCondition,
      trueCol: String = "y_true",
      predCol: String = "prediction"): DataFrame = {
    val tagged = predDF.withColumn("group",
      when(unpriv.column, "unprivileged").otherwise("privileged"))
    val counts = tagged.groupBy(col("group"), col(trueCol).as("y_true"), col(predCol).as("y_pred"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("group"), col("y_true"))
      .agg(sum(col("n")).as("row_total"))
    counts.join(totals, Seq("group", "y_true"))
      .withColumn("rate", round(col("n") / col("row_total"), 6))
      .select(col("group"), col("y_true"), col("y_pred"), col("n"), col("rate"))
  }
}
