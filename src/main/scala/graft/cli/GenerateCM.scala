package graft.cli

import graft.data.Datasets
import graft.eval.ConfusionMatrices
import graft.metrics.GroupCondition

/** Confusion-matrix pipeline CLI — the reference's third entry point
  * (`generatecm`, reference `confusionmatrix.py:208-229`; SURVEY §3.3):
  * load dataset -> (optional DEMV) -> out-of-fold predictions -> per-group
  * normalized confusion tables -> CSV + the reference's double-heatmap
  * PDF ([[graft.eval.PdfPlot]], S8 — same filename contract as
  * `plt.savefig`).
  *
  * {{{
  * runMain graft.cli.GenerateCM <dataset> <debiaser: biased|demv>
  *   [--classifier logistic] [--data-dir d] [--out-dir o] [--folds k]
  * }}}
  */
object GenerateCM {
  private[cli] val valueFlags = Set("--classifier", "--data-dir", "--out-dir", "--folds")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenerateCM <dataset> <debiaser> [--classifier c] [--data-dir d] [--out-dir o] [--folds k]")
    val dataset = args(0)
    val debiaser = args(1)
    // fail fast on typos: outOfFoldPredictions' wildcard case would run the
    // plain classifier and label the output CSV as debiased
    val knownDebiasers = Set("biased", "demv", "eg", "grid", "blackbox", "blackbox_eqodds")
    require(knownDebiasers.contains(debiaser),
      s"unknown debiaser '$debiaser'; expected one of ${knownDebiasers.toSeq.sorted.mkString(", ")}")
    val flags = Cli.flags(args.toSeq.drop(2), valueFlags)
    val classifier = flags.getOrElse("--classifier", "logistic")
    val dataDir = flags.getOrElse("--data-dir", "data")
    val outDir = flags.getOrElse("--out-dir", "confusionmatrices")
    val folds = flags.getOrElse("--folds", "10").toInt

    val spark = Cli.session()

    // the reference's generatecm always loads with 2 features
    // (confusionmatrix.py:216)
    val spec = Datasets.get(spark, dataset, dataDir, numberOfFeatures = 2)
    val oof = ConfusionMatrices.outOfFoldPredictions(
      spec, classifier,
      debiaser = if (debiaser == "biased") None else Some(debiaser), k = folds)
    val cm = ConfusionMatrices.perGroup(oof, GroupCondition(spec.unprivGroup))
    val path = s"$outDir/cm_${dataset}_${debiaser}_$classifier.csv"
    val ordered = graft.etl.CacheTracker.persistTracked(cm.orderBy("group", "y_true", "y_pred"))
    ordered.coalesce(1).write.mode("overwrite").option("header", true).csv(path)
    // the reference's PDF artifact (confusionmatrix.py:133-144): class
    // axis order via the numeric-aware label ordering (a string sort would
    // put "10" before "2" — see CrossVal.labelValues); sensitive names in
    // the dataset's DECLARED order, matching the reference filename
    val classes = graft.eval.CrossVal.labelValues(oof, "y_true").map(String.valueOf(_))
    val pdf = graft.eval.PdfPlot.writeDoubleConfusionMatrixPdf(
      ordered, classes, dataset, debiaser, spec.sensitiveVars, outDir)
    println(s"wrote confusion matrices -> $path and plot -> $pdf")
    spark.stop()
  }
}
