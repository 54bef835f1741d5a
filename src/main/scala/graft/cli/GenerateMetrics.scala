package graft.cli

import graft.data.Datasets
import graft.eval.CrossVal

/** Experiment CLI mirroring the reference driver
  * (`replication_package/src/generatemetrics.py:28-86`):
  *
  * {{{
  * runMain graft.cli.GenerateMetrics <dataset> <method> <numberOfFeatures>
  *   [--classifier logistic|gradient|svc|mlp] [--data-dir DIR] [--out-dir DIR]
  *   [--folds K] [--reps N] [--sweep]
  * }}}
  *
  * method in {biased, random(=demv), uniform, smote, adasyn}; `--sweep` runs
  * the eval_demv convergence sweep with the dataset's step k (SURVEY §6).
  * Results land at
  * `outDir/{n}features/metrics_{dataset}_{method}_{n}_features_{classifier}.csv`
  * (the reference's naming contract, `generatemetrics.py:251-262`).
  */
object GenerateMetrics {
  private[cli] val valueFlags = Set("--classifier", "--data-dir", "--out-dir", "--folds", "--reps")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: GenerateMetrics <dataset> <method> <numberOfFeatures> [--classifier c] [--data-dir d] [--out-dir o] [--folds k] [--reps n] [--sweep]")
    val dataset = args(0)
    val method = args(1)
    val nFeatures = args(2).toInt
    val flags = Cli.flags(args.toSeq.drop(3), valueFlags, switches = Set("--sweep"))
    val classifier = flags.getOrElse("--classifier", "logistic")
    val dataDir = flags.getOrElse("--data-dir", "data")
    val outDir = flags.getOrElse("--out-dir", "ris")
    val folds = flags.getOrElse("--folds", "10").toInt
    val reps = flags.getOrElse("--reps", "1").toInt
    val sweep = flags.contains("--sweep")
    // --sweep always runs the DEMV convergence sweep; any other method
    // label would stamp sweep rows with the wrong experiment name
    require(!sweep || method == "demv",
      s"--sweep runs the DEMV sweep; pass method 'demv' (got '$method') so the output file is labeled correctly")

    val spark = Cli.session()

    val spec = Datasets.get(spark, dataset, dataDir, nFeatures)
    val rows =
      if (sweep) {
        // probe iterations once at full budget, then sweep stop=0..iters by k
        val probe = new graft.core.DEMV(spec.sensitiveVars, shuffleOutput = false)
        probe.fitTransform(spec.df, spec.label).count()
        CrossVal.evalDemv(spec, classifier, probe.getIters, spec.k, folds, reps)
      } else {
        CrossVal.crossVal(spec, classifier, method = method, k = folds, repetitions = reps)
      }
    val path = CrossVal.writeMetrics(spark, rows, outDir, dataset, method, nFeatures, classifier)
    println(s"wrote ${rows.length} metric rows -> $path")
    spark.stop()
  }
}
