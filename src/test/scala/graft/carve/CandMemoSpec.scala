package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The DP memo families hit: a fit that differs from an earlier one only
  * in what the DP does not read adds no [[Dp.CandMemo]] entry, so its
  * search runs no DP.
  */
class CandMemoSpec extends SparkSuite {

  test("a target_median fit over target_mean stages adds no memo entry") {
    // NaN-free features: the NaN phase's DP runs over the phase-1 winner's
    // bins, which the rate strategy may move
    val train = PrepGoldenSpec.frame(spark, 3000, 11L, dev = false).na.fill(10.0, Seq("q"))
    val specs = Seq(BinaryCarver.FeatureSpec("q", "quantitative"),
      BinaryCarver.FeatureSpec("ord", "ordinal", ordinalOrder = Seq("lo", "mid", "hi", "top", "rare", "unseen")))
    val mean = BinaryCarver.Config(minFreq = 0.05, sortBy = "kruskal")
    val median = mean.copy(rateStrategy = "target_median")
    val stages = ContinuousCarver.computeStages(train, "yc", specs, mean, withYHists = true)
    val meanFit = ContinuousCarver.fitFromStages(train, "yc", specs, None, mean, stages)
    val afterMean = stages.dpMemo.size
    assert(afterMean > 0)
    val medianFit = ContinuousCarver.fitFromStages(train, "yc", specs, None, median, stages)
    assert(stages.dpMemo.size == afterMean)
    assert(meanFit.kept.nonEmpty && medianFit.kept.nonEmpty)
  }

  test("an ordinal level fit after a ridit fit adds no memo entry for quantitative features") {
    val train = PrepGoldenSpec.frame(spark, 3000, 11L, dev = false).withColumn("q2", round(col("yc")))
    val specs = Seq(BinaryCarver.FeatureSpec("q", "quantitative"), BinaryCarver.FeatureSpec("q2", "quantitative"))
    val ridit = OrdinalCarver.Config(minFreq = 0.05)
    val (hist, folds, _) = OrdinalCarver.histStage(train, "y_ord", specs, ridit)
    val memo = new Dp.CandMemo
    val riditFit = OrdinalCarver.fitFromHistograms(hist, None, "y_ord", specs, ridit, folds, Some(memo))
    val afterRidit = memo.size
    assert(afterRidit > 0)
    val levelFit = OrdinalCarver.fitFromHistograms(hist, None, "y_ord", specs,
      ridit.copy(targetScale = "level"), folds, Some(memo))
    assert(memo.size == afterRidit)
    assert(riditFit.kept.nonEmpty && levelFit.kept.nonEmpty)
  }
}
