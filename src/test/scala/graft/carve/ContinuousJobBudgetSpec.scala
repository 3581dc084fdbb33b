package graft.carve

import graft.SparkSuite

/** The continuous fit's cluster budget. Below the cell bound a fit scans
  * its input once (the sketch job also returns the cell table) and derives
  * the rest on the driver. Jobs are counted with adaptive execution on and
  * broadcast joins off.
  */
class ContinuousJobBudgetSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = (0 until 3000).map { i =>
    val xn: java.lang.Double = if (i % 9 == 0) null else (i * 7 % 50).toDouble
    val y = (i % 120) / 4.0 + (i % 6) * 1.5 + (i * 2654435761L % 1499) / 100.0
    ((i % 120).toDouble, xn, s"c${i % 6}", y)
  }.toDF("x", "x_nan", "cat", "y")

  private val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
    BinaryCarver.FeatureSpec("x_nan", "quantitative"), BinaryCarver.FeatureSpec("cat", "categorical"))

  private def config(strategy: String, cv: Int) =
    BinaryCarver.Config(sortBy = "kruskal", rateStrategy = strategy, cv = cv, minFreq = 0.05)

  /** Jobs `body` starts with adaptive execution on and broadcast joins off. */
  private def jobs[T](body: => T): (Int, T) = countJobs(
    "spark.sql.adaptive.enabled" -> "true", "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("a below-bound computeStages runs 2 jobs: the sketch job returns the cells") {
    for (cv <- Seq(0, 3)) {
      val (n, _) = jobs(ContinuousCarver.computeStages(df, "y", specs, config("target_mean", cv)))
      assert(n == 2, s"cv=$cv: computeStages ran $n jobs")
    }
  }

  test("a median fitFromStages over stages computed without y histograms runs no job") {
    for (cv <- Seq(0, 3)) {
      val stages = ContinuousCarver.computeStages(df, "y", specs, config("target_mean", cv), withYHists = false)
      val median = config("target_median", cv)
      val (n, model) = jobs(ContinuousCarver.fitFromStages(df, "y", specs, None, median, stages))
      assert(n == 0, s"cv=$cv: fitFromStages ran $n jobs")
      // the same model a median fit computing its own stages finds
      assert(model.toJson == ContinuousCarver.fit(df, "y", specs, None, median).toJson)
    }
  }

  test("no fit leaves a persisted frame, on either side of the bound, also when it throws") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (bound <- Seq(Long.MaxValue, 0L)) {
      ContinuousCarver.boundedStages(df, "y", specs, config("target_median", 3), withYHists = true, bound)
      val nanY = df.withColumn("y", org.apache.spark.sql.functions.when($"x" === 3.0, Double.NaN).otherwise($"y"))
      intercept[IllegalArgumentException](
        ContinuousCarver.boundedStages(nanY, "y", specs, config("target_mean", 0), withYHists = false, bound))
      // the histogram guard raises inside either branch
      val e = intercept[IllegalArgumentException](ContinuousCarver.boundedStages(df, "y", specs,
        config("target_mean", 0).copy(maxHistogramRows = 10L), withYHists = false, bound))
      assert(e.getMessage.contains("histogram too large"), e.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before, s"bound $bound left a frame persisted")
    }
  }

  test("the distributed branch's job budget, with and without the cell pass, with driver and bucketed pool ranks") {
    // above the bound the fit runs the histogram stage and the labelled
    // (feature, modality, y) counts. At bound 0 the sketch's readings skip
    // the cell pass and the real-valued y is ranked by the bucketed window.
    // The sketch bounds a 7-level y's cells from below at 177 (120 + 50 + 7
    // distinct values): at bound 50 the cell pass is skipped, at bound 100
    // it runs and its bounded collect overflows; both rank the small
    // (feature, y) pool table on the driver.
    val low = df.withColumn("y", ($"x" % 7).cast("double"))
    val cases = Seq(("bucketed", df, 0L, 18), ("driver", low, 50L, 11), ("driver after the cell pass", low, 100L, 13))
    for (cv <- Seq(0, 3); (name, frame, bound, budget) <- cases) {
      val (mean, _) = jobs(ContinuousCarver.boundedStages(frame, "y", specs, config("target_mean", cv),
        withYHists = false, bound))
      // the median histograms are one more collect of the persisted counts
      val (median, _) = jobs(ContinuousCarver.boundedStages(frame, "y", specs, config("target_median", cv),
        withYHists = true, bound))
      assert(mean <= budget && median <= budget + 1, s"$name, cv=$cv: $mean jobs (mean), $median (median)")
    }
  }
}
