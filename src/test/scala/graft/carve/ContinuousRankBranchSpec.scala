package graft.carve

import graft.SparkSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The continuous carver's size-adaptive rank table on both sides of its
  * row bound: the driver ranks (`rankRows` unbounded) and the bucketed
  * window (`rankRows` = 0) must fit the same models. Ranks are exact, so
  * the search history (bins, Kruskal H, vetoes) is identical; the per-bin
  * Σy and Σy² are floating-point sums whose order follows the rank join
  * (broadcast on one side, shuffled on the other), so the means and stds
  * they give may differ in the last bits.
  */
class ContinuousRankBranchSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = (0 until 3000).map { i =>
    val x = (i % 120).toDouble
    val xn: java.lang.Double = if (i % 9 == 0) null else (i * 7 % 50).toDouble
    val cat = s"c${i % 6}"
    // ~1.5k distinct y values with ties, tied to x and cat
    val y = x / 4 + (i % 6) * 1.5 + (i * 2654435761L % 1499) / 100.0
    (x, xn, cat, y)
  }.toDF("x", "x_nan", "cat", "y")

  private val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
    BinaryCarver.FeatureSpec("x_nan", "quantitative"), BinaryCarver.FeatureSpec("cat", "categorical"))

  /** Equal JSON trees, doubles within 1e-12 relative. */
  private def assertSameModel(a: JValue, b: JValue, path: String): Unit = (a, b) match {
    case (JDouble(x), JDouble(y)) =>
      assert(x == y || math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)), s"$path: $x vs $y")
    case (JObject(xs), JObject(ys)) =>
      assert(xs.map(_._1) == ys.map(_._1), path)
      xs.zip(ys).foreach { case ((k, x), (_, y)) => assertSameModel(x, y, s"$path.$k") }
    case (JArray(xs), JArray(ys)) =>
      assert(xs.length == ys.length, path)
      xs.zip(ys).zipWithIndex.foreach { case ((x, y), i) => assertSameModel(x, y, s"$path[$i]") }
    case _ => assert(a == b, path)
  }

  private def fit(config: BinaryCarver.Config, rankRows: Long): BinaryCarver.Model = {
    val median = config.rateStrategy == "target_median"
    ContinuousCarver.fitFromStages(df, "y", specs, None, config,
      ContinuousCarver.boundedStages(df, "y", specs, config, median, rankRows))
  }

  for (strategy <- Seq("target_mean", "target_median"); cv <- Seq(0, 3))
    test(s"$strategy at cv=$cv: driver ranks and bucketed-window ranks fit the same model") {
      val config = BinaryCarver.Config(sortBy = "kruskal", rateStrategy = strategy, cv = cv, minFreq = 0.05)
      val before = spark.sparkContext.getPersistentRDDs.size
      val driver = fit(config, Long.MaxValue)
      val window = fit(config, 0L)
      assert(spark.sparkContext.getPersistentRDDs.size == before, "a rank stage left a frame persisted")
      assert(driver.kept.nonEmpty && driver.features.forall(_.history.nonEmpty))
      assertSameModel(JsonMethods.parse(driver.toJson), JsonMethods.parse(window.toJson), "model")
      assert(driver.features.map(_.history.toString) == window.features.map(_.history.toString))
    }

  test("a NaN y raises on both sides of the bound") {
    val nanY = df.withColumn("y", org.apache.spark.sql.functions.when($"x" === 3.0, Double.NaN).otherwise($"y"))
    Seq(Long.MaxValue, 0L).foreach { bound =>
      val err = intercept[IllegalArgumentException](
        ContinuousCarver.boundedStages(nanY, "y", specs, BinaryCarver.Config(sortBy = "kruskal"), false, bound))
      assert(err.getMessage.contains("should not contain NaN/null"), err.getMessage)
    }
  }
}
