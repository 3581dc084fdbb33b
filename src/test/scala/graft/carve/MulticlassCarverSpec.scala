package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.functions._

class MulticlassCarverSpec extends SparkSuite {
  import spark.implicits._

  /** deterministic frame with a 3-class unordered target tied to the
    * features (x low→"red", mid→"green", high→"blue" with noise).
    */
  private lazy val df = {
    val rows = (0 until 4000).map { i =>
      val x = (i % 100).toDouble
      val cat = if (i % 200 >= 197) s"rare${i % 3}" else s"c${i % 5}"
      val noise = (i * 2654435761L % 97) / 97.0
      val score = x / 100.0 * 0.8 + (if (cat == "c2") 0.15 else 0.0) + noise * 0.25
      val y = if (score > 0.66) "blue" else if (score > 0.33) "green" else "red"
      val xn: java.lang.Double = if (i % 10 == 0) null else x
      (i.toLong, x, xn, cat, y)
    }
    rows.toDF("id", "x", "x_nan", "cat", "y")
  }

  private lazy val model = MulticlassCarver.fit(
    df, "y",
    Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
      BinaryCarver.FeatureSpec("x_nan", "quantitative"),
      BinaryCarver.FeatureSpec("cat", "categorical"))
  )

  test("fit keeps features, classes sorted, T populated") {
    assert(model.classes == Vector("blue", "green", "red"))
    assert(model.kept.map(_.feature.name).toSet == Set("x", "x_nan", "cat"))
    model.kept.foreach { f =>
      assert(f.feature.nBins >= 2 && f.feature.nBins <= 5)
      assert(!f.tschuprowt.isNaN && f.tschuprowt > 0)
    }
  }

  test("bins respect min_freq and distinct CA-score rates") {
    model.kept.foreach { f =>
      val total = f.feature.rates.map(_.count).sum
      f.feature.rates.foreach { r =>
        assert(!Stats.isSignificantlyBelow(r.count, math.round(total), model.minFreq, 0.05))
      }
      f.feature.rates.sliding(2).foreach {
        case Seq(a, b) => assert(!Stats.isClose(b.rate, a.rate))
        case _ =>
      }
    }
  }

  test("NaN feature gets a nan placement and transform bins every row") {
    val f = model.kept.find(_.feature.name == "x_nan").get
    assert(f.feature.hasNan && f.feature.nanBin >= 0)
    val out = model.transform(df, keepOriginal = true)
    assert(out.filter(col("x_bin").isNull || col("x_nan_bin").isNull || col("cat_bin").isNull).count() == 0)
  }

  test("carved bins separate the classes (chi2 signal present)") {
    val out = model.transform(df, keepOriginal = true)
    val counts = out.groupBy("x_bin", "y").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    // lowest bin should be red-dominated, highest blue-dominated
    val bins = counts.keys.map(_._1).toVector.distinct.sorted
    val lowRed = counts.getOrElse((bins.head, "red"), 0L)
    val lowBlue = counts.getOrElse((bins.head, "blue"), 0L)
    val hiBlue = counts.getOrElse((bins.last, "blue"), 0L)
    val hiRed = counts.getOrElse((bins.last, "red"), 0L)
    assert(lowRed > lowBlue, s"low bin: red=$lowRed blue=$lowBlue")
    assert(hiBlue > hiRed, s"high bin: blue=$hiBlue red=$hiRed")
  }

  test("rejects <=2-class targets") {
    val bin = df.withColumn("y", when(col("y") === "red", "red").otherwise("other"))
    intercept[IllegalArgumentException] {
      MulticlassCarver.fit(bin, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative")))
    }
  }

  test("one-vs-rest: drops first sorted class, per-class versions transform") {
    val ovr = OneVsRestCarver.fit(df.select("x", "cat", "y"), "y",
      Seq(BinaryCarver.FeatureSpec("x", "quantitative"), BinaryCarver.FeatureSpec("cat", "categorical")))
    assert(ovr.classes == Vector("green", "red")) // "blue" (first sorted) dropped
    val out = ovr.transform(df.select("x", "cat", "y"))
    val cols = out.columns.toSet
    ovr.classes.foreach { c =>
      ovr.perClass(c).kept.foreach { f =>
        assert(cols.contains(s"${f.name}__y=${c}_bin"), s"missing version column for $c/${f.name}")
      }
    }
    assert(out.count() == 4000)
  }

  test("a nested spec is refused before any Spark job runs") {
    val nested = df.withColumn("region", concat(lit("r"), col("cat")))
    val (jobs, err) = countJobs()(intercept[IllegalArgumentException] {
      MulticlassCarver.fit(nested, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
        BinaryCarver.FeatureSpec("cat", "nested", parents = Seq("region"))))
    })
    assert(err.getMessage.contains("nested features are not supported"), err.getMessage)
    assert(jobs == 0, s"the refusal ran $jobs Spark jobs")
  }
}
