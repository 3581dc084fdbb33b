package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** NaN is a missing value in every fit, as in `transform`, and a failing
  * fit releases what it persisted.
  */
class MissingValueSpec extends SparkSuite {

  /** 2,000 rows with every 10th `x` missing: all null, or (`nan`) half
    * `Double.NaN` and half null.
    */
  private def frame(nan: Boolean) = {
    val rows = (0 until 2000).map { i =>
      val x: java.lang.Double =
        if (i % 10 == 0) { if (nan && i % 20 == 0) Double.NaN else null }
        else (i * 37 % 101).toDouble
      val cls = (i * 37 % 101) / 34 // 0..2, tracks x
      Row(x, s"c${i % 5}", if (cls == 2 || i % 10 == 0) 1 else 0, cls, s"k$cls")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("x", DoubleType), StructField("cat", StringType), StructField("y", IntegerType),
      StructField("y_ord", IntegerType), StructField("y_class", StringType))))
  }

  private val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
    BinaryCarver.FeatureSpec("cat", "categorical"))

  private def fits(df: org.apache.spark.sql.DataFrame): Seq[(String, BinaryCarver.Model)] = {
    val ovr = OneVsRestCarver.fit(df, "y_class", specs)
    Seq(
      "binary" -> BinaryCarver.fit(df, "y", specs),
      "ordinal" -> OrdinalCarver.fit(df, "y_ord", specs).binaryView,
      "multiclass" -> MulticlassCarver.fit(df, "y_class", specs).binaryView) ++
      ovr.classes.map(c => s"ovr $c" -> ovr.perClass(c))
  }

  test("half-NaN missing values fit the same model as all-null, in all four families") {
    val withNull = fits(frame(nan = false))
    val withNan = fits(frame(nan = true))
    assert(withNull.map(_._1) == withNan.map(_._1))
    withNull.zip(withNan).foreach { case ((family, a), (_, b)) =>
      assert(a.toJson == b.toJson, s"$family model differs")
    }
    // the missing rows (all y=1) are carved as missing, not as a value
    assert(withNan.head._2.features.find(_.name == "x").exists(_.hasNan))
  }

  test("a continuous fit that fails on a null y releases its persisted frames") {
    val rows = (0 until 500).map(i => Row((i % 50).toDouble, if (i == 7) null else java.lang.Double.valueOf(i % 9)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("x", DoubleType), StructField("yc", DoubleType))))
    val before = spark.sparkContext.getPersistentRDDs.size
    val err = intercept[IllegalArgumentException] {
      ContinuousCarver.fit(df, "yc", Seq(BinaryCarver.FeatureSpec("x", "quantitative")))
    }
    assert(err.getMessage.contains("should not contain NaN/null"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
