package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S3 interop: the reference's OWN saved BinaryCarver JSON (produced by
  * executing the reference via `tools/gen_ref_saved.py`) loads into a
  * [[BinaryCarver.Model]] whose transform matches the reference's
  * ordinal-encoded transform row for row; and a model written by
  * [[RefJson.write]] round-trips through [[RefJson.read]] with an
  * identical transform. (`gen_ref_saved.py --check-load <file>`
  * additionally verifies the reference itself loads a file that
  * [[RefJson.save]] wrote, i.e. [[RefJson.write]]'s text.)
  */
class RefJsonSpec extends SparkSuite {

  private def resource(name: String): String =
    getClass.getResource(s"/golden/$name").getPath

  /** Golden dataset with a stable 0-based row index (single partition). */
  private lazy val df: DataFrame =
    spark.read.option("header", "true").csv(resource("golden_dataset.csv"))
      .select(col("num_a").cast("double"), col("num_b").cast("double"),
        col("cat_a"), col("cat_b"), col("y_binary").cast("int"))
      .coalesce(1)
      .withColumn("row", monotonically_increasing_id())
      .cache()

  private lazy val expected: DataFrame =
    spark.read.option("header", "true").csv(resource("ref_saved_transformed.csv"))
      .select(col("row").cast("long"), col("num_a").cast("int").as("e_num_a"),
        col("num_b").cast("int").as("e_num_b"), col("cat_a").cast("int").as("e_cat_a"),
        col("cat_b").cast("int").as("e_cat_b"))

  private val cols = Seq("num_a", "num_b", "cat_a", "cat_b")

  private def assertMatchesReference(m: BinaryCarver.Model): Unit = {
    assert(m.kept.map(_.name).toSet == cols.toSet, m.kept.map(_.name).toString)
    val out = m.transform(df)
    val joined = out.join(expected, Seq("row"))
    val mismatched = joined.filter(
      cols.map(c => col(c) =!= col(s"e_$c")).reduce(_ || _))
    val bad = mismatched.limit(5).collect()
    assert(bad.isEmpty, s"transform mismatch rows: ${bad.mkString("; ")}")
    assert(joined.count() == 3000)
  }

  test("reference-saved JSON loads and transforms identically to the reference") {
    val m = RefJson.load(resource("ref_saved_BinaryCarver.json"))
    assert(m.minFreq == 0.05 && m.maxNMod == 5 && m.sortBy == "tschuprowt")
    assertMatchesReference(m)
    // per-bin statistics restored
    val numA = m.kept.find(_.name == "num_a").get
    assert(numA.rates.nonEmpty)
    assert(math.abs(numA.rates(0).rate - 0.16814814814814816) < 1e-12)
  }

  test("write -> read round-trip preserves the transform (reference schema)") {
    val fitted = BinaryCarver.fit(df, "y_binary", Seq(
      BinaryCarver.FeatureSpec("num_a", "quantitative"),
      BinaryCarver.FeatureSpec("num_b", "quantitative"),
      BinaryCarver.FeatureSpec("cat_a", "categorical"),
      BinaryCarver.FeatureSpec("cat_b", "categorical")),
      config = BinaryCarver.Config(minFreq = 0.05, maxNMod = 5))
    val json = RefJson.write(fitted)
    val back = RefJson.read(json)
    val a = fitted.transform(df).select((col("row") +: cols.map(col)): _*).collect()
    val b = back.transform(df).select((col("row") +: cols.map(col)): _*).collect()
    assert(a.map(_.toSeq.mkString(",")).sorted.sameElements(b.map(_.toSeq.mkString(",")).sorted))
    // and the re-read model still matches the reference's transform (the
    // fit itself is golden-parity-pinned, so codes must agree end-to-end)
    assertMatchesReference(back)
  }

  test("our writer's artifact is structurally reference-shaped") {
    val fitted = BinaryCarver.fit(df, "y_binary", Seq(
      BinaryCarver.FeatureSpec("num_a", "quantitative"),
      BinaryCarver.FeatureSpec("cat_a", "categorical")),
      config = BinaryCarver.Config(minFreq = 0.05, maxNMod = 5))
    val json = RefJson.write(fitted)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(json)
    assert((j \ "config" \ "ordinal_encoding") == JBool(true))
    assert((j \ "combination_evaluator" \ "sort_by") == JString("tschuprowt"))
    val fj = (j \ "features" \ "num_a")
    // content is a STRING field containing a JSON dict (reference quirk)
    val content = (fj \ "content") match {
      case JString(s) => JsonMethods.parse(s)
      case other => fail(s"content not stringified: $other")
    }
    content match {
      case JObject(fields) =>
        assert(fields.nonEmpty)
        // every group lists its leader LAST; the last group's leader is __INF__
        val (lastKey, JArray(lastMembers)) = fields.last
        assert(lastKey == "__INF__")
        assert(lastMembers.last == JString("__INF__"))
      case other => fail(s"unexpected content: $other")
    }
  }
}
