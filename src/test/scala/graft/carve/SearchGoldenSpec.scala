package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pins the search paths no default config reaches, byte for byte: each
  * family's model JSON and search history is compared against a file
  * recorded under `src/test/resources/search/`. Three cases per family:
  *
  *  - `escalate`: `escalate = true, topKInitial = 2`, with two noise
  *    features (`n1`, `n2`) whose train and dev rate orders rarely agree,
  *    so the phase-1 top-K walk grows its K by ×4 before a candidate is
  *    viable, and for continuous mean the DP fan-out NaN phase does too;
  *  - `rescue`: `rescue = true` with a dev view that puts 96% of its rows
  *    in one modality of every feature, so nothing is viable at `minFreq`
  *    and the rescue rerun (min-freq veto waived) decides. It fits `cat`
  *    (with NaN) and `ord` only, and `topKInitial = 10`: a failed walk
  *    records every candidate it tests, and the exhaustive NaN phase of
  *    the ordinal and multiclass families over a raw quantitative or
  *    nested feature tests tens of thousands;
  *  - `dropna` (binary only): `dropna = false` with NaN in every feature,
  *    plus a feature with a single non-NaN value whose only candidate is
  *    the all-values-vs-NaN split.
  *
  * The families are binary, ordinal, multiclass, continuous mean and
  * continuous median, over [[PrepGoldenSpec.frame]].
  */
class SearchGoldenSpec extends SparkSuite {
  import SearchGoldenSpec._

  private lazy val rendered = render(spark)

  test("escalation, rescue and dropna=false fits match their recorded model JSON and search history") {
    val out = rendered
    assert(out.map(_._1) == Families)
    out.foreach { case (family, text) =>
      val path = s"/search/$family.txt"
      val in = getClass.getResourceAsStream(path)
      assert(in != null, s"missing test resource $path")
      val expected = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      if (text != expected) {
        val (a, b) = (text.linesIterator.toVector, expected.linesIterator.toVector)
        val i = a.indices.find(i => i >= b.length || a(i) != b(i)).getOrElse(a.length)
        fail(s"$family differs from $path at line ${i + 1}:\n  got      ${a.lift(i)}\n  expected ${b.lift(i)}")
      }
    }
  }

  test("the pinned fits reach the paths they are meant to pin") {
    val out = rendered.toMap
    def block(family: String, name: String): Vector[String] =
      out(family).split("=== ").find(_.startsWith(name)).get.linesIterator.toVector
    def history(lines: Vector[String]): Vector[Array[String]] =
      lines.map(_.split("\t", -1)).filter(_.length == 13)
    Families.foreach { family =>
      val esc = history(block(family, "escalate"))
      // phase 1 walked past the initial top-2 for some feature
      val phase1 = esc.filter(_(11) == "false").groupBy(_(0)).values.map(_.length)
      assert(phase1.exists(_ > InitialK), s"$family: no phase-1 escalation")
      val rescued = history(block(family, "rescue"))
      assert(rescued.exists(_(12).contains("rescue: min_freq waived")), s"$family: no rescue winner")
    }
    // the DP fan-out NaN phase escalated: more NaN placements were tested
    // than the initial two base partitions (at most MaxNMod + 1 each, plus
    // the all-vs-NaN split) can produce
    val phase2 = history(block("continuous_mean", "escalate")).filter(_(11) == "true").groupBy(_(0)).values
    assert(phase2.exists(_.length > InitialK * (MaxNMod + 1) + 1), "continuous_mean: no phase-2 escalation")
    val allVsNan = history(block("binary", "dropna")).filter(_(0) == "flag")
    assert(allVsNan.map(_(1)).toSet == Set("[x] | [__NAN__]"), allVsNan.map(_.mkString(" ")).mkString("\n"))
  }
}

object SearchGoldenSpec {
  val Families: Seq[String] =
    Seq("binary", "continuous_mean", "continuous_median", "ordinal", "multiclass")

  private val InitialK = 2
  private val MaxNMod = 5
  private val MinFreq = 0.05

  private val Declared = Seq("lo", "mid", "hi", "top", "rare", "unseen")

  private val Specs = Seq(
    BinaryCarver.FeatureSpec("q", "quantitative"),
    BinaryCarver.FeatureSpec("cat", "categorical"),
    BinaryCarver.FeatureSpec("ord", "ordinal", ordinalOrder = Declared),
    BinaryCarver.FeatureSpec("city", "nested", parents = Seq("region")))
  private val Noise = Seq(BinaryCarver.FeatureSpec("n1", "quantitative"), BinaryCarver.FeatureSpec("n2", "quantitative"))

  /** A row-content hash in [0, m): deterministic under any plan. */
  private def bucket(salt: Int, m: Int = 100): org.apache.spark.sql.Column =
    pmod(hash(col("yc"), col("y_cls"), lit(salt)), lit(m))

  /** A dev view that fails every feature at `minFreq`: 96% of its rows
    * take one value of each feature, so every split leaves a group far
    * below 5% of the dev rows.
    */
  private def skewedDev(spark: SparkSession): DataFrame =
    PrepGoldenSpec.frame(spark, 2000, 31L, dev = false)
      .withColumn("q", when(bucket(1) < 96, lit(7.0)).otherwise(col("q")))
      .withColumn("cat", when(bucket(2) < 96, lit("a")).otherwise(col("cat")))
      .withColumn("ord", when(bucket(3) < 96, lit("mid")).otherwise(col("ord")))
      .withColumn("city", when(bucket(4) < 96, lit("c0")).otherwise(col("city")))

  /** Two noise features, independent of every target: `n1` (six values,
    * 8% NaN) and `n2` (eight values, 25% NaN).
    */
  private def withNoise(df: DataFrame): DataFrame =
    df.withColumn("n1", when(bucket(103) < 8, lit(null)).otherwise(bucket(203, 6)).cast("double"))
      .withColumn("n2", when(bucket(110) < 25, lit(null)).otherwise(bucket(210, 8)).cast("double"))

  /** `flag`: one value `x`, NaN on about 40% of the positive rows and 10%
    * of the negative ones (informative missingness).
    */
  private def withFlag(df: DataFrame): DataFrame =
    df.withColumn("flag", when(bucket(5) < when(col("y") === 1, lit(40)).otherwise(lit(10)), lit(null).cast("string"))
      .otherwise(lit("x")))

  private def history(f: BinaryCarver.FittedFeature): String =
    f.history.map { h =>
      Seq(f.name, h.combination.map(_.mkString("[", ", ", "]")).mkString(" | "), h.cramerv, h.tschuprowt,
        h.measure, h.value, h.nMod, h.viable, h.minFreqOk, h.distinctOk, h.orderingOk, h.withNan, h.info)
        .mkString("\t")
    }.mkString("\n")

  private def dump(m: BinaryCarver.Model): String =
    m.toJson + "\n" + m.features.map(history).filter(_.nonEmpty).mkString("\n")

  /** One text block per family: the `escalate`, `rescue` and (binary)
    * `dropna` fits' model JSON, association measures and search history
    * (the multiclass family refuses nested features, so it fits the flat
    * ones).
    */
  def render(spark: SparkSession): Seq[(String, String)] = {
    val train = withNoise(withFlag(PrepGoldenSpec.frame(spark, 3000, 11L, dev = false))).cache()
    val dev = withNoise(withFlag(PrepGoldenSpec.frame(spark, 1200, 23L, dev = true))).cache()
    val skewed = skewedDev(spark).cache()
    // (case, dev view, escalate, rescue, dropna)
    val cases = Seq(("escalate", dev, true, false, true), ("rescue", skewed, false, true, true))
    val out = Families.map { family =>
      val familyCases = if (family == "binary") cases :+ (("dropna", dev, false, false, false)) else cases
      family -> familyCases.map { case (name, d, escalate, rescue, dropna) =>
        val topK = if (escalate) InitialK else 10
        val specs =
          if (escalate) Specs ++ Noise
          else if (rescue) Specs.filter(s => s.name == "cat" || s.name == "ord")
          else Specs
        val flat = specs.filterNot(_.kind == "nested")
        val bcfg = BinaryCarver.Config(minFreq = MinFreq, maxNMod = MaxNMod, escalate = escalate,
          topKInitial = topK, rescue = rescue, dropna = dropna)
        val body = family match {
          case "binary" =>
            val withFlag = if (dropna) specs else specs :+ BinaryCarver.FeatureSpec("flag", "categorical")
            dump(BinaryCarver.fit(train, "y", withFlag, Some(d), bcfg))
          case "continuous_mean" =>
            dump(ContinuousCarver.fit(train, "yc", specs, Some(d), bcfg.copy(sortBy = "kruskal")))
          case "continuous_median" =>
            dump(ContinuousCarver.fit(train, "yc", specs, Some(d),
              bcfg.copy(sortBy = "kruskal", rateStrategy = "target_median")))
          case "ordinal" =>
            val m = OrdinalCarver.fit(train, "y_ord", specs, Some(d), OrdinalCarver.Config(minFreq = MinFreq,
              maxNMod = MaxNMod, escalate = escalate, topKInitial = topK, rescue = rescue))
            dump(m.binaryView) + "\n" +
              m.features.map(f => s"${f.feature.name}\t${f.tauB}\t${f.tauC}\t${f.somersd}").mkString("\n")
          case "multiclass" =>
            val m = MulticlassCarver.fit(train, "y_cls", flat, Some(d), MulticlassCarver.Config(
              minFreq = MinFreq, maxNMod = MaxNMod, escalate = escalate, topKInitial = topK, rescue = rescue))
            dump(m.binaryView) + "\n" +
              m.features.map(f => s"${f.feature.name}\t${f.cramerv}\t${f.tschuprowt}").mkString("\n")
        }
        s"=== $name\n$body\n"
      }.mkString
    }
    train.unpersist(); dev.unpersist(); skewed.unpersist()
    out
  }
}
