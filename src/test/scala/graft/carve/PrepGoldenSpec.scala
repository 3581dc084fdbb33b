package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Pins the driver prep of every carver family byte-for-byte: each fit's
  * model JSON and search history is compared against a file recorded under
  * `src/test/resources/prep/`. The frame carries every feature kind in a
  * shape that reaches the prep's merge branches — a quantitative column
  * whose heavy repeated value leaves rare prebins to merge, a categorical
  * column with rare values pooled into `__OTHER__`, a declared-ordinal
  * column with a rare and a declared-but-unseen level, and a nested
  * city → region column with rare cities — and every family is fitted at
  * cv ∈ {0, 3} × dev ∈ {none, some}.
  */
class PrepGoldenSpec extends SparkSuite {
  import PrepGoldenSpec._

  test("every family's fit matches its recorded model JSON and search history") {
    val out = render(spark)
    assert(out.map(_._1) == Families)
    out.foreach { case (family, text) =>
      val path = s"/prep/$family.txt"
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
}

object PrepGoldenSpec {
  val Families: Seq[String] =
    Seq("binary", "continuous_mean", "continuous_median", "ordinal", "multiclass", "ovr")

  private val Declared = Seq("lo", "mid", "hi", "top", "rare", "unseen")

  /** Seeded frame: `q` (35% at 7.0 and 10% at 7.05 with 1% between them,
    * 3% null, the rest spread over [0, 20)), `cat` (five common values,
    * eight rare ones, 2% null), `ord` (declared order [[Declared]], `rare`
    * at 1%, `unseen` never drawn), `city` nested in `region` (twenty
    * cities of skewed frequency, 2% null), and the four
    * targets — binary `y`, continuous `yc`, ordinal `y_ord` 1..4 and class
    * `y_cls` k0..k3 — all driven by the same latent score. A dev frame
    * (another seed) adds unseen categories and cities.
    */
  def frame(spark: SparkSession, n: Int, seed: Long, dev: Boolean): DataFrame = {
    val rnd = new java.util.Random(seed)
    val common = Vector("a", "b", "c", "d", "e")
    val rows = (0 until n).map { _ =>
      val u = rnd.nextDouble()
      val q: java.lang.Double =
        if (u < 0.35) 7.0
        else if (u < 0.45) 7.05
        else if (u < 0.46) 7.0 + 0.001 * (1 + rnd.nextInt(49))
        else if (u < 0.49) null
        else java.lang.Double.valueOf(math.rint(rnd.nextDouble() * 2000) / 100)
      val cu = rnd.nextDouble()
      val cat =
        if (cu < 0.02) null
        else if (cu < 0.06) s"r${rnd.nextInt(8)}"
        else if (dev && cu < 0.08) s"new${rnd.nextInt(3)}"
        else common(math.min(4, (-math.log(rnd.nextDouble()) * 1.6).toInt))
      val ou = rnd.nextDouble()
      val ord = if (ou < 0.01) "rare" else Declared(math.min(3, (ou * 4.2).toInt))
      val cityIdx = math.min(19, (-math.log(rnd.nextDouble()) * 5).toInt)
      val city =
        if (rnd.nextDouble() < 0.02) null
        else if (dev && rnd.nextDouble() < 0.03) s"c${20 + rnd.nextInt(4)}"
        else s"c$cityIdx"
      val region = city match {
        case null => s"g${rnd.nextInt(4)}"
        case c => s"g${c.drop(1).toInt % 4}"
      }
      val qv = if (q == null) 10.0 else q.doubleValue
      val latent = qv / 20.0 + (if (cat == null) 0.3 else common.indexOf(cat) * 0.12) +
        Declared.indexOf(ord) * 0.1 + cityIdx * 0.02 + rnd.nextGaussian() * 0.35
      val y = if (latent > 0.9) 1 else 0
      val yc = math.rint((latent * 10 + rnd.nextGaussian()) * 1000) / 1000
      val yOrd = 1 + math.max(0, math.min(3, (latent * 2.2).toInt))
      val yCls = s"k${math.max(0, math.min(3, ((latent + rnd.nextGaussian() * 0.2) * 2.4).toInt))}"
      Row(q, cat, ord, city, region, y, yc, yOrd, yCls)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("q", DoubleType), StructField("cat", StringType), StructField("ord", StringType),
      StructField("city", StringType), StructField("region", StringType),
      StructField("y", IntegerType), StructField("yc", DoubleType),
      StructField("y_ord", IntegerType), StructField("y_cls", StringType))))
  }

  private val Specs = Seq(
    BinaryCarver.FeatureSpec("q", "quantitative"),
    BinaryCarver.FeatureSpec("cat", "categorical"),
    BinaryCarver.FeatureSpec("ord", "ordinal", ordinalOrder = Declared),
    BinaryCarver.FeatureSpec("city", "nested", parents = Seq("region")))
  // the multiclass family refuses nested features
  private val FlatSpecs = Specs.filterNot(_.kind == "nested")

  private val MinFreq = 0.05

  private def history(f: BinaryCarver.FittedFeature): String =
    f.history.map { h =>
      Seq(f.name, h.combination.map(_.mkString("[", ", ", "]")).mkString(" | "), h.cramerv, h.tschuprowt,
        h.measure, h.value, h.nMod, h.viable, h.minFreqOk, h.distinctOk, h.orderingOk, h.withNan, h.info)
        .mkString("\t")
    }.mkString("\n")

  private def dump(m: BinaryCarver.Model): String =
    m.toJson + "\n" + m.features.map(history).filter(_.nonEmpty).mkString("\n")

  /** One text block per family (all of [[Families]] by default): every
    * (cv, dev) fit's model JSON, family extras and search history, in a
    * fixed order.
    */
  def render(spark: SparkSession, families: Seq[String] = Families): Seq[(String, String)] = {
    val train = frame(spark, 3000, 11L, dev = false).cache()
    val devFrame = frame(spark, 1200, 23L, dev = true).cache()
    val settings = for (cv <- Seq(0, 3); dev <- Seq(false, true)) yield (cv, if (dev) Some(devFrame) else None)
    def section(cv: Int, dev: Option[DataFrame], body: String) =
      s"=== cv=$cv dev=${dev.isDefined}\n$body\n"
    val out = families.map { family =>
      family -> settings.map { case (cv, dev) =>
        val bcfg = BinaryCarver.Config(minFreq = MinFreq, cv = cv)
        section(cv, dev, family match {
          case "binary" => dump(BinaryCarver.fit(train, "y", Specs, dev, bcfg))
          case "continuous_mean" =>
            dump(ContinuousCarver.fit(train, "yc", Specs, dev, bcfg.copy(sortBy = "kruskal")))
          case "continuous_median" =>
            dump(ContinuousCarver.fit(train, "yc", Specs, dev,
              bcfg.copy(sortBy = "kruskal", rateStrategy = "target_median")))
          case "ordinal" =>
            val m = OrdinalCarver.fit(train, "y_ord", Specs, dev, OrdinalCarver.Config(minFreq = MinFreq, cv = cv))
            dump(m.binaryView) + "\n" + RefJson.writeOrdinal(m) + "\n" +
              m.features.map(f => s"${f.feature.name}\t${f.tauB}\t${f.tauC}\t${f.somersd}").mkString("\n")
          case "multiclass" =>
            val m = MulticlassCarver.fit(train, "y_cls", FlatSpecs, dev,
              MulticlassCarver.Config(minFreq = MinFreq, cv = cv))
            dump(m.binaryView) + "\n" + RefJson.writeMulticlass(m) + "\n" +
              m.features.map(f => s"${f.feature.name}\t${f.cramerv}\t${f.tschuprowt}").mkString("\n")
          case "ovr" =>
            val m = OneVsRestCarver.fit(train, "y_cls", Specs, dev, bcfg)
            m.classes.map(c => s"--- class $c\n" + dump(m.perClass(c))).mkString("\n")
        })
      }.mkString
    }
    train.unpersist(); devFrame.unpersist()
    out
  }
}
