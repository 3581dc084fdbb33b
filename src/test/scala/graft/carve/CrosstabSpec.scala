package graft.carve

import graft.SparkSuite

/** The crosstab stage in each target form: with folds, the train total
  * equals the fold-less crosstab and the fold views sum to it.
  */
class CrosstabSpec extends SparkSuite {
  import spark.implicits._

  /** 3,000 rows; `x` is missing as null or NaN, `c` as null. */
  private lazy val df = (0 until 3000).map { i =>
    val x: Option[Double] =
      if (i % 17 == 0) None else if (i % 23 == 0) Some(Double.NaN) else Some((i * 37 % 101).toDouble)
    val c = if (i % 13 == 0) None else Some(s"c${i % 7}")
    val lvl = 1 + (i * 37 % 101) / 26 // 1..4
    (x, c, if (lvl > 2) 1 else 0, lvl, s"k${(lvl + i % 2) % 3}")
  }.toDF("x", "c", "y", "lvl", "cls")

  private val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"),
    BinaryCarver.FeatureSpec("c", "categorical"))

  private type Cell = (Long, String, Boolean, Double, Long, Double)
  private val cell: Crosstab.Mk[Cell] = (dv, sv, isNull, key, count, sumY) =>
    (java.lang.Double.doubleToLongBits(dv), sv, isNull, key, count, sumY)

  private def multiset(rows: Seq[Cell]): Map[Cell, Int] = rows.groupMapReduce(identity)(_ => 1)(_ + _)

  /** (value, key) -> (count, sumY), summed over the given rows. */
  private def summed(rows: Seq[Cell]): Map[(Long, String, Boolean, Double), (Long, Double)] =
    rows.groupMapReduce(r => (r._1, r._2, r._3, r._4))(r => (r._5, r._6)) {
      case ((c0, s0), (c1, s1)) => (c0 + c1, s0 + s1)
    }

  private def check(target: String, y: Crosstab.Target): Unit = {
    val plain = Crosstab.stage(df, target, specs, Map.empty, y, None)(cell)
    val folded = Crosstab.stage(df, target, specs, Map.empty, y, Some(Crosstab.Folds(3)))(cell)
    assert(plain.folds.isEmpty)
    assert(folded.folds.length == 3)
    assert(folded.classes == plain.classes)
    assert(folded.total.keySet == specs.map(_.name).toSet)
    specs.foreach { s =>
      val total = folded.total(s.name).toSeq
      assert(multiset(total) == multiset(plain.total(s.name).toSeq), s"${s.name}: fold total differs")
      assert(summed(folded.folds.flatMap(_.getOrElse(s.name, Array.empty[Cell]).toSeq)) == summed(total),
        s"${s.name}: fold views do not sum to the total")
      assert(total.exists(_._3), s"${s.name}: no missing-value row")
    }
  }

  test("summed target: fold total equals the fold-less crosstab and the fold sum") {
    check("y", Crosstab.Summed(requireBinaryY = true))
  }

  test("level target: fold total equals the fold-less crosstab and the fold sum") {
    check("lvl", Crosstab.Level)
  }

  test("class target: fold total equals the fold-less crosstab and the fold sum") {
    check("cls", Crosstab.Class)
    val classes = Crosstab.stage(df, "cls", specs, Map.empty, Crosstab.Class, None)(cell).classes
    assert(classes == Vector("k0", "k1", "k2"))
  }
}
