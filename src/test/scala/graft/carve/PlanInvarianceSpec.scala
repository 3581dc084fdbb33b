package graft.carve

import graft.SparkSuite

/** A continuous fit below the cell bound sums every floating-point moment
  * on the driver in canonical (feature, value, y) order, so its model and
  * search history depend only on the data, not on the shuffle plan: the
  * `continuous_mean` and `continuous_median` blocks of [[PrepGoldenSpec]]
  * (cv ∈ {0, 3} × dev ∈ {none, some}) render byte for byte the same under
  * 1, 4 and 17 shuffle partitions with adaptive execution, and under 4
  * without it.
  */
class PlanInvarianceSpec extends SparkSuite {

  private val Blocks = Seq("continuous_mean", "continuous_median")
  private val Plans = Seq((1, true), (4, true), (17, true), (4, false))

  test("continuous fits render byte-identical blocks under every shuffle plan") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val rendered = Plans.map { case (partitions, aqe) =>
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        s"partitions=$partitions aqe=$aqe" -> PrepGoldenSpec.render(spark, Blocks)
      }
      val (refPlan, ref) = rendered.head
      rendered.tail.foreach { case (plan, out) =>
        out.zip(ref).foreach { case ((family, text), (_, expected)) =>
          val (a, b) = (text.linesIterator.toVector, expected.linesIterator.toVector)
          val i = a.indices.find(i => i >= b.length || a(i) != b(i)).getOrElse(a.length)
          assert(text == expected,
            s"$family under $plan differs from $refPlan at line ${i + 1}:\n  got      ${a.lift(i)}\n  expected ${b.lift(i)}")
        }
      }
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
