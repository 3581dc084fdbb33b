package graft.carve

import graft.SparkSuite

/** A fit's model and search history depend only on the data, not on the
  * shuffle plan. A continuous fit below the cell bound sums every
  * floating-point moment on the driver in canonical (feature, value, y)
  * order, so the `continuous_mean` and `continuous_median` blocks of
  * [[PrepGoldenSpec]] (cv ∈ {0, 3} × dev ∈ {none, some}) render byte for
  * byte the same under 1, 4 and 17 shuffle partitions with adaptive
  * execution, and under 4 without it. The `binary`, `ordinal` and
  * `multiclass` blocks render the same under 1, 4 and 17 partitions, and
  * on both sides of the cell gate: the cells of the sketch job (whose
  * partial cap depends on the partition count) and the crosstab pass.
  */
class PlanInvarianceSpec extends SparkSuite {

  /** Renders `blocks` under each (partitions, adaptive, cell budget) plan
    * and requires every rendering to equal the first.
    */
  private def invariant(blocks: Seq[String], plans: Seq[(Int, Boolean, Long)]): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val rendered = plans.map { case (partitions, aqe, budget) =>
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toLong)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        s"partitions=$partitions aqe=$aqe budget=$budget" ->
          Crosstab.cellBudget.withValue(budget)(PrepGoldenSpec.render(spark, blocks))
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

  private val Budget = Stats.LocalRankRows

  test("continuous fits render byte-identical blocks under every shuffle plan") {
    invariant(Seq("continuous_mean", "continuous_median"),
      Seq((1, true, Budget), (4, true, Budget), (17, true, Budget), (4, false, Budget)))
  }

  test("binary, ordinal and multiclass fits render byte-identical blocks under every plan and both gate sides") {
    invariant(Seq("binary", "ordinal", "multiclass"),
      for (partitions <- Seq(1, 4, 17); budget <- Seq(Budget, 0L)) yield (partitions, true, budget))
  }
}
