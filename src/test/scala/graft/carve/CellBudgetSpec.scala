package graft.carve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite

/** The cell gate of a fit: below [[Crosstab.cellBudget]] the sketch job
  * returns the crosstab cells ([[CellCounts]]) and the fit reads its input
  * once; past it, or when a feature is sketched, the fit runs the crosstab
  * pass as before. Both sides fit the same model. Jobs are counted with
  * adaptive execution on (an action is two jobs: the map stage and the
  * result) and broadcast joins off.
  */
class CellBudgetSpec extends SparkSuite {

  private lazy val df = PrepGoldenSpec.frame(spark, 2000, 11L, dev = false)

  private val specs = Seq(BinaryCarver.FeatureSpec("q", "quantitative"),
    BinaryCarver.FeatureSpec("cat", "categorical"))

  private def jobs[T](body: => T): (Int, T) = countJobs(
    "spark.sql.adaptive.enabled" -> "true", "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private val binary = BinaryCarver.Config(minFreq = 0.05)
  private def continuous(strategy: String, cv: Int) =
    binary.copy(sortBy = "kruskal", rateStrategy = strategy, cv = cv)

  /** Every fit kind the gate serves: (name, the fit's model JSON). */
  private def fits(frame: DataFrame, config: BinaryCarver.Config = binary): Seq[(String, () => String)] = Seq(
    "binary cv=0" -> (() => BinaryCarver.fit(frame, "y", specs, None, config).toJson),
    "binary cv=3" -> (() => BinaryCarver.fit(frame, "y", specs, None, config.copy(cv = 3)).toJson),
    "ordinal" -> (() => OrdinalCarver.fit(frame, "y_ord", specs, None, OrdinalCarver.Config(minFreq = 0.05,
      sketchCardinalityThreshold = config.sketchCardinalityThreshold)).binaryView.toJson),
    "multiclass" -> (() => MulticlassCarver.fit(frame, "y_cls", specs, None, MulticlassCarver.Config(minFreq = 0.05,
      sketchCardinalityThreshold = config.sketchCardinalityThreshold)).binaryView.toJson),
    "one-vs-rest" -> (() => {
      val m = OneVsRestCarver.fit(frame, "y_cls", specs, None, config)
      m.classes.map(m.perClass(_).toJson).mkString("\n")
    })) ++ (for (strategy <- Seq("target_mean", "target_median"); cv <- Seq(0, 3)) yield
    s"continuous $strategy cv=$cv" -> (() =>
      ContinuousCarver.fit(frame, "yc", specs, None, continuous(strategy, cv).copy(
        sketchCardinalityThreshold = config.sketchCardinalityThreshold)).toJson))

  test("a fit below the cell budget runs one action: the sketch job returns the cells") {
    fits(df).foreach { case (name, fit) =>
      val (n, _) = jobs(fit())
      assert(n == 2, s"$name ran $n jobs")
    }
  }

  test("past the budget a fit runs the crosstab pass and fits the same model") {
    fits(df).foreach { case (name, fit) =>
      val below = fit()
      val (n, over) = Crosstab.cellBudget.withValue(0L)(jobs(fit()))
      // the sketch, then the crosstab collect (the continuous fit's bounded
      // take of its cell table, a coalesced single partition here)
      assert(n == 4, s"$name ran $n jobs past the budget")
      assert(over == below, s"$name: the crosstab pass fitted another model")
    }
  }

  test("a sketched feature takes the crosstab pass") {
    // `q` has far more than 10 distinct values, so its histogram carries
    // the sketch's bucket representatives, which the raw cells cannot give
    val sketching = binary.copy(sketchCardinalityThreshold = 10L)
    fits(df, sketching).foreach { case (name, fit) =>
      val (n, sketched) = jobs(fit())
      assert(n == 4, s"$name ran $n jobs with a sketched feature")
      assert(sketched == Crosstab.cellBudget.withValue(0L)(fit()), s"$name: the cells fitted another model")
    }
  }

  private def empty = df.limit(0)

  /** An empty frame raises the family's typed error with the cells and
    * with the budget at 0; a fit without a sketch job to ride (sketching
    * off) raises it from the crosstab pass.
    */
  private def raisesOnEmpty(family: String)(fit: BinaryCarver.Config => Any): Unit =
    for (budget <- Seq(Stats.LocalRankRows, 0L); threshold <- Seq(binary.sketchCardinalityThreshold, 0L)) {
      val e = intercept[IllegalArgumentException](
        Crosstab.cellBudget.withValue(budget)(fit(binary.copy(sketchCardinalityThreshold = threshold))))
      assert(e.getMessage.contains(s"[$family]") && e.getMessage.contains("no rows"), e.getMessage)
    }

  test("binary: an empty frame raises a typed error") {
    raisesOnEmpty("BinaryCarver")(c => BinaryCarver.fit(empty, "y", specs, None, c))
  }

  test("continuous: an empty frame raises a typed error") {
    raisesOnEmpty("ContinuousCarver")(c => ContinuousCarver.fit(empty, "yc", specs, None, c.copy(sortBy = "kruskal")))
  }

  test("ordinal: an empty frame raises a typed error") {
    raisesOnEmpty("OrdinalCarver")(c => OrdinalCarver.fit(empty, "y_ord", specs, None,
      OrdinalCarver.Config(sketchCardinalityThreshold = c.sketchCardinalityThreshold)))
  }

  test("multiclass: an empty frame raises a typed error") {
    raisesOnEmpty("MulticlassCarver")(c => MulticlassCarver.fit(empty, "y_cls", specs, None,
      MulticlassCarver.Config(sketchCardinalityThreshold = c.sketchCardinalityThreshold)))
  }

  test("one-vs-rest: an empty frame raises a typed error") {
    raisesOnEmpty("OneVsRestCarver")(c => OneVsRestCarver.fit(empty, "y_cls", specs, None, c))
  }

  // ---------------------------------------------------- the aggregate

  private val entryType = ArrayType(StructType(Seq(StructField("fid", StringType),
    StructField("dv", DoubleType), StructField("sv", StringType))))

  /** The aggregate over rows of (entries, y), without folds. */
  private def cells(budget: Long) =
    CellCounts(BoundReference(0, entryType, nullable = true), BoundReference(1, DoubleType, nullable = true),
      Literal(null, LongType), budget)

  /** One input row: one entry of feature `x` per value, target 1. */
  private def row(values: Double*): InternalRow =
    InternalRow(new GenericArrayData(values.map(v => InternalRow(UTF8String.fromString("x"), v, null)).toArray), 1.0)

  private def filled(agg: CellCounts, rows: InternalRow*): CellCounts.Cells =
    rows.foldLeft(agg.createAggregationBuffer())(agg.update)

  test("without a TaskContext the partial cap is the whole budget") {
    assert(cells(7L).createAggregationBuffer().cap == 7L)
  }

  test("a buffer past its cap returns no cells and serializes to a constant size") {
    val agg = cells(4L)
    // -0.0 and 0.0 are one cell, as in a groupBy
    val within = filled(agg, row(1, 2), row(2, 3), row(-0.0, 0.0))
    assert(!within.overflowed)
    val counts = agg.eval(agg.deserialize(agg.serialize(within))).asInstanceOf[GenericArrayData].array
      .map(_.asInstanceOf[InternalRow]).map(r => r.getDouble(1) -> r.getLong(5)).toMap
    assert(counts == Map(0.0 -> 2L, 1.0 -> 1L, 2.0 -> 2L, 3.0 -> 1L))
    val small = filled(agg, row(1, 2, 3, 4, 5))
    val large = filled(agg, (0 until 100).map(i => row(i.toDouble, i + 0.5)): _*)
    Seq(small, large).foreach { b =>
      assert(b.overflowed && agg.eval(b) == null)
      assert(agg.serialize(b).length == 4)
      assert(agg.deserialize(agg.serialize(b)).overflowed)
    }
  }

  test("the merge cap is the whole budget") {
    val agg = cells(3L)
    val merged = agg.merge(filled(agg, row(1, 2)), agg.deserialize(agg.serialize(filled(agg, row(2, 3)))))
    assert(!merged.overflowed && merged.cells.size == 3)
    assert(agg.merge(merged, filled(agg, row(4))).overflowed)
    // an overflowed side overflows the merge, either way round
    assert(agg.merge(filled(agg, row(1)), filled(agg, row(1, 2, 3, 4))).overflowed)
    assert(agg.merge(filled(agg, row(1, 2, 3, 4)), filled(agg, row(1))).overflowed)
  }

  test("a partial buffer holds at most budget / numPartitions cells") {
    // 4 partitions of 10 rows; every partition carries the same 10 cells,
    // so the merged table is 10 cells whatever the cap
    val input = spark.range(0, 40, 1, 4)
    def run(budget: Long): Option[Map[Double, Long]] = {
      val entries = array(struct(lit("x").as("fid"), (col("id") % 10).cast("double").as("dv"),
        lit(null).cast("string").as("sv")))
      val out = input.agg(CellCounts.column(entries, lit(1.0), lit(null).cast("long"), budget)).head()
      Option(out.getSeq[org.apache.spark.sql.Row](0)).map(_.map(r => r.getDouble(1) -> r.getLong(5)).toMap)
    }
    assert(run(40L).contains((0 until 10).map(_.toDouble -> 4L).toMap))
    assert(run(39L).isEmpty, "a partition past 39 / 4 cells must overflow")
  }
}
