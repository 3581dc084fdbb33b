package graft.carve

import org.scalatest.funsuite.AnyFunSuite

import graft.carve.BinaryCarver.{FeatureSpec, HistRow}
import graft.carve.OrdinalCarver.KHistRow

/** The one kind dispatch of the driver prep is exhaustive on every
  * family's `fitFromHistograms` — the checkpoint-replay entry point that
  * skips `validateInputs` — so a spec is never carved under a kind it
  * does not declare, nor under a malformed declared order.
  */
class PrebinDispatchSpec extends AnyFunSuite {

  private val values = (0 until 6).map(i => s"v$i")
  private def binaryHist = values.map(v => HistRow(Double.NaN, v, isNull = false, 100L, 40.0)).toArray
  private def keyedHist = (for (v <- values; k <- 0 until 3) yield
    KHistRow(Double.NaN, v, isNull = false, k.toDouble, 40L)).toArray

  test("an unknown feature kind is refused by every family's fitFromHistograms") {
    val spec = FeatureSpec("x", "wat")
    val errors = Seq(
      intercept[IllegalArgumentException](
        BinaryCarver.fitFromHistograms(Map("x" -> binaryHist), None, "y", Seq(spec))),
      intercept[IllegalArgumentException](
        OrdinalCarver.fitFromHistograms(Map("x" -> keyedHist), None, "y", Seq(spec))),
      intercept[IllegalArgumentException](
        MulticlassCarver.fitFromHistograms(Map("x" -> keyedHist), None, "y", Seq(spec),
          Vector("k1", "k2", "k3"))))
    errors.foreach(e => assert(e.getMessage.contains("unknown kind 'wat'"), e.getMessage))
  }

  test("a declared ordinal order that repeats a value is refused, not double counted") {
    val e = intercept[IllegalArgumentException] {
      BinaryCarver.fitFromHistograms(Map("x" -> binaryHist), None, "y",
        Seq(FeatureSpec("x", "ordinal", values :+ "v0")))
    }
    assert(e.getMessage.contains("declared value order repeats v0"), e.getMessage)
  }

  test("a nested spec is refused by MulticlassCarver.fitFromHistograms, not carved as categorical") {
    val nestedHist = (for (i <- 0 until 6; k <- 0 until 3) yield KHistRow(Double.NaN,
      s"c$i${BinaryCarver.NestedSep}g${i % 2}", isNull = false, k.toDouble, 40L)).toArray
    val e = intercept[IllegalArgumentException] {
      MulticlassCarver.fitFromHistograms(Map("city" -> nestedHist), None, "y",
        Seq(FeatureSpec("city", "nested", parents = Seq("region"))), Vector("k0", "k1", "k2"))
    }
    assert(e.getMessage.contains("nested features are not supported"), e.getMessage)
  }
}
