package graft.carve

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.DynamicVariable

import graft.carve.BinaryCarver.{FeatureSpec, HistRow}
import graft.carve.OrdinalCarver.KHistRow

/** The crosstab stage (SURVEY §2.4 C1/C2, folds C4) — the one reduction of
  * data-sized input to small driver state, shared by every carver family:
  * the cells `(fid, dv, sv[, y][, fold]) → count` of the
  * [[BinaryCarver.histEntries]] long form, collected to the driver.
  * The target is either summed (`count` plus `sum(y)`: binary, continuous)
  * or one more key (the double level: ordinal; the string class:
  * multiclass, mapped to its index in the sorted class list after the
  * collect).
  *
  * A fit reads its input in ONE pass when it can ([[pass]]): the sketch
  * job also counts the exact cells with [[CellCounts]], bounded by
  * [[Stats.LocalRankRows]] cells (the seam [[cellBudget]]). When they come
  * back and no feature was sketched, they are handed to the driver half
  * [[assemble]] in the shape of [[frame]]'s rows, in canonical (fid,
  * value, y, fold) order. Otherwise — too many cells, a sketched feature,
  * or no sketch job to ride — the fit runs the crosstab pass:
  * `explode(histEntries) → groupBy → collect` ([[stage]]), whose map-side
  * partial aggregation keeps the shuffle at features × cardinality
  * (× target keys) rows.
  *
  * With folds the fold key is one more key: each held-out fold's view is
  * the rows carrying its key, and the train total is the sum over folds —
  * no second scan (`base_carver.py:607-628` semantics at 1× the IO of a
  * plain fit). Row order within a feature is the row order [[assemble]]
  * meets without folds and first-seen order for the fold total.
  */
object Crosstab {

  /** One collected crosstab row as the driver prep reads it: the value
    * (numeric `dv` or string `sv`; both null is the NaN bucket) and its
    * count. [[HistRow]] and [[KHistRow]] add the summed or keyed target.
    */
  trait Cell {
    def dv: Double
    def sv: String
    def isNull: Boolean
    def count: Long
  }

  /** How the target enters the crosstab; `family` names the fit in the
    * y-contract and fold-id errors.
    */
  sealed abstract class Target(val family: String)

  /** `count` plus `sum(y)`. `requireBinaryY` (the binary fit paths only —
    * the continuous fit shares this form) adds the binary target contract
    * to the SAME aggregation: two conditional sums, no extra scan. The
    * reference raises on NaN y and on values outside {0, 1}
    * (`base_discretizer._prepare_y`); without the check sum(y) silently
    * computes garbage rates for a multiclass y.
    */
  final case class Summed(requireBinaryY: Boolean = false) extends Target("BinaryCarver")

  /** Keyed by the target cast to double (integer-encoded ordinal levels). */
  case object Level extends Target("OrdinalCarver")

  /** Keyed by the continuous target cast to double, with no target
    * contract here: the continuous carver checks y on its sketch job.
    */
  case object Valued extends Target("ContinuousCarver")

  /** Keyed by the target cast to string; classes take their sorted
    * (canonical) order — `get_multiclass_crosstab` pins the same order.
    */
  case object Class extends Target("MulticlassCarver")

  /** `cv` folds from the user's `foldCol`, else the content hash. */
  final case class Folds(cv: Int, foldCol: Option[String] = None)

  /** The fold option of a fit config: folds only when `cv > 1`. */
  def folds(cv: Int, foldCol: String): Option[Folds] =
    Option.when(cv > 1)(Folds(cv, Option(foldCol)))

  /** Train total per feature, one view per fold (empty without folds) and
    * the sorted classes (empty unless the target is [[Class]]).
    */
  final case class Result[R](total: Map[String, Array[R]], folds: Seq[Map[String, Array[R]]],
      classes: Vector[String])

  /** Builds one row from (dv, sv, isNull, key, count, sumY): `key` is the
    * level or class index (0 when summed), `sumY` is Σy (0 when keyed).
    */
  type Mk[R] = (Double, String, Boolean, Double, Long, Double) => R

  /** The binary/continuous projection. */
  val summed: Mk[HistRow] = (dv, sv, isNull, _, count, sumY) => HistRow(dv, sv, isNull, count, sumY)

  /** The ordinal/multiclass projection. */
  val keyed: Mk[KHistRow] = (dv, sv, isNull, key, count, _) => KHistRow(dv, sv, isNull, key, count)

  /** Cells a fit collects to the driver from its sketch job. A
    * `private[graft]` seam: a test sets it (`withValue`) to reach the
    * crosstab pass on small data.
    */
  private[graft] val cellBudget = new DynamicVariable[Long](Stats.LocalRankRows)

  /** The sketch job of a fit: the sketched edges, the job's row (with the
    * caller's extras) when a job ran, and the cells in [[frame]]'s row
    * shape when they came back within the budget and no feature was
    * sketched.
    */
  private[carve] final case class Pass(sketched: Map[String, Vector[Double]], row: Option[Row],
      cells: Option[Array[Row]])

  /** Runs the sketch ([[BinaryCarver.sketchWithExtras]] with `extras`) and
    * counts the cells of `y` on the same job. Without a job to ride (no
    * quantitative feature to sketch and no extras) it runs nothing, so the
    * caller's crosstab pass stays the fit's only pass.
    */
  private[carve] def pass(df: DataFrame, target: String, specs: Seq[FeatureSpec], config: BinaryCarver.Config,
      y: Target, folds: Option[Folds], extras: Seq[Column], budget: Long): Pass = {
    val sketches = config.sketchCardinalityThreshold > 0 && specs.exists(_.kind == "quantitative")
    if (!sketches && extras.isEmpty) return Pass(Map.empty, None, None)
    val fold = folds.fold(lit(null).cast("long"))(f => BinaryCarver.foldExpr(specs, target, f.cv, f.foldCol))
    val cells = CellCounts.column(array(BinaryCarver.histEntries(specs, Map.empty): _*), yCol(target, y), fold,
      budget).as(CellsAlias)
    val (sketched, row) = BinaryCarver.sketchWithExtras(df, specs, config, extras :+ cells)
    Pass(sketched, row, row.filter(_ => sketched.isEmpty)
      .flatMap(r => Option(r.getSeq[Row](r.fieldIndex(CellsAlias))))
      .map(frameRows(_, y, folds)))
  }

  /** The train crosstab of a fit that collects it whole (binary, ordinal,
    * multiclass, one-vs-rest): the cells of its sketch job, else the
    * crosstab pass. Returns the crosstab and the sketched edges.
    */
  private[carve] def fitStage[R: ClassTag](df: DataFrame, target: String, specs: Seq[FeatureSpec],
      config: BinaryCarver.Config, y: Target, folds: Option[Folds], family: String)(
      mk: Mk[R]): (Result[R], Map[String, Vector[Double]]) = {
    val p = pass(df, target, specs, config, y, folds, Nil, cellBudget.value)
    val result = p.cells match {
      case Some(rows) => assemble(rows, target, y, folds)(mk)
      case None => stage(df, target, specs, p.sketched, y, folds)(mk)
    }
    requireRows(result.total, family)
    (result, p.sketched)
  }

  /** An empty train crosstab is a fit over no rows: a typed error instead
    * of a missing feature further on.
    */
  private[carve] def requireRows(total: Map[String, Array[_]], family: String): Unit =
    require(total.nonEmpty, s"[$family] the training frame has no rows to fit")

  private val CellsAlias = "__graft_cells"

  private def yCol(target: String, y: Target): Column =
    if (y == Class) col(target).cast("string") else col(target).cast("double")

  /** [[CellCounts]] rows `(fid, dv, sv, y, fold, n)` as [[frame]] rows, in
    * canonical order: feature, value (the NaN bucket last), then y and
    * fold for a keyed target, or fold and y for a summed one, whose rows
    * are the (feature, value, fold) groups with Σy added in ascending y.
    */
  private def frameRows(cells: Seq[Row], y: Target, folds: Option[Folds]): Array[Row] = {
    val summed = y.isInstanceOf[Summed]
    val sorted = cells.toArray.sortWith((a, b) => compareAt(a, b, if (summed) SummedOrder else KeyedOrder) < 0)
    // frame's key columns: (fid, dv, sv[, __y][, __fold])
    def keys(c: Row, tail: Any*): Row =
      Row.fromSeq(Seq(c(0), c(1), c(2)) ++ (if (summed) Nil else Seq(c(3))) ++ folds.map(_ => c(4)) ++ tail)
    y match {
      case Summed(check) =>
        val out = mutable.ArrayBuffer.empty[Row]
        var i = 0
        while (i < sorted.length) {
          val first = sorted(i)
          var cnt, yNull, nonBin = 0L
          var sy = 0.0
          var anyY = false
          while (i < sorted.length && compareAt(sorted(i), first, SummedGroup) == 0) {
            val c = sorted(i)
            val n = c.getLong(5)
            cnt += n
            if (c.isNullAt(3)) yNull += n
            else {
              val v = c.getDouble(3)
              sy += v * n
              anyY = true
              if (v != 0.0 && v != 1.0) nonBin += n
            }
            i += 1
          }
          // frame's sums: sum(y) and the non-binary count are null when
          // every y is null
          val sums = Seq(cnt, if (anyY) sy else null) ++ (if (check) Seq(yNull, if (anyY) nonBin else null) else Nil)
          out += keys(first, sums: _*)
        }
        out.toArray
      case _ => sorted.map(c => keys(c, c(5)))
    }
  }

  // key positions of a CellCounts row, in comparison order
  private val KeyedOrder = Array(0, 1, 2, 3, 4)
  private val SummedOrder = Array(0, 1, 2, 4, 3)
  private val SummedGroup = Array(0, 1, 2, 4)

  private def compareAt(a: Row, b: Row, keys: Array[Int]): Int = {
    var c = 0
    var k = 0
    while (c == 0 && k < keys.length) {
      c = compareNullsLast(a.get(keys(k)), b.get(keys(k)))
      k += 1
    }
    c
  }

  private def compareNullsLast(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => 1
    case (_, null) => -1
    case (x: Double, z: Double) => java.lang.Double.compare(x, z)
    case (x: Long, z: Long) => java.lang.Long.compare(x, z)
    case (x: String, z: String) => x.compareTo(z)
    case _ => throw new IllegalStateException(s"incomparable cell keys $a, $b")
  }

  def stage[R: ClassTag](df: DataFrame, target: String, specs: Seq[FeatureSpec],
      sketched: Map[String, Vector[Double]], y: Target, folds: Option[Folds])(mk: Mk[R]): Result[R] =
    assemble(frame(df, target, specs, sketched, y, folds).collect(), target, y, folds)(mk)

  /** The stage's aggregate before the collect: `(fid, dv, sv[, __y][, __fold], cnt)`
    * plus the summed target's `sy` (and its y-contract counts).
    */
  private[carve] def frame(df: DataFrame, target: String, specs: Seq[FeatureSpec],
      sketched: Map[String, Vector[Double]], y: Target, folds: Option[Folds]): DataFrame = {
    val isKeyed = !y.isInstanceOf[Summed]
    val foldCol = folds.map(f => BinaryCarver.foldExpr(specs, target, f.cv, f.foldCol).as("__fold"))
    val long = df.select(
      Seq(explode(array(BinaryCarver.histEntries(specs, sketched): _*)).as("e"), yCol(target, y).as("__y")) ++ foldCol: _*)
    val keys = (if (isKeyed) Seq(col("__y")) else Nil) ++ foldCol.map(_ => col("__fold"))
    val aggs = y match {
      case Summed(check) =>
        sum(col("__y")).as("sy") +: (if (!check) Nil else Seq(
          sum(col("__y").isNull.cast("long")).as("yNull"),
          sum((col("__y") =!= 0.0 && col("__y") =!= 1.0).cast("long")).as("yNonBin")))
      case _ => Nil
    }
    long
      .groupBy(Seq(col("e.fid").as("fid"), col("e.dv").as("dv"), col("e.sv").as("sv")) ++ keys: _*)
      .agg(count(lit(1)).as("cnt"), aggs: _*)
  }

  /** The driver half of [[stage]] over collected [[frame]] rows (or rows of
    * the same shape): the y contract, fold-id checks, fold views and the
    * train total.
    */
  private[carve] def assemble[R: ClassTag](agg: Array[Row], target: String, y: Target, folds: Option[Folds])(
      mk: Mk[R]): Result[R] = {
    val isKeyed = !y.isInstanceOf[Summed]
    val foldIdx = if (isKeyed) 4 else 3
    val cntIdx = 3 + (if (isKeyed) 1 else 0) + folds.size

    y match {
      case Summed(true) =>
        require(!agg.exists(r => r.getLong(cntIdx + 2) > 0),
          s"[BinaryCarver] y ('$target') should not contain NaN/null")
        require(!agg.exists(r => !r.isNullAt(cntIdx + 3) && r.getLong(cntIdx + 3) > 0),
          s"[BinaryCarver] y ('$target') must be binary (values 0/1); use Continuous/Multiclass/OrdinalCarver for other targets")
      // reference OrdinalCarver._prepare_samples: y must be a numeric
      // integer-encoded ordinal with no NaN — a null here is either a real
      // null or a non-numeric value nulled by the cast
      case Level => require(!agg.exists(_.isNullAt(3)),
        s"[OrdinalCarver] y ('$target') must be an integer-encoded numeric ordinal with no nulls")
      // reference validate_multiclass_target: NaN y raises (a null would
      // otherwise become a class — or NPE in the sort below)
      case Class => require(!agg.exists(_.isNullAt(3)),
        s"[MulticlassCarver] y ('$target') should not contain null")
      case _ =>
    }
    val classes = if (y == Class) agg.map(_.getString(3)).distinct.sorted.toVector else Vector.empty
    val classIdx = classes.zipWithIndex.toMap
    def keyOf(r: Row): Double = y match {
      case Class => classIdx(r.getString(3)).toDouble
      case Level | Valued => r.getDouble(3)
      case _ => 0.0
    }
    def sumYOf(r: Row): Double = if (isKeyed || r.isNullAt(cntIdx + 1)) 0.0 else r.getDouble(cntIdx + 1)
    def arrays(m: mutable.Map[String, mutable.ArrayBuffer[R]]): Map[String, Array[R]] =
      m.view.mapValues(_.toArray).toMap

    // one view per fold; without folds the single view is the result
    val views = Vector.fill(folds.fold(1)(_.cv))(mutable.Map.empty[String, mutable.ArrayBuffer[R]])
    // fold total keyed by (fid, value bits, sv, key bits): NaN-safe
    val total = mutable.LinkedHashMap.empty[(String, Long, String, Long), (Boolean, Long, Double)]
    agg.foreach { r =>
      val fid = r.getString(0)
      val dvNull = r.isNullAt(1)
      val svNull = r.isNullAt(2)
      val dv = if (dvNull) Double.NaN else r.getDouble(1)
      val sv = if (svNull) null else r.getString(2)
      val key = keyOf(r)
      val cnt = r.getLong(cntIdx)
      val sy = sumYOf(r)
      val view = folds.fold(0)(f => checkFoldId(r, foldIdx, f.cv, y.family))
      views(view).getOrElseUpdate(fid, mutable.ArrayBuffer.empty) += mk(dv, sv, dvNull && svNull, key, cnt, sy)
      if (folds.nonEmpty) {
        val k = (fid, java.lang.Double.doubleToLongBits(dv), sv, java.lang.Double.doubleToLongBits(key))
        val (isNull, c0, s0) = total.getOrElse(k, (dvNull && svNull, 0L, 0.0))
        total(k) = (isNull, c0 + cnt, s0 + sy)
      }
    }
    if (folds.isEmpty) Result(arrays(views.head), Nil, classes)
    else {
      val totalByFid = mutable.Map.empty[String, mutable.ArrayBuffer[R]]
      total.foreach { case ((fid, dvBits, sv, keyBits), (isNull, c, s)) =>
        totalByFid.getOrElseUpdate(fid, mutable.ArrayBuffer.empty) +=
          mk(java.lang.Double.longBitsToDouble(dvBits), sv, isNull, java.lang.Double.longBitsToDouble(keyBits), c, s)
      }
      Result(arrays(totalByFid), views.map(arrays), classes)
    }
  }

  /** Validates one collected fold id, so a user fold column with nulls or
    * out-of-range ids raises the same typed error in every family (instead
    * of an NPE or a silently truncated array index).
    */
  private def checkFoldId(r: Row, idx: Int, cv: Int, family: String): Int = {
    require(!r.isNullAt(idx),
      s"[$family] fold column carries nulls — every row needs a fold id in [0, cv)")
    val raw = r.getLong(idx)
    require(raw >= 0 && raw < cv,
      s"[$family] fold id $raw outside [0, $cv) — foldCol must carry integer folds 0..cv-1")
    raw.toInt
  }
}
