package graft.stability

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.carve.{BinaryCarver, Search, Stats}

/** Special functions for the drift p-values (regularized incomplete gamma /
  * beta — standard continued-fraction implementations, double precision).
  */
object SpecialFns {
  private val EPS = 3e-14
  private val FPMIN = 1e-300

  def gammln(x: Double): Double = {
    val cof = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
      -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    var y = x
    val tmp0 = x + 5.5
    val tmp = tmp0 - (x + 0.5) * math.log(tmp0)
    var ser = 1.000000000190015
    var j = 0
    while (j < 6) { y += 1; ser += cof(j) / y; j += 1 }
    -tmp + math.log(2.5066282746310005 * ser / x)
  }

  /** Regularized lower incomplete gamma P(a, x). */
  def gammp(a: Double, x: Double): Double = {
    if (x <= 0 || a <= 0) return if (x <= 0) 0.0 else Double.NaN
    if (x < a + 1.0) gser(a, x) else 1.0 - gcf(a, x)
  }
  def gammq(a: Double, x: Double): Double = 1.0 - gammp(a, x)

  private def gser(a: Double, x: Double): Double = {
    var ap = a
    var sum = 1.0 / a
    var del = sum
    var i = 0
    while (i < 500) {
      ap += 1; del *= x / ap; sum += del
      if (math.abs(del) < math.abs(sum) * EPS) return sum * math.exp(-x + a * math.log(x) - gammln(a))
      i += 1
    }
    sum * math.exp(-x + a * math.log(x) - gammln(a))
  }

  private def gcf(a: Double, x: Double): Double = {
    var b = x + 1.0 - a
    var c = 1.0 / FPMIN
    var d = 1.0 / b
    var h = d
    var i = 1
    var done = false
    while (i <= 500 && !done) {
      val an = -i * (i - a)
      b += 2.0
      d = an * d + b; if (math.abs(d) < FPMIN) d = FPMIN
      c = b + an / c; if (math.abs(c) < FPMIN) c = FPMIN
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < EPS) done = true
      i += 1
    }
    math.exp(-x + a * math.log(x) - gammln(a)) * h
  }

  /** chi² survival function: P(X > x) with k dof. */
  def chi2Sf(x: Double, k: Double): Double =
    if (x.isNaN || k <= 0) Double.NaN else gammq(k / 2.0, x / 2.0)

  /** Regularized incomplete beta I_x(a, b). */
  def betainc(a: Double, b: Double, x: Double): Double = {
    if (x <= 0) return 0.0
    if (x >= 1) return 1.0
    val bt = math.exp(gammln(a + b) - gammln(a) - gammln(b) + a * math.log(x) + b * math.log(1 - x))
    if (x < (a + 1.0) / (a + b + 2.0)) bt * betacf(a, b, x) / a
    else 1.0 - bt * betacf(b, a, 1 - x) / b
  }

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
    var c = 1.0
    var d = 1.0 - qab * x / qap
    if (math.abs(d) < FPMIN) d = FPMIN
    d = 1.0 / d
    var h = d
    var m = 1
    var done = false
    while (m <= 300 && !done) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FPMIN) d = FPMIN
      c = 1.0 + aa / c; if (math.abs(c) < FPMIN) c = FPMIN
      d = 1.0 / d
      h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1.0 + aa * d; if (math.abs(d) < FPMIN) d = FPMIN
      c = 1.0 + aa / c; if (math.abs(c) < FPMIN) c = FPMIN
      d = 1.0 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < EPS) done = true
      m += 1
    }
    h
  }

  /** Student-t two-sided survival: 2*P(T > |t|) with df dof. */
  def tSf2(t: Double, df: Double): Double =
    if (t.isNaN || df.isNaN || df <= 0) Double.NaN
    else betainc(df / 2.0, 0.5, df / (df + t * t))

  /** Standard normal survival P(Z > z) (Cody-style erfc, ~1e-15). */
  def normSf(z: Double): Double = 0.5 * erfc(z / math.sqrt(2.0))

  /** High-precision complementary error function (series + CF split). */
  def erfc(x: Double): Double = {
    if (x < 0) return 2.0 - erfc(-x)
    if (x < 0.5) {
      // erf series
      var sum = 0.0
      var term = x
      var n = 0
      val x2 = x * x
      while (math.abs(term) > 1e-17 * math.abs(sum) + 1e-300 && n < 200) {
        sum += term / (2 * n + 1)
        n += 1
        term *= -x2 / n
      }
      1.0 - 2.0 / math.sqrt(math.Pi) * sum
    } else {
      // continued fraction for upper tail via gammq(1/2, x²)
      gammq(0.5, x * x)
    }
  }
}

/** Stability monitoring (reference `stability/metrics.py` + `report.py`):
  * transform a new sample with a fitted carver, re-aggregate per bin, and
  * compare to the train reference — PSI, chi² homogeneity, per-bin target
  * drift p-values, plus the fit-time viability suite run with the new
  * sample as dev.
  */
object Stability {

  /** PSI with epsilon floor + renormalization (`metrics.py:8-52`). */
  def psi(refFreq: Array[Double], newFreq: Array[Double], epsilon: Double = 1e-6): (Double, Array[Double]) = {
    if (refFreq.exists(_.isNaN)) return (Double.NaN, refFreq.map(_ => Double.NaN))
    val ref = refFreq.map(math.max(_, epsilon))
    val nw = newFreq.map(math.max(_, epsilon))
    val rs = ref.sum; val ns = nw.sum
    val contribs = ref.indices.map { i =>
      val r = ref(i) / rs; val n = nw(i) / ns
      (n - r) * math.log(n / r)
    }.toArray
    (contribs.sum, contribs)
  }

  /** Two-sample chi² homogeneity on the 2×k count table (`metrics.py:55-98`):
    * (statistic, two-sided p, dof, Cramér's V). */
  def chi2Homogeneity(refCount: Array[Double], newCount: Array[Double]): (Double, Double, Int, Double) = {
    if (refCount.exists(_.isNaN)) return (Double.NaN, Double.NaN, 0, Double.NaN)
    val keep = refCount.indices.filter(i => refCount(i) + newCount(i) > 0)
    val table = Array(keep.map(refCount).toArray, keep.map(newCount).toArray)
    val total = table.map(_.sum).sum
    if (keep.length < 2 || total <= 0 || table.exists(_.sum <= 0))
      return (Double.NaN, Double.NaN, 0, Double.NaN)
    // scipy chi2_contingency on a 2×k: Yates iff k == 2 (shape (2,2))
    val obs = Array.tabulate(2, keep.length)((r, c) => table(r)(c))
    val stat = Stats.pearsonChi2(obs)
    val dof = keep.length - 1
    (stat, SpecialFns.chi2Sf(stat, dof.toDouble), dof, math.sqrt(stat / total))
  }

  /** Pooled two-proportion z STATISTIC per bin — the SQL-replayable half
    * of the test (the oracle checks it; no closed-form normal CDF in SQL).
    */
  def twoProportionZ(refRate: Array[Double], refCount: Array[Double],
                     newRate: Array[Double], newCount: Array[Double]): Array[Double] =
    refRate.indices.map { i =>
      val pooled = (refRate(i) * refCount(i) + newRate(i) * newCount(i)) / (refCount(i) + newCount(i))
      val se = math.sqrt(pooled * (1 - pooled) * (1 / refCount(i) + 1 / newCount(i)))
      if (!(se > 0)) Double.NaN else (newRate(i) - refRate(i)) / se
    }.toArray

  /** Pooled two-proportion z-test p-values per bin (`metrics.py:101-123`). */
  def twoProportion(refRate: Array[Double], refCount: Array[Double],
                    newRate: Array[Double], newCount: Array[Double]): Array[Double] =
    twoProportionZ(refRate, refCount, newRate, newCount)
      .map(z => if (z.isNaN) Double.NaN else 2 * SpecialFns.normSf(math.abs(z)))

  /** Welch (t statistic, Welch-Satterthwaite dof) per bin. */
  def welchStat(refMean: Array[Double], refStd: Array[Double], refCount: Array[Double],
                newMean: Array[Double], newStd: Array[Double], newCount: Array[Double]): Array[(Double, Double)] =
    refMean.indices.map { i =>
      val vr = refStd(i) * refStd(i) / refCount(i)
      val vn = newStd(i) * newStd(i) / newCount(i)
      val se = math.sqrt(vr + vn)
      if (!(se > 0)) (Double.NaN, Double.NaN)
      else {
        val t = (newMean(i) - refMean(i)) / se
        val dof = (vr + vn) * (vr + vn) / (vr * vr / (refCount(i) - 1) + vn * vn / (newCount(i) - 1))
        (t, dof)
      }
    }.toArray

  /** Welch t-test p-values per bin (`metrics.py:126-158`). */
  def welch(refMean: Array[Double], refStd: Array[Double], refCount: Array[Double],
            newMean: Array[Double], newStd: Array[Double], newCount: Array[Double]): Array[Double] =
    welchStat(refMean, refStd, refCount, newMean, newStd, newCount)
      .map { case (t, dof) => if (t.isNaN) Double.NaN else SpecialFns.tSf2(t, dof) }

  final case class FeatureStability(
      name: String,
      psiValue: Double,
      chi2Stat: Double,
      chi2P: Double,
      cramerv: Double,
      driftP: Vector[Double],
      viableAsDev: Boolean,
      unstable: Boolean,
      reasons: Vector[String],
      // per-bin (new rate − train rate) in the model's own rate scale
      // (mean / ridit / CA score); reference `rate_delta`
      rateDelta: Vector[Double] = Vector.empty
  )

  final case class Report(features: Vector[FeatureStability]) {
    def unstableFeatures: Vector[String] = features.filter(_.unstable).map(_.name)
  }

  /** Evaluate a fitted binary-carver model against a new sample: one
    * transform + one aggregation job, driver verdicts
    * (`stability/report.py:35-324`). Flags: PSI>0.25; chi² significant
    * (p<alpha) AND V≥0.1; fit-time viability suite failing with the new
    * sample as the dev view.
    */
  def evaluate(
      model: BinaryCarver.Model,
      newDf: DataFrame,
      target: String,
      alpha: Double = 0.05,
      psiThreshold: Double = 0.25
  ): Report = {
    val kept = model.kept
    if (kept.isEmpty) return Report(Vector.empty)
    val binned = model.transform(newDf, keepOriginal = true)
    val y = col(target).cast("double")
    val entries = kept.map(f => struct(lit(f.name).as("fid"), col(s"${f.name}_bin").as("bin")))
    val agg = binned.select(explode(array(entries: _*)).as("e"), y.as("__y"))
      .groupBy(col("e.fid").as("fid"), col("e.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sy"))
      .collect()
    val byFid = mutable.Map.empty[String, mutable.Map[Int, (Double, Double)]]
    agg.foreach { r =>
      byFid.getOrElseUpdate(r.getString(0), mutable.Map.empty)(
        if (r.isNullAt(1)) -1 else r.getInt(1)) = (r.getLong(2).toDouble, if (r.isNullAt(3)) 0.0 else r.getDouble(3))
    }

    val feats = kept.map { f =>
      val newStats = byFid.getOrElse(f.name, mutable.Map.empty)
      val nBins = f.nBins
      val newCount = Array.tabulate(nBins)(i => newStats.get(i).map(_._1).getOrElse(0.0))
      val newSy = Array.tabulate(nBins)(i => newStats.get(i).map(_._2).getOrElse(0.0))
      val newTotal = math.max(newCount.sum, 1.0)
      val newFreq = newCount.map(_ / newTotal)
      val newRate = newCount.indices.map(i => if (newCount(i) > 0) newSy(i) / newCount(i) else Double.NaN).toArray
      val refFreq = f.rates.map(_.frequency).toArray
      val refCount = f.rates.map(_.count).toArray
      val refRate = f.rates.map(_.rate).toArray

      val (psiV, _) = psi(refFreq, newFreq)
      val (c2, p, _, v) = chi2Homogeneity(refCount, newCount)
      val drift = twoProportion(refRate, refCount, newRate, newCount)

      // fit-time viability suite with the new sample as dev
      val trainX = Search.Xagg(f.rates.map(_.label),
        refCount.indices.map(i => refCount(i) * (1 - refRate(i))).toArray,
        refCount.indices.map(i => refCount(i) * refRate(i)).toArray)
      val devX = Search.Xagg(f.rates.map(_.label),
        newCount.indices.map(i => newCount(i) - newSy(i)).toArray, newSy)
      val viability = Search.viability(trainX, Iterator(devX), Some(model.minFreq), alpha)(Search.rates(_, "target_mean"))

      val reasons = Vector.newBuilder[String]
      if (psiV > psiThreshold) reasons += f"psi=$psiV%.4f>$psiThreshold"
      if (!p.isNaN && p < alpha && v >= 0.1) reasons += f"chi2 shift p=$p%.4g V=$v%.3f"
      if (!viability.viable) reasons += "viability failed on new sample"
      val rs = reasons.result()
      FeatureStability(f.name, psiV, c2, p, v, drift.toVector, viability.viable, rs.nonEmpty, rs,
        rateDelta = newRate.indices.map(i => newRate(i) - refRate(i)).toVector)
    }
    Report(feats)
  }

  // ------------------------------------------------- non-binary models (M4)

  /** Generic per-feature verdict assembly shared by the ordinal /
    * multiclass / continuous monitors: PSI + chi² on counts, the rate-based
    * viability suite (Wilson min-freq on the new counts, distinct new
    * rates, rate-order agreement with train — the same checks the carver
    * used at fit time), and the drift p-values when the family's rate has
    * recoverable variance (`stability/report.py:106-228`: ordinal/
    * multiclass rates get the delta but NO p-values).
    */
  private def verdict(
      f: BinaryCarver.FittedFeature,
      newCount: Array[Double],
      newRate: Array[Double],
      driftP: Array[Double],
      minFreq: Double,
      alpha: Double,
      psiThreshold: Double
  ): FeatureStability = {
    val newTotal = math.max(newCount.sum, 1.0)
    val newFreq = newCount.map(_ / newTotal)
    val refFreq = f.rates.map(_.frequency).toArray
    val refCount = f.rates.map(_.count).toArray
    val refRate = f.rates.map(_.rate).toArray
    val (psiV, _) = psi(refFreq, newFreq)
    val (c2, p, _, v) = chi2Homogeneity(refCount, newCount)
    val newRows = newRate.indices.map(i =>
      Search.RateRow(f.rates(i).label, newRate(i), newFreq(i), newCount(i))).toVector
    val minFreqOk = Search.testMinFreq(newRows, Some(minFreq), alpha)
    val distinctOk = Search.testDistinctRates(newRows)
    val orderingOk = Search.testOrdering(refRate.toVector, newRate.toVector)
    val viable = minFreqOk && distinctOk && orderingOk
    val reasons = Vector.newBuilder[String]
    if (psiV > psiThreshold) reasons += f"psi=$psiV%.4f>$psiThreshold"
    if (!p.isNaN && p < alpha && v >= 0.1) reasons += f"chi2 shift p=$p%.4g V=$v%.3f"
    if (!viable) reasons += "viability failed on new sample"
    val rs = reasons.result()
    FeatureStability(f.name, psiV, c2, p, v, driftP.toVector, viable, rs.nonEmpty, rs,
      rateDelta = newRate.indices.map(i => newRate(i) - refRate(i)).toVector)
  }

  /** Per-(feature, bin, target value) counts of the transformed new sample
    * — the one aggregation every non-binary monitor shares.
    */
  private def binLevelCounts(
      bmodel: BinaryCarver.Model,
      newDf: DataFrame,
      yCol: org.apache.spark.sql.Column
  ): Map[String, Map[(Int, Double), Double]] = {
    val kept = bmodel.kept
    val binned = bmodel.transform(newDf, keepOriginal = true)
    val entries = kept.map(f => struct(lit(f.name).as("fid"), col(s"${f.name}_bin").as("bin")))
    val agg = binned.select(explode(array(entries: _*)).as("e"), yCol.as("__y"))
      .groupBy(col("e.fid").as("fid"), col("e.bin").as("bin"), col("__y"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val byFid = mutable.Map.empty[String, mutable.Map[(Int, Double), Double]]
    agg.foreach { r =>
      val bin = if (r.isNullAt(1)) -1 else r.getInt(1)
      val y = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      val m = byFid.getOrElseUpdate(r.getString(0), mutable.Map.empty)
      m((bin, y)) = m.getOrElse((bin, y), 0.0) + r.getLong(3)
    }
    byFid.view.mapValues(_.toMap).toMap
  }

  /** Ordinal-model monitoring: new-sample rates recomputed with the
    * model's fitted ridit/level rate reference (so they are directly
    * comparable to the stored train rates); PSI + chi² + viability; no
    * per-bin p-values (ridit sampling variance is not recoverable from the
    * stored columns — the rate delta is still reported).
    */
  def evaluateOrdinal(
      om: graft.carve.OrdinalCarver.Model,
      newDf: DataFrame,
      target: String,
      alpha: Double = 0.05,
      psiThreshold: Double = 0.25
  ): Report = {
    val kept = om.kept
    if (kept.isEmpty) return Report(Vector.empty)
    val counts = binLevelCounts(om.binaryView, newDf, col(target).cast("double"))
    Report(kept.map { of =>
      val f = of.feature
      val per = counts.getOrElse(f.name, Map.empty)
      val levels = per.keysIterator.map(_._2).filterNot(_.isNaN).toVector.distinct.sorted
      val m = Array.tabulate(f.nBins, levels.length)((b, j) => per.getOrElse((b, levels(j)), 0.0))
      val newCount = m.map(_.sum)
      val newRate =
        if (of.rateRef == null) Array.fill(f.nBins)(Double.NaN)
        else of.rateRef.compute(graft.carve.Ordinal.KXagg(f.rates.map(_.label), levels, m))
      verdict(f, newCount, newRate, Array.empty, om.minFreq, alpha, psiThreshold)
    })
  }

  /** Multiclass-model monitoring: new-sample rates are the per-bin CA
    * first-axis scores under the TRAIN-fitted axis (the model's rate
    * reference); unseen new classes raise, like the fit path.
    */
  def evaluateMulticlass(
      mm: graft.carve.MulticlassCarver.Model,
      newDf: DataFrame,
      target: String,
      alpha: Double = 0.05,
      psiThreshold: Double = 0.25
  ): Report = {
    val kept = mm.kept
    if (kept.isEmpty) return Report(Vector.empty)
    val observed = newDf.select(col(target).cast("string")).distinct()
      .collect().map(_.getString(0)).filter(_ != null)
    // a model loaded from a reference-schema artifact carries no class
    // names (the CA axis stores only col_mass/v1) — derive the canonical
    // sorted class order from the scored sample, like the reference's
    // crosstab does; the axis dimension check in caRowScores still guards K
    val classes = if (mm.classes.nonEmpty) mm.classes else observed.sorted.toVector
    val classIdx = classes.zipWithIndex.toMap
    val unseen = observed.filterNot(classIdx.contains)
    require(unseen.isEmpty, s"[Stability] new sample carries unseen classes ${unseen.mkString(", ")}")
    val yIdx = {
      val pairs = classes.zipWithIndex.flatMap { case (c, i) => Seq(lit(c), lit(i.toDouble)) }
      element_at(map(pairs: _*), col(target).cast("string"))
    }
    val counts = binLevelCounts(mm.binaryView, newDf, yIdx)
    val levels = classes.indices.map(_.toDouble).toVector
    Report(kept.map { mf =>
      val f = mf.feature
      val per = counts.getOrElse(f.name, Map.empty)
      val m = Array.tabulate(f.nBins, levels.length)((b, j) => per.getOrElse((b, levels(j)), 0.0))
      val newCount = m.map(_.sum)
      val newRate =
        if (mf.rateRef == null) Array.fill(f.nBins)(Double.NaN)
        else mf.rateRef.compute(graft.carve.Ordinal.KXagg(f.rates.map(_.label), levels, m))
      verdict(f, newCount, newRate, Array.empty, mm.minFreq, alpha, psiThreshold)
    })
  }

  /** Continuous-model monitoring: per-bin mean as the rate, Welch t drift
    * p-values against the stored per-bin (mean, std, count) — the one
    * family whose rate variance IS recoverable (`metrics.py:126-158`).
    */
  def evaluateContinuous(
      model: BinaryCarver.Model,
      newDf: DataFrame,
      target: String,
      alpha: Double = 0.05,
      psiThreshold: Double = 0.25
  ): Report = {
    val kept = model.kept
    if (kept.isEmpty) return Report(Vector.empty)
    val binned = model.transform(newDf, keepOriginal = true)
    val y = col(target).cast("double")
    val entries = kept.map(f => struct(lit(f.name).as("fid"), col(s"${f.name}_bin").as("bin")))
    val agg = binned.select(explode(array(entries: _*)).as("e"), y.as("__y"))
      .groupBy(col("e.fid").as("fid"), col("e.bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sy"), sum(col("__y") * col("__y")).as("syy"))
      .collect()
    val byFid = mutable.Map.empty[String, mutable.Map[Int, (Double, Double, Double)]]
    agg.foreach { r =>
      byFid.getOrElseUpdate(r.getString(0), mutable.Map.empty)(
        if (r.isNullAt(1)) -1 else r.getInt(1)) =
        (r.getLong(2).toDouble,
          if (r.isNullAt(3)) 0.0 else r.getDouble(3),
          if (r.isNullAt(4)) 0.0 else r.getDouble(4))
    }
    Report(kept.map { f =>
      val per = byFid.getOrElse(f.name, mutable.Map.empty)
      val newCount = Array.tabulate(f.nBins)(i => per.get(i).map(_._1).getOrElse(0.0))
      val newMean = Array.tabulate(f.nBins) { i =>
        per.get(i).map { case (n, s, _) => if (n > 0) s / n else Double.NaN }.getOrElse(Double.NaN)
      }
      val newStd = Array.tabulate(f.nBins) { i =>
        per.get(i).map { case (n, s, ss) =>
          if (n < 2) Double.NaN else math.sqrt(math.max(0.0, (ss - s * s / n) / (n - 1)))
        }.getOrElse(Double.NaN)
      }
      val driftP =
        if (f.stds.length == f.nBins)
          welch(f.rates.map(_.rate).toArray, f.stds.toArray, f.rates.map(_.count).toArray,
            newMean, newStd, newCount)
        else Array.empty[Double]
      verdict(f, newCount, newMean, driftP, model.minFreq, alpha, psiThreshold)
    })
  }
}
