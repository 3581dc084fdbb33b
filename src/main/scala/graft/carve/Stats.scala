package graft.carve

/** Pure statistics kernel for the carver — ported semantics (not code) from
  * the reference implementation, kept bit-compatible where candidate
  * ranking depends on it:
  *
  *  - Pearson chi² with the `+tol` cell shift applied by callers and Yates
  *    continuity correction iff the table is exactly 2×2
  *    (reference `AutoCarver/stats/chi2.py:13-60`),
  *  - Cramér's V / Tschuprow's T with `round(x/tol)*tol` quantisation and
  *    the V-derived T at K=2 (`stats/chi2.py:63-110`),
  *  - Wilson upper bound for min-frequency viability
  *    (`stats/frequency_ci.py:24-83`),
  *  - numpy-`isclose` for the distinct-consecutive-rates veto.
  */
object Stats {

  /** Row bound of a grouped count table that a size-adaptive rank stage
    * collects and ranks on the driver (ContinuousCarver's `(feature, y)`
    * pool table, the selector's grouped long-form aggregate). Above it the
    * ranks stay a distributed bucketed window.
    */
  val LocalRankRows: Long = 200000L

  /** Inverse standard-normal CDF (Acklam's rational approximation,
    * relative error < 1.2e-9 over (0,1)). Replaces `scipy.stats.norm.ppf`
    * for the Wilson z-score; a 1e-9 z error shifts a Wilson bound by
    * <1e-10, far below any veto threshold.
    */
  def normPpf(p: Double): Double = {
    require(p > 0.0 && p < 1.0, s"normPpf domain: $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val pLow = 0.02425
    val x =
      if (p < pLow) {
        val q = math.sqrt(-2 * math.log(p))
        (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      } else if (p <= 1 - pLow) {
        val q = p - 0.5
        val r = q * q
        (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
          (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
      } else {
        val q = math.sqrt(-2 * math.log(1 - p))
        -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
          ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
      }
    x
  }

  /** Two-sided z-score for alpha (scipy `norm.ppf(1 - alpha/2)`). */
  def zScore(alpha: Double): Double = normPpf(1.0 - alpha / 2.0)

  /** Wilson upper bound of the two-sided score interval for count/nobs,
    * clamped to [0,1] (reference `stats/frequency_ci.py:24-72`).
    */
  def wilsonUpper(count: Double, nobs: Long, alpha: Double): Double = {
    if (nobs <= 0) return 1.0
    val z = zScore(alpha)
    val n = nobs.toDouble
    val phat = count / n
    val denom = 1.0 + (z * z) / n
    val center = (phat + (z * z) / (2.0 * n)) / denom
    val halfWidth = (z / denom) * math.sqrt(phat * (1.0 - phat) / n + (z * z) / (4.0 * n * n))
    math.min(1.0, math.max(0.0, center + halfWidth))
  }

  /** Whether count/nobs is significantly below minFreq (Wilson upper bound
    * strictly below), reference `frequency_ci.py:75-90`.
    */
  def isSignificantlyBelow(count: Double, nobs: Long, minFreq: Double, alpha: Double): Boolean =
    wilsonUpper(count, nobs, alpha) < minFreq

  /** numpy.isclose default semantics: |a-b| <= atol + rtol*|b|, false on NaN. */
  def isClose(a: Double, b: Double, rtol: Double = 1e-5, atol: Double = 1e-8): Boolean =
    !a.isNaN && !b.isNaN && math.abs(a - b) <= atol + rtol * math.abs(b)

  /** Python round() / numpy rint: round-half-to-even. */
  def quantize(x: Double, tol: Double): Double =
    if (x.isNaN) x else math.rint(x / tol) * tol

  /** Pearson chi² of a (B, C) observed table; expected from marginal outer
    * product; Yates correction iff exactly 2×2 (`stats/chi2.py:13-60`).
    * Callers add the `+tol` cell shift before calling (matches the
    * reference's `chi2_contingency(xagg.values + tol)`).
    */
  def pearsonChi2(observed: Array[Array[Double]], guardZeroExpected: Boolean = false): Double = {
    val nRows = observed.length
    val nCols = observed(0).length
    val rowSums = observed.map(_.sum)
    val colSums = Array.tabulate(nCols)(j => observed.map(_(j)).sum)
    val total = rowSums.sum
    var chi2 = 0.0
    val yates = nRows == 2 && nCols == 2
    var i = 0
    while (i < nRows) {
      var j = 0
      while (j < nCols) {
        val e = rowSums(i) * colSums(j) / total
        var o = observed(i)(j)
        if (yates) {
          val diff = e - o
          val mag = math.min(0.5, math.abs(diff))
          o = o + math.signum(diff) * mag
        }
        if (guardZeroExpected) {
          if (e > 0) chi2 += (o - e) * (o - e) / e
        } else {
          chi2 += (o - e) * (o - e) / e
        }
        j += 1
      }
      i += 1
    }
    chi2
  }

  /** Cramér's V and Tschuprow's T with `tol` quantisation; at K=2 the T is
    * derived from the already-quantised V so binary/multiclass agree
    * bit-for-bit (`stats/chi2.py:63-110`). NaN on degenerate denominators.
    */
  def cramervTschuprowt(chi2: Double, nObs: Double, nRows: Int, nCols: Int, tol: Double): (Double, Double) = {
    val vDenom = math.min(nRows, nCols) - 1
    val cramerv =
      if (vDenom > 0 && nObs > 0) quantize(math.sqrt(chi2 / (nObs * vDenom)), tol)
      else Double.NaN
    val tschuprowt =
      if (nCols == 2) {
        if (nRows > 1) {
          val t = cramerv / math.sqrt(math.sqrt(nRows - 1.0))
          if (!t.isNaN) quantize(t, tol) else t
        } else cramerv
      } else {
        val tDenom = if (nRows > 1) math.sqrt((nRows - 1.0) * (nCols - 1.0)) else 0.0
        if (tDenom > 0 && nObs > 0) quantize(math.sqrt(chi2 / (nObs * tDenom)), tol)
        else Double.NaN
      }
    (cramerv, tschuprowt)
  }

  /** Selector-side unrounded V/T (`stats/chi2.py:100-124`). */
  def cramervTschuprowtUnrounded(chi2: Double, nObs: Double, nModX: Double, nModY: Double): (Double, Double) = {
    val minNMod = math.min(nModX, nModY)
    val cramerv = if (minNMod > 1) math.sqrt(chi2 / nObs / (minNMod - 1)) else chi2
    val dofProd = (nModX - 1) * (nModY - 1)
    val tschuprowt =
      if (dofProd < 0) Double.NaN
      else {
        val dofMods = math.sqrt(dofProd)
        if (dofMods > 0) math.sqrt(chi2 / nObs / dofMods) else 0.0
      }
    (cramerv, tschuprowt)
  }
}
