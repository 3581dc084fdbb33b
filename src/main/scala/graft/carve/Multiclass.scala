package graft.carve

import scala.collection.mutable

import graft.carve.Ordinal.KXagg

/** Multiclass-target combination machinery — the Spark-side re-expression
  * of the reference's multiclass evaluator family
  * (`combinations/multiclass/multiclass_combination_evaluators.py`,
  * `combinations/multiclass/multiclass_target_rates.py`). Shares the
  * K-column crosstab (`Ordinal.KXagg`) with the ordinal path; the target
  * classes are unordered, so association is the chi²-family (V / T)
  * generalised to K columns and the per-group viability "rate" is the CA
  * first-axis score.
  */
object Multiclass {

  /** CA first-axis score per modality — the multiclass viability rate
    * (`multiclass_target_rates.py:CAScoreRate`).
    */
  final case class CAScoreRate(axis: Ca.CAAxis) extends Ordinal.ORate {
    val name = "ca_score_rate"
    def fitReference(raw: KXagg): Ordinal.ORate = CAScoreRate(Ca.fitCaAxis(raw.m))
    def compute(x: KXagg): Array[Double] = {
      require(axis != null, s"[$name] CA axis is not fit")
      Ca.caRowScores(x.m, axis)
    }
  }

  final case class MCand(combination: Vector[Vector[String]], cramerv: Double, tschuprowt: Double) {
    def metric(sortBy: String): Double = if (sortBy == "cramerv") cramerv else tschuprowt
  }

  /** Quantised V / T of a (groups × classes) table with the `+tol` shift
    * (`multiclass_combination_evaluators.py:_association_measure`).
    */
  def associationMeasure(m: Array[Array[Double]], nObs: Double, tol: Double = 1e-10): (Double, Double) = {
    val shifted = m.map(_.map(_ + tol))
    val chi2 = Stats.pearsonChi2(shifted)
    Stats.cramervTschuprowt(chi2, nObs, m.length, if (m.isEmpty) 0 else m(0).length, tol)
  }

  /** Top-K consecutive partitions ranked by cramerv/tschuprowt — the
    * K-column chi² interval DP
    * (`multiclass_combination_evaluators.py:185-269`): per-k DP because the
    * `+tol`-shifted marginals and the Yates condition depend on k.
    */
  def topKPartitionsChi2Multiclass(
      mm: Array[Array[Double]],
      nPerMod: Array[Double],
      colSums: Array[Double],
      maxNMod: Int,
      rawIndex: Vector[String],
      sortBy: String,
      topK: Int,
      tol: Double = 1e-10
  ): Vector[MCand] = {
    require(sortBy == "cramerv" || sortBy == "tschuprowt", s"bad sortBy $sortBy")
    val nClasses = if (mm.isEmpty) 0 else mm(0).length
    val totalN = nPerMod.sum
    val keep = nPerMod.indices.filter(nPerMod(_) > 0).toArray
    val keptM = keep.map(mm(_))
    val nKept = keep.length
    val cap = math.min(maxNMod, nKept)
    if (cap < 2 || totalN < 2) return Vector.empty

    // prefix(i)(j) = sum of rows [0, i) at class j
    val prefix = Array.fill(nKept + 1, nClasses)(0.0)
    var i = 0
    while (i < nKept) {
      var j = 0
      while (j < nClasses) { prefix(i + 1)(j) = prefix(i)(j) + keptM(i)(j); j += 1 }
      i += 1
    }

    // only the k == kGroups row is consumed (per-k segCost); splits
    // materialize only for the post-sort top-K survivors. The per-k DPs
    // are independent and run concurrently (ascending-k append keeps the
    // emission sequence identical to the former serial loop).
    val all = mutable.ArrayBuffer.empty[(Double, Double, Double, Dp.Node)]
    Dp.perKParallel(cap) { kGroups =>
      val cMarg = colSums.map(_ + kGroups * tol)
      val nWithTol = totalN + kGroups * nClasses * tol
      val yates = kGroups == 2 && nClasses == 2
      def segCost(a: Int, b: Int): Double = {
        var rSum = 0.0
        var j = 0
        while (j < nClasses) { rSum += prefix(b)(j) - prefix(a)(j) + tol; j += 1 }
        var acc = 0.0
        j = 0
        while (j < nClasses) {
          var obs = prefix(b)(j) - prefix(a)(j) + tol
          val e = rSum * cMarg(j) / nWithTol
          if (yates) {
            val d = e - obs
            obs += (if (d > 0) 1.0 else if (d < 0) -1.0 else 0.0) * math.min(0.5, math.abs(d))
          }
          acc += (obs - e) * (obs - e) / e
          j += 1
        }
        acc
      }
      (kGroups, Dp.topKNodes(nKept, kGroups, segCost, topK, maximize = true)(kGroups))
    }.foreach { case (kGroups, entries) =>
      entries.foreach { e =>
        val (cv, tt) = Stats.cramervTschuprowt(e.cost, totalN, kGroups, nClasses, tol)
        val sortVal = if (sortBy == "tschuprowt") tt else cv
        all += (((if (sortVal.isNaN) Double.NegativeInfinity else sortVal), cv, tt, e))
      }
    }
    all.sortBy(-_._1).take(topK).iterator.map { case (_, cv, tt, e) =>
      MCand(Ordinal.splitsToCombinationKeep(e.splits, rawIndex, keep), cv, tt)
    }.toVector
  }

  /** The multiclass family's [[Search.Measure]]: the K-column chi² top-K
    * DP, quantised V / T, the fitted CA-score `rate`; like the ordinal
    * family, the NaN phase enumerates every placement.
    */
  final case class Chi2KMeasure(rate: Ordinal.ORate, sortBy: String) extends Search.Measure[KXagg, MCand] {
    def name: String = sortBy
    def rates(x: KXagg): Vector[Search.RateRow] = Ordinal.orateRows(x, rate)
    def topK(x: KXagg, labels: Vector[String], ev: Search.Evaluator): Int => Vector[MCand] = {
      val (mm, nPerMod) = Ordinal.alignMatrix(x, labels)
      val colSums = x.colSums
      k => ev.memoized(("multiclass", mm.map(_.toSeq).toSeq, nPerMod.toSeq, colSums.toSeq, ev.maxNMod, labels, sortBy, k))(
        topKPartitionsChi2Multiclass(mm, nPerMod, colSums, ev.maxNMod, labels, sortBy, k))
    }
    def score(x: KXagg): Vector[Vector[String]] => MCand = {
      val nObs = x.nObs
      combo => {
        val (cv, tt) = associationMeasure(x.grouped(Search.index(combo)).m, nObs)
        MCand(combo, cv, tt)
      }
    }
    def combination(c: MCand): Vector[Vector[String]] = c.combination
    def metric(c: MCand): Double = c.metric(sortBy)
    def fields(c: MCand): (Double, Double, String, Double) = (c.cramerv, c.tschuprowt, sortBy, metric(c))
    override def exhaustiveNan: Boolean = true
  }
}
