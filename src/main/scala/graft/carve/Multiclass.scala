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
    lazy val indexToGroupby: Map[String, String] =
      combination.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap
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

  final case class MBest(
      combination: Vector[Vector[String]],
      cramerv: Double,
      tschuprowt: Double,
      rates: Vector[Search.RateRow],
      rate: Ordinal.ORate // the fitted CA rate (carries the axis for stability)
  )

  private def viable(
      trainG: KXagg, devG: Option[KXagg], rate: Ordinal.ORate,
      minFreq: Option[Double], alpha: Double, foldsG: Seq[KXagg] = Nil
  ): Boolean = Ordinal.viableFlags(trainG, devG, rate, minFreq, alpha, foldsG).viable

  /** Multiclass combination search: progressive top-K chi² DP (phase 1) +
    * the inherited enumerate-and-score NaN placement (phase 2 — like the
    * ordinal path, the reference does NOT override the NaN phase).
    */
  def bestCombination(
      train: KXagg,
      dev: Option[KXagg],
      maxNMod: Int,
      minFreq: Option[Double],
      alpha: Double = 0.05,
      sortBy: String = "tschuprowt",
      hasNan: Boolean = false,
      nanLabel: String = BinaryCarver.NanLabel,
      dropna: Boolean = true,
      topKInitial: Int = 2000,
      escalate: Boolean = true,
      folds: Seq[KXagg] = Nil,
      histSink: mutable.Buffer[Search.HistoryEntry] = null,
      rescueMode: Boolean = false
  ): Option[MBest] = {
    def historize(combo: Vector[Vector[String]], cv: Double, tt: Double,
        v: Search.Viability, withNan: Boolean): Unit = {
      if (histSink == null) return
      val info =
        if (!v.viable) "Not viable"
        else {
          val base = s"Best for $sortBy and max_n_mod=$maxNMod"
          val d = if (withNan) base + " (dropna=True)" else base
          if (rescueMode) d + " (rescue: min_freq waived)" else d
        }
      histSink += Search.HistoryEntry(combo, cv, tt, combo.length, v.viable,
        v.minFreqOk, v.distinctOk, v.orderingOk, withNan, info,
        measure = sortBy, value = if (sortBy == "cramerv") cv else tt)
    }
    val rawLabels0 = if (hasNan && dropna) train.labels.filterNot(_ == nanLabel) else train.labels
    val trainNoNan = if (hasNan) train.without(nanLabel) else train
    val devNoNan = if (hasNan) dev.map(_.without(nanLabel)) else dev
    val foldsNoNan = if (hasNan) folds.map(_.without(nanLabel)) else folds

    // CA axis fixed from the nan-filtered raw train crosstab
    // (`multiclass_combination_evaluators.py:123`)
    val rate = CAScoreRate(null).fitReference(trainNoNan)

    val nonNanWinner: Option[MCand] =
      if (trainNoNan.labels.length <= 1) None
      else {
        val (mm, nPerMod) = Ordinal.alignMatrix(trainNoNan, rawLabels0)
        val colSums = trainNoNan.colSums
        var topK = topKInitial
        var walked = 0
        var found: Option[MCand] = None
        var done = false
        while (!done) {
          val cands = topKPartitionsChi2Multiclass(mm, nPerMod, colSums, maxNMod, rawLabels0, sortBy, topK)
          var i = walked
          while (i < cands.length && found.isEmpty) {
            val c = cands(i)
            val v = Ordinal.viableFlags(trainNoNan.grouped(c.indexToGroupby),
              devNoNan.map(_.grouped(c.indexToGroupby)), rate, minFreq, alpha,
              foldsNoNan.map(_.grouped(c.indexToGroupby)))
            historize(c.combination, c.cramerv, c.tschuprowt, v, withNan = false)
            if (v.viable) found = Some(c)
            i += 1
          }
          walked = i
          if (found.isDefined) done = true
          else if (walked < topK) done = true
          else if (!escalate) done = true
          else topK *= 4
        }
        found
      }

    val (mergedTrain, mergedDev, mergedFolds, mergedLabels, baseBest) = nonNanWinner match {
      case Some(c) =>
        val gTrain = train.grouped(c.indexToGroupby)
        val gDev = dev.map(_.grouped(c.indexToGroupby))
        (gTrain, gDev, folds.map(_.grouped(c.indexToGroupby)), gTrain.labels.filterNot(_ == nanLabel),
          Some(MBest(c.combination, c.cramerv, c.tschuprowt, Ordinal.orateRows(gTrain, rate), rate)))
      case None => (train, dev, folds, rawLabels0, None)
    }

    if (!(hasNan && dropna)) {
      if (!dropna && hasNan && baseBest.isEmpty) {
        val combo = Vector(rawLabels0, Vector(nanLabel))
        val idx = combo.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap
        val g = train.grouped(idx)
        val vr = Ordinal.viableFlags(g, dev.map(_.grouped(idx)), rate, minFreq, alpha, folds.map(_.grouped(idx)))
        val (cv0, tt0) = associationMeasure(g.m, train.nObs)
        historize(combo, cv0, tt0, vr, withNan = true)
        if (vr.viable)
          return Some(MBest(combo, cv0, tt0, Ordinal.orateRows(g, rate), rate))
        return None
      }
      return baseBest
    }

    // phase 2: enumerate NaN placements over merged labels
    val nObs = mergedTrain.nObs
    val scored = Ordinal.nanCombinations(mergedLabels, maxNMod, nanLabel).map { variant =>
      val idx = variant.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap
      val (cv, tt) = associationMeasure(mergedTrain.grouped(idx).m, nObs)
      (variant, idx, cv, tt)
    }.sortBy { case (_, _, cv, tt) =>
      val v = if (sortBy == "cramerv") cv else tt
      if (v.isNaN) Double.PositiveInfinity else -v
    }

    val historized = mutable.Set.empty[Vector[Vector[String]]]
    var nanWinner: Option[(Vector[Vector[String]], Map[String, String], Double, Double)] = None
    var i = 0
    while (i < scored.length && nanWinner.isEmpty) {
      val (variant, idx, cv, tt) = scored(i)
      if (!historized.contains(variant)) {
        historized += variant
        val g = mergedTrain.grouped(idx)
        val vf = Ordinal.viableFlags(g, mergedDev.map(_.grouped(idx)), rate, minFreq, alpha,
          mergedFolds.map(_.grouped(idx)))
        historize(variant, cv, tt, vf, withNan = true)
        if (vf.viable) nanWinner = Some((variant, idx, cv, tt))
      }
      i += 1
    }

    nanWinner match {
      case Some((variant, idx, cv, tt)) =>
        val expand: Map[String, Vector[String]] = nonNanWinner match {
          case Some(c) => c.combination.map(g => g.head -> g).toMap
          case None => Map.empty
        }
        val finalCombo = variant.map(g => g.flatMap(l => expand.getOrElse(l, Vector(l))))
        Some(MBest(finalCombo, cv, tt, Ordinal.orateRows(mergedTrain.grouped(idx), rate), rate))
      case None => None
    }
  }
}
