package graft.carve

import scala.collection.mutable

/** Driver-side combination search for the binary carver: grouping,
  * target-rate computation, viability vetoes (Wilson min-freq, distinct
  * consecutive rates, train/dev rank-order), and the progressive top-K DP
  * walk (`combinations/utils/combination_evaluator.py:519-754` +
  * `combinations/utils/testing.py`).
  */
object Search {

  /** Per-modality (n0, n1) aggregate aligned to an ordered label list —
    * the binary crosstab ("xagg") collected from the cluster.
    */
  final case class Xagg(labels: Vector[String], n0: Array[Double], n1: Array[Double]) {
    def count(i: Int): Double = n0(i) + n1(i)
    def nObs: Double = n0.sum + n1.sum

    /** Remove one label's row (reference `AggregatedSamples.dropna`). */
    def without(label: String): Xagg = {
      val idx = labels.indexOf(label)
      if (idx < 0) this
      else Xagg(
        labels.patch(idx, Nil, 1),
        n0.patch(idx, Nil, 1),
        n1.patch(idx, Nil, 1)
      )
    }

    /** Group rows by a combination: leaders ordered by first appearance
      * over this xagg's label order (reference `_grouper` /
      * `group_crosstab`). Unmapped labels stay as singletons.
      */
    def grouped(indexToGroupby: Map[String, String]): Xagg = {
      val leaderOrder = mutable.LinkedHashMap.empty[String, Int]
      val leaders = labels.map(l => indexToGroupby.getOrElse(l, l))
      leaders.foreach(l => leaderOrder.getOrElseUpdate(l, leaderOrder.size))
      val g0 = new Array[Double](leaderOrder.size)
      val g1 = new Array[Double](leaderOrder.size)
      var i = 0
      while (i < labels.length) {
        val g = leaderOrder(leaders(i))
        g0(g) += n0(i)
        g1(g) += n1(i)
        i += 1
      }
      Xagg(leaderOrder.keysIterator.toVector, g0, g1)
    }
  }

  /** Per-group viability row: rate, frequency, count. */
  final case class RateRow(label: String, rate: Double, frequency: Double, count: Double)

  /** Config-selectable binary target-rate strategies
    * (`combinations/binary/binary_target_rates.py:38-115`):
    * target_mean = n1/(n0+n1); odds_ratio = r/(1-r); woe = ln(mean1/mean0).
    */
  def rates(xagg: Xagg, strategy: String): Vector[RateRow] = {
    val total = xagg.nObs
    xagg.labels.indices.map { i =>
      val c = xagg.count(i)
      val mean = xagg.n1(i) / c
      val rate = strategy match {
        case "target_mean" => mean
        case "odds_ratio" => mean / (1.0 - mean)
        case "woe" => math.log(mean / (xagg.n0(i) / c))
        case other => throw new IllegalArgumentException(s"bad rate strategy $other")
      }
      RateRow(xagg.labels(i), rate, c / total, c)
    }.toVector
  }

  def targetMeanRates(xagg: Xagg): Vector[RateRow] = rates(xagg, "target_mean")

  /** No modality Wilson-significantly below minFreq
    * (`testing.py:_test_minimum_frequency_per_modality`). */
  def testMinFreq(rates: Vector[RateRow], minFreq: Option[Double], alpha: Double): Boolean =
    minFreq match {
      case None => true
      case Some(mf) =>
        val nobs = math.round(rates.map(_.count).sum)
        !rates.exists(r => Stats.isSignificantlyBelow(r.count, nobs, mf, alpha))
    }

  /** Consecutive rates are not numpy-isclose equal
    * (`testing.py:_test_distinct_target_rates_between_modalities`). */
  def testDistinctRates(rates: Vector[RateRow]): Boolean =
    !rates.iterator.sliding(2).withPartial(false).exists { w =>
      Stats.isClose(w(1).rate, w(0).rate)
    }

  /** Train/dev rank-order identity via stable argsort of the rates
    * (`testing.py:_test_modality_ordering`). Both vectors share the same
    * label order, so a stable sort preserves the ordinal order on ties.
    */
  def testOrdering(trainRates: Vector[Double], devRates: Vector[Double]): Boolean = {
    def stableArgsort(v: Vector[Double]): Vector[Int] =
      v.zipWithIndex.sortBy(_._1).map(_._2) // Vector.sortBy is stable
    stableArgsort(trainRates) == stableArgsort(devRates)
  }

  final case class Viability(viable: Boolean, minFreqOk: Boolean, distinctOk: Boolean, orderingOk: Boolean)

  /** Full train+dev(+CV folds) viability for one candidate grouping. Each
    * fold is an additional robustness view tested exactly like dev
    * (`base_carver.py:607-628`, `combination_evaluator.py:569-601`) —
    * viable only if train, dev AND every fold pass (short-circuits).
    */
  def testViability(
      trainGrouped: Xagg,
      devGrouped: Option[Xagg],
      minFreq: Option[Double],
      alpha: Double,
      folds: Seq[Xagg] = Nil,
      strategy: String = "target_mean"
  ): Viability = {
    val trainRates = rates(trainGrouped, strategy)
    val mfTrain = testMinFreq(trainRates, minFreq, alpha)
    val distinctTrain = testDistinctRates(trainRates)
    if (!(mfTrain && distinctTrain))
      return Viability(viable = false, mfTrain, distinctTrain, orderingOk = true)
    def vsView(view: Xagg): Viability = {
      val devRates = rates(view, strategy)
      val mfDev = testMinFreq(devRates, minFreq, alpha)
      val distinctDev = testDistinctRates(devRates)
      val ordering = testOrdering(trainRates.map(_.rate), devRates.map(_.rate))
      Viability(mfDev && distinctDev && ordering, mfTrain && mfDev, distinctTrain && distinctDev, ordering)
    }
    val views = devGrouped.toSeq ++ folds
    if (views.isEmpty) return Viability(viable = true, mfTrain, distinctTrain, orderingOk = true)
    var result = Viability(viable = true, mfTrain, distinctTrain, orderingOk = true)
    val it = views.iterator
    while (it.hasNext && result.viable) result = vsView(it.next())
    result
  }

  /** One evaluated candidate combination — the per-feature search history
    * (reference `combination_evaluator.py:774-850` `_historize_combination`):
    * every tested grouping with its association and the per-test viability
    * flags, in evaluation order.
    */
  final case class HistoryEntry(
      combination: Vector[Vector[String]],
      cramerv: Double,
      tschuprowt: Double,
      nMod: Int,
      viable: Boolean,
      minFreqOk: Boolean,
      distinctOk: Boolean,
      orderingOk: Boolean,
      withNan: Boolean,
      info: String,
      // the family's sort metric: binary fills cramerv/tschuprowt above,
      // the other carvers record (measure, value) — kruskal H, tau/somers,
      // K-column cramerv/tschuprowt
      measure: String = "",
      value: Double = Double.NaN)

  /** One feature's search at `minFreq` and, when nothing is viable there,
    * its rescue rerun with the min-freq veto waived (C13,
    * `combination_evaluator.py:507-516`) — only under `rescue` and with a
    * validation view (dev or fold), which still enforces distinct rates
    * and ordering. `run` gets the min-freq (None = waived) and the history
    * sink (null when `history` is off); returns the winner and the history
    * of both runs.
    */
  def withRescue[T](minFreq: Double, rescue: Boolean, hasViews: Boolean, history: Boolean)(
      run: (Option[Double], mutable.Buffer[HistoryEntry]) => Option[T]): (Option[T], Vector[HistoryEntry]) = {
    val sink = if (history) mutable.ArrayBuffer.empty[HistoryEntry] else null
    val normal = run(Some(minFreq), sink)
    val best = if (normal.isEmpty && rescue && hasViews) run(None, sink) else normal
    (best, if (sink == null) Vector.empty else sink.toVector)
  }

  /** Result of a feature search: the winning partition over the search
    * labels plus its association metrics.
    */
  final case class Best(
      combination: Vector[Vector[String]],
      cramerv: Double,
      tschuprowt: Double,
      rates: Vector[RateRow]
  )

  /** Binary combination search with progressive top-K DP escalation and
    * the NaN fan-out second phase — the driver algorithm of
    * `BinaryCombinationEvaluator._get_best_combination_non_nan/_with_nan`.
    *
    * @param train xagg over the feature's ordered labels (may include nanLabel)
    * @param dev   optional robustness view (same label space)
    */
  def bestCombination(
      train: Xagg,
      dev: Option[Xagg],
      maxNMod: Int,
      minFreq: Option[Double],
      alpha: Double = 0.05,
      sortBy: String = "tschuprowt",
      hasNan: Boolean = false,
      nanLabel: String = "__NAN__",
      dropna: Boolean = true,
      topKInitial: Int = 2000,
      escalate: Boolean = true,
      tol: Double = 1e-10,
      folds: Seq[Xagg] = Nil,
      rateStrategy: String = "target_mean",
      // when non-null, every evaluated candidate is appended (history)
      histSink: mutable.Buffer[HistoryEntry] = null,
      rescueMode: Boolean = false
  ): Option[Best] = {
    def historize(combo: Vector[Vector[String]], cv: Double, tt: Double,
        v: Viability, withNan: Boolean): Unit = {
      if (histSink == null) return
      val info =
        if (!v.viable) "Not viable"
        else {
          val base = s"Best for $sortBy and max_n_mod=$maxNMod"
          val d = if (withNan) base + " (dropna=True)" else base
          if (rescueMode) d + " (rescue: min_freq waived)" else d
        }
      histSink += HistoryEntry(combo, cv, tt, combo.length, v.viable,
        v.minFreqOk, v.distinctOk, v.orderingOk, withNan, info)
    }
    // ---- phase 1: non-nan consecutive partitions -------------------------
    // NaN never participates in the consecutive search: under dropna=true it
    // joins via the phase-2 fan-out; under dropna=false it can only ever be
    // split off whole (the all-vs-NaN rescue below)
    val rawLabels0 = if (hasNan) train.labels.filterNot(_ == nanLabel) else train.labels
    val trainNoNan = if (hasNan) train.without(nanLabel) else train
    val devNoNan = if (hasNan) dev.map(_.without(nanLabel)) else dev
    val foldsNoNan = if (hasNan) folds.map(_.without(nanLabel)) else folds

    def walk(cands: Vector[Dp.Candidate], trainX: Xagg, devX: Option[Xagg], foldsX: Seq[Xagg], start: Int): (Option[Dp.Candidate], Int) = {
      var i = start
      while (i < cands.length) {
        val c = cands(i)
        val v = testViability(trainX.grouped(c.indexToGroupby), devX.map(_.grouped(c.indexToGroupby)),
          minFreq, alpha, foldsX.map(_.grouped(c.indexToGroupby)), rateStrategy)
        historize(c.combination, c.cramerv, c.tschuprowt, v, withNan = false)
        if (v.viable) return (Some(cands(i)), i + 1)
        i += 1
      }
      (None, i)
    }

    val nonNanWinner: Option[Dp.Candidate] =
      if (trainNoNan.labels.length <= 1) None
      else {
        val aligned = alignCounts(trainNoNan, rawLabels0)
        var topK = topKInitial
        var walked = 0
        var found: Option[Dp.Candidate] = None
        var done = false
        while (!done) {
          val cands = Dp.chi2TopKPartitions(aligned._1, aligned._2, maxNMod, rawLabels0, sortBy, topK, tol)
          val (win, w) = walk(cands, trainNoNan, devNoNan, foldsNoNan, walked)
          walked = w
          if (win.isDefined) { found = win; done = true }
          else if (walked < topK) done = true // DP exhausted
          else if (!escalate) done = true
          else topK *= 4
        }
        found
      }

    // ---- apply phase-1 winner: regroup labels and xaggs ------------------
    // (reference `_apply_best_combination`: the nan phase then re-partitions
    // the already-merged bins)
    val (mergedTrain, mergedDev, mergedFolds, mergedLabels, baseBest) = nonNanWinner match {
      case Some(c) =>
        val gTrain = train.grouped(c.indexToGroupby) // nan row intact (unmapped → singleton)
        val gDev = dev.map(_.grouped(c.indexToGroupby))
        val gFolds = folds.map(_.grouped(c.indexToGroupby))
        val labels = gTrain.labels.filterNot(_ == nanLabel)
        val best = Best(c.combination, c.cramerv, c.tschuprowt, rates(gTrain, rateStrategy))
        (gTrain, gDev, gFolds, labels, Some(best))
      case None => (train, dev, folds, rawLabels0, None)
    }

    if (!(hasNan && dropna)) {
      // dropna=false with NaN: only the all-vs-nan partition may rescue a
      // failed search (reference `_get_best_combination_with_nan` else-branch)
      if (!dropna && hasNan && baseBest.isEmpty) {
        val combo = Vector(rawLabels0, Vector(nanLabel))
        val cand = Dp.Candidate(combo, Double.NaN, Double.NaN)
        val g = train.grouped(cand.indexToGroupby)
        val v = testViability(g, dev.map(_.grouped(cand.indexToGroupby)), minFreq, alpha,
          folds.map(_.grouped(cand.indexToGroupby)), rateStrategy)
        historize(combo, Double.NaN, Double.NaN, v, withNan = true)
        if (v.viable) {
          val aligned = alignCounts(train, train.labels)
          val (cv, tt) = Dp.chi2AssocForCombination(
            aligned._1, aligned._2, train.nObs, train.labels.zipWithIndex.toMap, combo, tol)
          return Some(Best(combo, cv, tt, rates(g, rateStrategy)))
        }
        return None
      }
      return baseBest
    }

    // ---- phase 2: NaN placement fan-out over merged bins -----------------
    val nonNanLabels = mergedLabels
    val fullLabels = mergedTrain.labels
    val modToPos = fullLabels.zipWithIndex.toMap
    val (fn0, fn1) = alignCounts(mergedTrain, fullLabels)
    val nObs = fn0.sum + fn1.sum
    val (bn0, bn1) = alignCounts(mergedTrain, nonNanLabels)

    val historized = mutable.Set.empty[Vector[Vector[String]]]
    var topK = topKInitial
    var nanWinner: Option[(Vector[Vector[String]], Double, Double)] = None
    var done = false
    while (!done) {
      val base = Dp.chi2TopKPartitions(bn0, bn1, maxNMod, nonNanLabels, sortBy, topK, tol)
      val scored = Dp.nanFanoutVariants(base.map(_.combination), nanLabel, nonNanLabels, maxNMod)
        .map { variant =>
          val (cv, tt) = Dp.chi2AssocForCombination(fn0, fn1, nObs, modToPos, variant, tol)
          (variant, cv, tt)
        }
        .toVector
        .sortBy { case (_, cv, tt) =>
          val m = if (sortBy == "cramerv") cv else tt
          if (m.isNaN) Double.PositiveInfinity else -m
        }
      var i = 0
      var found = false
      while (i < scored.length && !found) {
        val (variant, cv, tt) = scored(i)
        if (!historized.contains(variant)) {
          historized += variant
          val idx = variant.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap
          val g = mergedTrain.grouped(idx)
          val v = testViability(g, mergedDev.map(_.grouped(idx)), minFreq, alpha,
            mergedFolds.map(_.grouped(idx)), rateStrategy)
          historize(variant, cv, tt, v, withNan = true)
          if (v.viable) { nanWinner = Some((variant, cv, tt)); found = true }
        }
        i += 1
      }
      if (found) done = true
      else if (base.length < topK) done = true
      else if (!escalate) done = true
      else topK *= 4
    }

    nanWinner match {
      case Some((variant, cv, tt)) =>
        // compose: variant groups are over merged leaders; expand to raw labels
        val expand: Map[String, Vector[String]] = nonNanWinner match {
          case Some(c) => c.combination.map(g => g.head -> g).toMap
          case None => Map.empty
        }
        val finalCombo = variant.map(g => g.flatMap(l => expand.getOrElse(l, Vector(l))))
        val idx = variant.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap
        Some(Best(finalCombo, cv, tt, rates(mergedTrain.grouped(idx), rateStrategy)))
      case None =>
        // reference semantics: the nan phase REPLACES the result; if no nan
        // placement is viable the feature has no combination (dropped),
        // even when the non-nan search had a winner
        None
    }
  }

  /** Counts aligned to an explicit label order (absent labels → 0). */
  private def alignCounts(x: Xagg, order: Vector[String]): (Array[Double], Array[Double]) = {
    val pos = x.labels.zipWithIndex.toMap
    val a0 = new Array[Double](order.length)
    val a1 = new Array[Double](order.length)
    var i = 0
    while (i < order.length) {
      pos.get(order(i)).foreach { p => a0(i) = x.n0(p); a1(i) = x.n1(p) }
      i += 1
    }
    (a0, a1)
  }

}
