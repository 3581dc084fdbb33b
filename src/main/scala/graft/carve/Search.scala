package graft.carve

import scala.collection.mutable

/** Driver-side combination search shared by every carver family
  * (`combinations/utils/combination_evaluator.py:430-850` +
  * `combinations/utils/testing.py`): the viability vetoes (Wilson
  * min-freq, distinct consecutive rates, train/dev rank-order) and the
  * [[Evaluator]], which owns the progressive top-K walk, the NaN phase,
  * the history and the rescue rerun. A family plugs in only its
  * [[Measure]]: its DP, its closed-form score and its rates.
  */
object Search {

  /** A per-modality aggregate over an ordered label list — what a search
    * groups: the binary [[Xagg]], the K-column [[Ordinal.KXagg]] and the
    * rank aggregate [[Continuous.RankXagg]].
    */
  trait Grouping[X <: Grouping[X]] { this: X =>
    def labels: Vector[String]

    /** This aggregate without row `i`. */
    protected def drop(i: Int): X

    /** Rows summed into groups: row `i` into group `to(i)`, the groups
      * named by `leaders`. */
    protected def merge(leaders: Vector[String], to: Array[Int]): X

    /** Remove one label's row (reference `AggregatedSamples.dropna`). */
    def without(label: String): X = {
      val i = labels.indexOf(label)
      if (i < 0) this else drop(i)
    }

    /** Group rows by a combination: leaders ordered by first appearance
      * over this aggregate's label order (reference `_grouper` /
      * `group_crosstab`). Unmapped labels stay as singletons.
      */
    def grouped(indexToGroupby: Map[String, String]): X = {
      val order = mutable.LinkedHashMap.empty[String, Int]
      val to = labels.iterator.map(l => order.getOrElseUpdate(indexToGroupby.getOrElse(l, l), order.size)).toArray
      merge(order.keysIterator.toVector, to)
    }
  }

  /** Per-modality (n0, n1) aggregate aligned to an ordered label list —
    * the binary crosstab ("xagg") collected from the cluster.
    */
  final case class Xagg(labels: Vector[String], n0: Array[Double], n1: Array[Double]) extends Grouping[Xagg] {
    def count(i: Int): Double = n0(i) + n1(i)
    def nObs: Double = n0.sum + n1.sum

    protected def drop(i: Int): Xagg = Xagg(labels.patch(i, Nil, 1), n0.patch(i, Nil, 1), n1.patch(i, Nil, 1))

    protected def merge(leaders: Vector[String], to: Array[Int]): Xagg = {
      val g0 = new Array[Double](leaders.length)
      val g1 = new Array[Double](leaders.length)
      var i = 0
      while (i < to.length) { g0(to(i)) += n0(i); g1(to(i)) += n1(i); i += 1 }
      Xagg(leaders, g0, g1)
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

  /** Train + validation-view viability of one grouping: train passes
    * min-freq and distinct rates, and each view — dev, then each CV fold
    * (`base_carver.py:607-628`, `combination_evaluator.py:569-601`) —
    * passes both and keeps train's rate order. Stops at the first failing
    * view (views are read only that far); its flags are the result.
    */
  def viability[X](train: X, views: Iterator[X], minFreq: Option[Double], alpha: Double)(
      rates: X => Vector[RateRow]): Viability = {
    val trainRates = rates(train)
    val mf = testMinFreq(trainRates, minFreq, alpha)
    val distinct = testDistinctRates(trainRates)
    var result = Viability(mf && distinct, mf, distinct, orderingOk = true)
    while (result.viable && views.hasNext) {
      val viewRates = rates(views.next())
      val mfView = testMinFreq(viewRates, minFreq, alpha)
      val distinctView = testDistinctRates(viewRates)
      val ordering = testOrdering(trainRates.map(_.rate), viewRates.map(_.rate))
      result = Viability(mfView && distinctView && ordering, mf && mfView, distinct && distinctView, ordering)
    }
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

  /** modality -> group leader (first element of its group), reference
    * `combinations.py:combination_formatter`. */
  def index(combination: Vector[Vector[String]]): Map[String, String] =
    combination.iterator.flatMap(g => g.iterator.map(_ -> g.head)).toMap

  /** What a family plugs into the [[Evaluator]]: how candidate groupings
    * of its aggregate `X` are found, scored and rated. `C` is the family's
    * scored candidate — a partition plus its association.
    */
  trait Measure[X <: Grouping[X], C] {
    /** The association named in the history's info line. */
    def name: String

    /** Per-group viability rows. */
    def rates(x: X): Vector[RateRow]

    /** The top-K interval DP over `x`'s rows in `labels` order, per K. */
    def topK(x: X, labels: Vector[String], ev: Evaluator): Int => Vector[C]

    /** Closed-form score of any grouping of `x`'s labels. */
    def score(x: X): Vector[Vector[String]] => C

    def combination(c: C): Vector[Vector[String]]

    /** The sort metric, higher first (NaN last). */
    def metric(c: C): Double

    /** The history's (cramerv, tschuprowt, measure, value) of a candidate. */
    def fields(c: C): (Double, Double, String, Double)

    /** Phase 2 enumerates every NaN placement (the ordinal and multiclass
      * evaluators do not override the reference's
      * `_get_best_combination_with_nan`) instead of the DP fan-out.
      */
    def exhaustiveNan: Boolean = false

    /** The phase-1 train: the NaN-free rows, or a family's own pool. */
    def pool(trainNoNan: X): X = trainNoNan
  }

  /** A search winner: its partition of the search labels, the scored
    * candidate that won (a NaN-phase winner's partition is over the
    * phase-1 groups) and the winner's rates over the train rows.
    */
  final case class Found[C](combination: Vector[Vector[String]], best: C, rates: Vector[RateRow])

  /** History fields of a candidate the search tests unscored. */
  private val Unscored = (Double.NaN, Double.NaN, "", Double.NaN)

  /** The combination evaluator (reference `combination_evaluator.py`): one
    * feature's search at `minFreq` and, when nothing is viable there, its
    * rescue rerun with the min-freq veto waived (C13,
    * `combination_evaluator.py:507-516`) — only under `rescue` and with a
    * validation view (dev or fold), which still enforces distinct rates
    * and ordering. `memo` shares DP results across fits that differ only
    * in what the DP does not read ([[Dp.CandMemo]]).
    */
  final case class Evaluator(
      maxNMod: Int,
      minFreq: Double,
      alpha: Double,
      topKInitial: Int,
      escalate: Boolean,
      rescue: Boolean,
      history: Boolean,
      dropna: Boolean = true,
      memo: Option[Dp.CandMemo] = None) {

    /** A DP result through the memo; `key` must hold every DP input. */
    def memoized[T <: AnyRef](key: => Any)(compute: => T): T =
      memo.fold(compute)(_.getOrElseUpdate(key, compute))

    /** The winner and the history of both runs over `train` (may hold the
      * NaN row when `hasNan`) with validation views `dev` and `folds` in
      * the same label space.
      */
    def search[X <: Grouping[X], C](m: Measure[X, C], train: X, dev: Option[X], folds: Seq[X],
        hasNan: Boolean): (Option[Found[C]], Vector[HistoryEntry]) = {
      val views = dev.toSeq ++ folds
      val sink = if (history) mutable.ArrayBuffer.empty[HistoryEntry] else null
      val normal = run(m, train, views, hasNan, Some(minFreq), sink)
      val best = if (normal.isEmpty && rescue && views.nonEmpty) run(m, train, views, hasNan, None, sink) else normal
      (best, if (sink == null) Vector.empty else sink.toVector)
    }

    /** Progressive top-K walk over the non-NaN partitions, then the NaN
      * phase over the merged bins — the driver algorithm of
      * `_get_best_combination_non_nan` / `_get_best_combination_with_nan`.
      */
    private def run[X <: Grouping[X], C](m: Measure[X, C], train: X, views: Seq[X], hasNan: Boolean,
        minFreq: Option[Double], sink: mutable.Buffer[HistoryEntry]): Option[Found[C]] = {
      val nan = BinaryCarver.NanLabel
      def historize(combo: Vector[Vector[String]], c: Option[C], v: Viability, withNan: Boolean): Unit =
        if (sink != null) {
          val info =
            if (!v.viable) "Not viable"
            else {
              val base = s"Best for ${m.name} and max_n_mod=$maxNMod"
              val d = if (withNan) base + " (dropna=True)" else base
              if (minFreq.isEmpty) d + " (rescue: min_freq waived)" else d
            }
          val (cv, tt, measure, value) = c.fold(Unscored)(m.fields)
          sink += HistoryEntry(combo, cv, tt, combo.length, v.viable, v.minFreqOk, v.distinctOk,
            v.orderingOk, withNan, info, measure, value)
        }
      def test(g: X, views: Seq[X], idx: Map[String, String]): Viability =
        viability(g, views.iterator.map(_.grouped(idx)), minFreq, alpha)(m.rates)

      // ---- phase 1: non-NaN consecutive partitions, ×4 top-K escalation.
      // NaN never joins the consecutive search: under dropna it joins in
      // the phase-2 placements, otherwise it can only be split off whole
      // (the all-vs-NaN rescue below)
      val labels0 = if (hasNan) train.labels.filterNot(_ == nan) else train.labels
      val trainNoNan = m.pool(if (hasNan) train.without(nan) else train)
      val viewsNoNan = if (hasNan) views.map(_.without(nan)) else views
      val winner: Option[(C, Map[String, String])] =
        if (trainNoNan.labels.length <= 1) None
        else {
          val dp = m.topK(trainNoNan, labels0, this)
          var k = topKInitial
          var walked = 0 // an escalated DP repeats the walked prefix: resume after it
          var found: Option[(C, Map[String, String])] = None
          var done = false
          while (!done) {
            val cands = dp(k)
            while (found.isEmpty && walked < cands.length) {
              val c = cands(walked)
              val idx = index(m.combination(c))
              val v = test(trainNoNan.grouped(idx), viewsNoNan, idx)
              historize(m.combination(c), Some(c), v, withNan = false)
              if (v.viable) found = Some((c, idx))
              walked += 1
            }
            if (found.isDefined || walked < k || !escalate) done = true else k *= 4
          }
          found
        }

      // ---- apply the phase-1 winner (reference `_apply_best_combination`):
      // the NaN row stays a singleton, the NaN phase re-partitions the bins
      val merged = winner.fold(train)(w => train.grouped(w._2))
      def phase1 = winner.map { case (c, _) => Found(m.combination(c), c, m.rates(merged)) }
      if (!hasNan) return phase1
      if (!dropna) return phase1.orElse {
        // dropna = false: only the all-vs-NaN split may rescue a failed
        // search (reference `_get_best_combination_with_nan` else-branch);
        // the history records it unscored
        val combo = Vector(labels0, Vector(nan))
        val idx = index(combo)
        val g = train.grouped(idx)
        val v = test(g, views, idx)
        historize(combo, None, v, withNan = true)
        if (v.viable) Some(Found(combo, m.score(train)(combo), m.rates(g))) else None
      }

      // ---- phase 2: NaN placements over the merged bins
      val labels1 = merged.labels.filterNot(_ == nan)
      val mergedViews = winner.fold(views)(w => views.map(_.grouped(w._2)))
      val score = m.score(merged)
      // (scored placements, whether a larger K can add more)
      val placements: Int => (Vector[C], Boolean) =
        if (m.exhaustiveNan) _ => (Ordinal.nanCombinations(labels1, maxNMod, nan).map(score), false)
        else {
          val dp = m.topK(merged, labels1, this)
          k => {
            val base = dp(k)
            (Dp.nanFanoutVariants(base.map(m.combination), nan, labels1, maxNMod).map(score).toVector, base.length >= k)
          }
        }
      val historized = mutable.Set.empty[Vector[Vector[String]]]
      var k = topKInitial
      var found: Option[(C, X)] = None
      var done = false
      while (!done) {
        val (cands, more) = placements(k)
        val it = cands.sortBy { c => val v = m.metric(c); if (v.isNaN) Double.PositiveInfinity else -v }.iterator
        while (found.isEmpty && it.hasNext) {
          val c = it.next()
          val combo = m.combination(c)
          if (historized.add(combo)) {
            val idx = index(combo)
            val g = merged.grouped(idx)
            val v = test(g, mergedViews, idx)
            historize(combo, Some(c), v, withNan = true)
            if (v.viable) found = Some((c, g))
          }
        }
        if (found.isDefined || !more || !escalate) done = true else k *= 4
      }
      // the NaN phase REPLACES the result (reference semantics): with no
      // viable placement the feature has no combination, even when phase 1
      // had a winner. A winner's groups expand back to the raw labels.
      found.map { case (c, g) =>
        val expand = winner.fold(Map.empty[String, Vector[String]])(w => m.combination(w._1).map(grp => grp.head -> grp).toMap)
        Found(m.combination(c).map(_.flatMap(l => expand.getOrElse(l, Vector(l)))), c, m.rates(g))
      }
    }
  }

  /** The binary family (`BinaryCombinationEvaluator`): the chi² top-K DP,
    * quantised Cramér's V / Tschuprow's T, the configured target rate.
    */
  final case class Chi2Measure(sortBy: String, rateStrategy: String) extends Measure[Xagg, Dp.Candidate] {
    def name: String = sortBy
    def rates(x: Xagg): Vector[RateRow] = Search.rates(x, rateStrategy)
    def topK(x: Xagg, labels: Vector[String], ev: Evaluator): Int => Vector[Dp.Candidate] = {
      val (n0, n1) = alignCounts(x, labels)
      k => ev.memoized(("chi2", n0.toSeq, n1.toSeq, ev.maxNMod, labels, sortBy, k))(
        Dp.chi2TopKPartitions(n0, n1, ev.maxNMod, labels, sortBy, k))
    }
    def score(x: Xagg): Vector[Vector[String]] => Dp.Candidate = {
      val (nObs, pos) = (x.nObs, x.labels.zipWithIndex.toMap)
      combo => {
        val (cv, tt) = Dp.chi2AssocForCombination(x.n0, x.n1, nObs, pos, combo)
        Dp.Candidate(combo, cv, tt)
      }
    }
    def combination(c: Dp.Candidate): Vector[Vector[String]] = c.combination
    def metric(c: Dp.Candidate): Double = c.metric(sortBy)
    def fields(c: Dp.Candidate): (Double, Double, String, Double) = (c.cramerv, c.tschuprowt, "", Double.NaN)
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
