package graft.carve

/** Continuous-target (regression) search — the Kruskal-Wallis H family
  * (`combinations/continuous/...`).
  *
  * The reference aggregates a LIST of y values per modality; at scale that
  * is exactly what not to do (SURVEY.md C3). The DP only consumes
  * per-modality `(n, Σrank(y), Σy)` plus the global tie correction, and
  * the median rate a per-modality y histogram (grouped counts). Those
  * aggregates come from [[ContinuousCarver]], which ranks y with
  * [[graft.stats.Ranks]] — `local` on the driver, `bucketed` on the
  * cluster when the `(feature, y)` pools pass its bound; nothing
  * row-sized reaches this object.
  */
object Continuous {

  /** numpy-median semantics over an integer-weighted value histogram: the
    * middle element of the expanded sorted sample, or the average of the
    * two middle elements for an even total.
    */
  def weightedMedian(hist: Array[(Double, Double)]): Double = {
    if (hist.isEmpty) return Double.NaN
    val sorted = hist.sortBy(_._1)
    val total = math.round(sorted.map(_._2).sum)
    if (total == 0) return Double.NaN
    def valueAt(pos: Long): Double = { // 1-indexed order statistic
      var acc = 0L
      var i = 0
      while (i < sorted.length) {
        acc += math.round(sorted(i)._2)
        if (acc >= pos) return sorted(i)._1
        i += 1
      }
      sorted.last._1
    }
    if (total % 2 == 1) valueAt(total / 2 + 1)
    else (valueAt(total / 2) + valueAt(total / 2 + 1)) / 2.0
  }

  /** Per-modality rank aggregate for one feature. */
  final case class RankXagg(
      labels: Vector[String],
      n: Array[Double],
      sumRank: Array[Double],
      sumY: Array[Double],
      tieCorr: Double,
      // viability rate: target_mean (default) or target_median (R4,
      // `continuous_target_rates.py:TargetMedian`); medians need the
      // per-modality y histogram (grouped counts, never y-lists)
      rateStrategy: String = "target_mean",
      yHist: Map[String, Array[(Double, Double)]] = Map.empty
  ) extends Search.Grouping[RankXagg] {
    def nObs: Double = n.sum

    protected def drop(i: Int): RankXagg =
      RankXagg(labels.patch(i, Nil, 1), n.patch(i, Nil, 1), sumRank.patch(i, Nil, 1), sumY.patch(i, Nil, 1),
        tieCorr, rateStrategy, yHist - labels(i))

    protected def merge(leaders: Vector[String], to: Array[Int]): RankXagg = {
      val gn = new Array[Double](leaders.length)
      val gr = new Array[Double](leaders.length)
      val gy = new Array[Double](leaders.length)
      var i = 0
      while (i < to.length) {
        gn(to(i)) += n(i); gr(to(i)) += sumRank(i); gy(to(i)) += sumY(i)
        i += 1
      }
      val gHist =
        if (yHist.isEmpty) yHist
        else labels.indices.groupBy(to(_)).map { case (g, idxs) =>
          leaders(g) -> idxs.flatMap(i => yHist.getOrElse(labels(i), Array.empty[(Double, Double)])).toArray
        }
      RankXagg(leaders, gn, gr, gy, tieCorr, rateStrategy, gHist)
    }

    def rates: Vector[Search.RateRow] = {
      val total = nObs
      labels.indices.map { i =>
        val rate =
          if (rateStrategy == "target_median")
            Continuous.weightedMedian(yHist.getOrElse(labels(i), Array.empty))
          else sumY(i) / n(i)
        Search.RateRow(labels(i), rate, n(i) / total, n(i))
      }.toVector
    }
  }

  /** Kruskal H from group rank sums (`stats/kruskal.py:h_from_rank_sums`). */
  def hFromRankSums(rankSums: Array[Double], counts: Array[Double], nObs: Double, tieCorr: Double): Double = {
    var ssbn = 0.0
    var i = 0
    while (i < rankSums.length) {
      ssbn += rankSums(i) * rankSums(i) / counts(i) // 0-count group → NaN, as scipy
      i += 1
    }
    if (ssbn.isNaN || ssbn.isInfinite) return Double.NaN
    val h = (12.0 / (nObs * (nObs + 1))) * ssbn - 3.0 * (nObs + 1)
    if (tieCorr == 0) Double.NaN else h / tieCorr
  }

  /** Top-K Kruskal DP (`continuous_combination_evaluators.py:516-594`):
    * one DP across all caps (ssbn is k-independent), empty segments
    * excluded via skipCost, ssbn → H translation, sorted desc.
    */
  def kruskalTopKPartitions(
      rPerMod: Array[Double],
      nPerMod: Array[Double],
      nObs: Double,
      tieCorr: Double,
      maxNMod: Int,
      rawIndex: Vector[String],
      topK: Int = 2000
  ): Vector[(Vector[Vector[String]], Double)] = {
    if (nObs < 2 || tieCorr == 0) return Vector.empty
    val nMod = rawIndex.length
    val cap = math.min(maxNMod, nMod)
    if (cap < 2) return Vector.empty
    val rPrefix = rPerMod.scanLeft(0.0)(_ + _)
    val nPrefix = nPerMod.scanLeft(0.0)(_ + _)
    def segCost(i: Int, j: Int): Double = {
      val nn = nPrefix(j) - nPrefix(i)
      if (nn <= 0) Double.NegativeInfinity
      else {
        val r = rPrefix(j) - rPrefix(i)
        r * r / nn
      }
    }
    val rows = Dp.topKNodes(nMod, cap, segCost, topK, maximize = true,
      skipCost = Some(Double.NegativeInfinity))
    val coef = 12.0 / (nObs * (nObs + 1))
    val offset = 3.0 * (nObs + 1)
    // same (k asc, row order) emission the former topKPartitions flattened;
    // splits materialize only for the post-sort top-K survivors
    val entries = Vector.newBuilder[(Double, Dp.Node)]
    var k = 2
    while (k <= cap) {
      rows(k).foreach(e => entries += (((coef * e.cost - offset) / tieCorr, e)))
      k += 1
    }
    entries.result().sortBy(-_._1).take(topK).map { case (h, e) =>
      (Dp.splitsToCombination(e.splits, rawIndex), h)
    }
  }

  /** Closed-form H for an arbitrary grouping (NaN fan-out scorer). */
  def hForCombination(
      rPerMod: Array[Double],
      nPerMod: Array[Double],
      nObs: Double,
      tieCorr: Double,
      modToPos: Map[String, Int],
      combination: Vector[Vector[String]]
  ): Double = {
    if (nObs < 2) return Double.NaN
    var gid = 0
    val nMod = modToPos.size
    val assign = new Array[Int](nMod)
    val assigned = new Array[Boolean](nMod)
    combination.foreach { g =>
      g.foreach(m => modToPos.get(m).foreach { p => assign(p) = gid; assigned(p) = true })
      gid += 1
    }
    var nGroups = gid
    var p = 0
    while (p < nMod) { if (!assigned(p)) { assign(p) = nGroups; nGroups += 1 }; p += 1 }
    if (nGroups < 2) return Double.NaN
    val rg = new Array[Double](nGroups)
    val ng = new Array[Double](nGroups)
    var i = 0
    while (i < nMod) { rg(assign(i)) += rPerMod(i); ng(assign(i)) += nPerMod(i); i += 1 }
    hFromRankSums(rg, ng, nObs, tieCorr)
  }

  /** The continuous family's [[Search.Measure]]: the top-K Kruskal DP,
    * closed-form H for the NaN fan-out, target means or medians as rates
    * (vetoes read rates, never ranks).
    *
    * Ranks are pool-dependent (reference `_modality_rank_stats` runs on the
    * NaN-filtered xagg for the non-NaN phase and on the restored raw xagg
    * for the NaN phase), so phase 1 walks `trainSub` — the non-NaN
    * modalities with ranks pooled over the non-NaN rows — while the search
    * train holds every modality with ranks pooled over all rows. The DP
    * reads only rank aggregates, so target_mean and target_median fits
    * over the same stages share its results through the evaluator's memo.
    */
  final case class KruskalMeasure(trainSub: RankXagg)
      extends Search.Measure[RankXagg, (Vector[Vector[String]], Double)] {
    def name: String = "kruskal"
    def rates(x: RankXagg): Vector[Search.RateRow] = x.rates
    def topK(x: RankXagg, labels: Vector[String], ev: Search.Evaluator): Int => Vector[(Vector[Vector[String]], Double)] = {
      val (r, n) = align(x, labels)
      k => ev.memoized(("kruskal", r.toSeq, n.toSeq, x.nObs, x.tieCorr, ev.maxNMod, labels, k))(
        kruskalTopKPartitions(r, n, x.nObs, x.tieCorr, ev.maxNMod, labels, k))
    }
    def score(x: RankXagg): Vector[Vector[String]] => (Vector[Vector[String]], Double) = {
      val (nObs, pos) = (x.nObs, x.labels.zipWithIndex.toMap)
      combo => (combo, hForCombination(x.sumRank, x.n, nObs, x.tieCorr, pos, combo))
    }
    def combination(c: (Vector[Vector[String]], Double)): Vector[Vector[String]] = c._1
    def metric(c: (Vector[Vector[String]], Double)): Double = c._2
    def fields(c: (Vector[Vector[String]], Double)): (Double, Double, String, Double) =
      (Double.NaN, Double.NaN, "kruskal", c._2)
    override def pool(trainNoNan: RankXagg): RankXagg = trainSub

    /** (Σrank, n) aligned to an explicit label order (absent → 0). */
    private def align(x: RankXagg, order: Vector[String]): (Array[Double], Array[Double]) = {
      val pos = x.labels.zipWithIndex.toMap
      val r = new Array[Double](order.length)
      val n = new Array[Double](order.length)
      order.indices.foreach { i => pos.get(order(i)).foreach { p => r(i) = x.sumRank(p); n(i) = x.n(p) } }
      (r, n)
    }
  }
}
