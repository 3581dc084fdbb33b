package graft.carve

/** Ordinal-target combination machinery — the Spark-side re-expression of
  * the reference's ordinal evaluator family
  * (`combinations/ordinal/ordinal_combination_evaluators.py`,
  * `combinations/ordinal/ordinal_target_rates.py`, `stats/ridits.py`).
  *
  * Everything here is driver-side math over collected per-modality
  * aggregates (a labels × target-levels count matrix, bounded by feature
  * cardinality × level count — never row count).
  */
object Ordinal {

  /** K-column crosstab: feature labels (rows, ordinal order) × target
    * levels (columns, ascending). The ordinal/multiclass generalization of
    * `Search.Xagg`.
    */
  final case class KXagg(labels: Vector[String], levels: Vector[Double], m: Array[Array[Double]])
      extends Search.Grouping[KXagg] {
    def rowTotal(i: Int): Double = { var s = 0.0; var j = 0; while (j < m(i).length) { s += m(i)(j); j += 1 }; s }
    def nObs: Double = m.iterator.map(_.sum).sum
    def colSums: Array[Double] = {
      val c = new Array[Double](levels.length)
      m.foreach { row => var j = 0; while (j < c.length) { c(j) += row(j); j += 1 } }
      c
    }

    protected def drop(i: Int): KXagg = KXagg(labels.patch(i, Nil, 1), levels, m.patch(i, Nil, 1))

    protected def merge(leaders: Vector[String], to: Array[Int]): KXagg = {
      val out = Array.fill(leaders.length, levels.length)(0.0)
      var i = 0
      while (i < to.length) {
        val row = out(to(i))
        var j = 0
        while (j < levels.length) { row(j) += m(i)(j); j += 1 }
        i += 1
      }
      KXagg(leaders, levels, out)
    }
  }

  // -------------------------------------------------------------- ridits

  /** Ridits of arbitrary numeric `levels` against a fixed train
    * count-marginal (`stats/ridits.py:24-72`): `F(j-) + f_j/2` for
    * reference levels; the natural CDF extension `F(j-)` for unseen ones.
    */
  def riditScoresForLevels(levels: Array[Double], refLevels: Array[Double], refCounts: Array[Double]): Array[Double] = {
    val total = refCounts.sum
    require(total > 0, "reference counts must carry a positive total count")
    val order = refLevels.indices.sortBy(refLevels(_)).toArray
    val sortedLevels = order.map(refLevels(_))
    val freqs = order.map(refCounts(_) / total)
    val cum = freqs.scanLeft(0.0)(_ + _)
    levels.map { q =>
      // searchsorted left: count of sortedLevels < q
      var lo = 0; var hi = sortedLevels.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (sortedLevels(mid) < q) lo = mid + 1 else hi = mid }
      val below = cum(lo)
      val safe = math.min(lo, sortedLevels.length - 1)
      if (safe >= 0 && sortedLevels(safe) == q) below + freqs(safe) / 2.0 else below
    }
  }

  /** `{level -> ridit}` of a count-marginal's own levels
    * (`stats/ridits.py:ridits_from_counts`).
    */
  def riditsFromCounts(levels: Array[Double], counts: Array[Double]): Map[Double, Double] = {
    val scores = riditScoresForLevels(levels, levels, counts)
    levels.zip(scores).toMap
  }

  // ------------------------------------------------------- target rates

  /** Per-group scalar "rate" driving viability — the ordinal analogue of
    * the binary TargetMean (`ordinal_target_rates.py`).
    */
  trait ORate {
    def name: String
    /** Fix the train reference (no-op for TargetMeanLevel). */
    def fitReference(raw: KXagg): ORate
    def compute(x: KXagg): Array[Double]
  }

  /** Mean train-ridit per modality (the ordinal default,
    * `ordinal_target_rates.py:30-91`).
    */
  final case class TargetMeanRidit(refLevels: Array[Double], refCounts: Array[Double]) extends ORate {
    val name = "target_mean_ridit"
    def fitReference(raw: KXagg): ORate =
      TargetMeanRidit(raw.levels.toArray, raw.colSums)
    def compute(x: KXagg): Array[Double] = {
      require(refLevels != null, s"[$name] reference is not fit")
      val ridits = riditScoresForLevels(x.levels.toArray, refLevels, refCounts)
      x.m.map { row =>
        var num = 0.0; var den = 0.0; var j = 0
        while (j < row.length) { num += row(j) * ridits(j); den += row(j); j += 1 }
        num / den // empty modality -> NaN, matching numpy divide
      }
    }
  }

  /** Mean ordinal level per modality (`ordinal_target_rates.py:94-139`). */
  final case class TargetMeanLevel(levelValues: Option[Map[Double, Double]] = None) extends ORate {
    val name = "target_mean_level"
    levelValues.foreach { lv =>
      val vals = lv.toSeq.sortBy(_._1).map(_._2)
      require(vals.zip(vals.tail).forall { case (a, b) => b > a },
        s"[$name] level_values must be strictly increasing in the level order")
    }
    def fitReference(raw: KXagg): ORate = this
    def compute(x: KXagg): Array[Double] = {
      val vals = levelValues match {
        case Some(lv) =>
          x.levels.map(l => lv.getOrElse(l,
            throw new IllegalArgumentException(s"[$name] level $l missing from level_values"))).toArray
        case None => x.levels.toArray
      }
      x.m.map { row =>
        var num = 0.0; var den = 0.0; var j = 0
        while (j < row.length) { num += row(j) * vals(j); den += row(j); j += 1 }
        num / den
      }
    }
  }

  // ------------------------------------------- rank-association measures

  /** Concordant minus discordant pairs C−D of an ordered table
    * (`ordinal_combination_evaluators.py:195-210`), O(r·c) via suffix sums.
    */
  def concordantMinusDiscordant(v: Array[Array[Double]]): Double = {
    val r = v.length
    if (r == 0) return 0.0
    val c = v(0).length
    // suffix[i][j] = sum over k>=i, l>=j
    val suffix = Array.fill(r + 1, c + 1)(0.0)
    var i = r - 1
    while (i >= 0) {
      var j = c - 1
      while (j >= 0) {
        suffix(i)(j) = v(i)(j) + suffix(i + 1)(j) + suffix(i)(j + 1) - suffix(i + 1)(j + 1)
        j -= 1
      }
      i -= 1
    }
    // srpc[i][j] = sum over k>=i, l<j (suffix rows, prefix cols)
    val srpc = Array.fill(r + 1, c + 1)(0.0)
    i = r - 1
    while (i >= 0) {
      var j = 1
      while (j <= c) {
        srpc(i)(j) = v(i)(j - 1) + srpc(i + 1)(j) - srpc(i + 1)(j - 1) + srpc(i)(j - 1)
        j += 1
      }
      i -= 1
    }
    var cd = 0.0
    i = 0
    while (i < r) {
      var j = 0
      while (j < c) {
        val downRight = suffix(i + 1)(j + 1)
        val downLeft = srpc(i + 1)(j)
        cd += v(i)(j) * (downRight - downLeft)
        j += 1
      }
      i += 1
    }
    cd
  }

  /** tau-b / tau-c / Somers' D from pre-computed pair counts
    * (`ordinal_combination_evaluators.py:213-234`). NaN encodes the
    * reference's None (vanished denominator).
    */
  def tausFromCounts(cd: Double, n: Double, untiedOnFeature: Double, untiedOnTarget: Double, m: Int): OMetrics = {
    val denomB = math.sqrt(untiedOnFeature * untiedOnTarget)
    OMetrics(
      tauB = if (denomB > 0) cd / denomB else Double.NaN,
      tauC = if (m > 1) (2.0 * m * cd) / (n * n * (m - 1)) else Double.NaN,
      somersd = if (untiedOnFeature > 0) cd / untiedOnFeature else Double.NaN
    )
  }

  final case class OMetrics(tauB: Double, tauC: Double, somersd: Double) {
    def metric(sortBy: String): Double = sortBy match {
      case "tau_b" => tauB
      case "tau_c" => tauC
      case "somersd" => somersd
      case other => throw new IllegalArgumentException(s"bad sortBy $other")
    }
  }

  /** Closed-form tau-b / tau-c / Somers' D of an ordered table
    * (`ordinal_combination_evaluators.py:237-256`).
    */
  def ordinalAssociations(v: Array[Array[Double]]): OMetrics = {
    val n = v.iterator.map(_.sum).sum
    if (n < 2) return OMetrics(Double.NaN, Double.NaN, Double.NaN)
    val cd = concordantMinusDiscordant(v)
    val row = v.map(_.sum)
    val c = v(0).indices.map(j => v.iterator.map(_(j)).sum).toArray
    val allPairs = n * (n - 1) / 2.0
    val untiedFeature = allPairs - row.map(r => r * (r - 1) / 2.0).sum
    val untiedTarget = allPairs - c.map(x => x * (x - 1) / 2.0).sum
    val m = math.min(row.count(_ > 0), c.count(_ > 0))
    tausFromCounts(cd, n, untiedFeature, untiedTarget, m)
  }

  /** WithinSegment C−D for every consecutive row segment
    * (`ordinal_combination_evaluators.py:278-300`): seg(a)(b) is the C−D
    * among observations whose modalities both lie in [a, b).
    */
  def segmentWithinCosts(mm: Array[Array[Double]]): Array[Array[Double]] = {
    val nMod = mm.length
    val c = if (nMod == 0) 0 else mm(0).length
    val seg = Array.fill(nMod, nMod + 1)(0.0)
    var a = 0
    while (a < nMod) {
      val block = mm(a).clone()
      var within = 0.0
      var b = a + 1
      while (b < nMod) {
        var blockSum = 0.0
        var j = 0
        while (j < c) { blockSum += block(j); j += 1 }
        var inclusive = 0.0
        var acc = 0.0
        j = 0
        while (j < c) {
          inclusive += block(j)
          val strictlyLower = inclusive - block(j)
          val strictlyHigher = blockSum - inclusive
          acc += mm(b)(j) * (strictlyLower - strictlyHigher)
          j += 1
        }
        within += acc
        j = 0
        while (j < c) { block(j) += mm(b)(j); j += 1 }
        seg(a)(b + 1) = within
        b += 1
      }
      a += 1
    }
    seg
  }

  /** One scored candidate partition. */
  final case class OCand(combination: Vector[Vector[String]], metrics: OMetrics)

  /** Splits → raw-label groups honoring a compaction map
    * (`dp.py:splits_to_combination` with keep): empty modalities attach to
    * the preceding group.
    */
  def splitsToCombinationKeep(splits: Vector[Int], rawIndex: Vector[String], keep: Array[Int]): Vector[Vector[String]] = {
    val bounds = Vector(0) ++ splits.slice(1, splits.length - 1).map(keep(_)) ++ Vector(rawIndex.length)
    (0 until bounds.length - 1).map(g => rawIndex.slice(bounds(g), bounds(g + 1))).toVector
  }

  /** Top-K consecutive partitions ranked by sortBy
    * (`ordinal_combination_evaluators.py:328-393`): interval DP over the
    * additive C−D numerator (minimize Σ within-segment), each kept
    * partition re-scored with its true denominators.
    */
  def topKPartitionsOrdinalDp(
      mm: Array[Array[Double]],
      nPerMod: Array[Double],
      colSums: Array[Double],
      maxNMod: Int,
      rawIndex: Vector[String],
      sortBy: String,
      topK: Int
  ): Vector[OCand] = {
    val totalN = nPerMod.sum
    val keep = nPerMod.indices.filter(nPerMod(_) > 0).toArray
    val keptM = keep.map(mm(_))
    val keptN = keep.map(nPerMod(_))
    val nKept = keep.length
    val cap = math.min(maxNMod, nKept)
    if (cap < 2 || totalN < 2) return Vector.empty

    val allPairs = totalN * (totalN - 1) / 2.0
    val untiedTarget = allPairs - colSums.map(x => x * (x - 1) / 2.0).sum
    val cNonempty = colSums.count(_ > 0)
    val totalBetween = concordantMinusDiscordant(keptM)
    val seg = segmentWithinCosts(keptM)
    val nPrefix = keptN.scanLeft(0.0)(_ + _)

    val dpRows = Dp.topKNodes(nKept, cap, (i, j) => seg(i)(j), topK, maximize = false)

    // same (k asc, row order) emission the former topKPartitions flattened;
    // the per-candidate tie sums walk the parent chain (order-independent
    // segment sums), so splits only materialize for the post-sort top-K
    val entries = Vector.newBuilder[(OMetrics, Dp.Node)]
    var kk = 2
    while (kk <= cap) {
      dpRows(kk).foreach { e =>
        val cd = totalBetween - e.cost
        var tiedFeature = 0.0
        var nonEmpty = 0
        e.foreachSegment { (start, end) =>
          val size = nPrefix(end) - nPrefix(start)
          tiedFeature += size * (size - 1) / 2.0
          if (size > 0) nonEmpty += 1
        }
        val m = math.min(nonEmpty, cNonempty)
        val metrics = tausFromCounts(cd, totalN, allPairs - tiedFeature, untiedTarget, m)
        entries += ((metrics, e))
      }
      kk += 1
    }

    def key(m: OMetrics): Double = { val v = m.metric(sortBy); if (v.isNaN) Double.NegativeInfinity else v }
    entries.result().sortBy { case (m, _) => -key(m) } // stable: ties keep DP emission order
      .take(topK)
      .map { case (m, e) => OCand(splitsToCombinationKeep(e.splits, rawIndex, keep), m) }
  }

  // ------------------------------------------ enumerate fallbacks (NaN)

  /** All consecutive partitions of `order` into 2..maxGroups groups, in the
    * reference's exact DFS order (`combinations.py:consecutive_combinations`).
    */
  def consecutiveCombinations(order: Vector[String], maxGroups: Int): Vector[Vector[Vector[String]]] = {
    val out = Vector.newBuilder[Vector[Vector[String]]]
    def rec(current: Vector[Vector[String]], nextIndex: Int, remaining: Int): Unit = {
      var produced = false
      var size = 1
      while (size <= order.length) {
        val ni = nextIndex + size
        if (ni < order.length + 1 && (remaining > 1 || ni == order.length)) {
          produced = true
          rec(current :+ order.slice(nextIndex, ni), ni, remaining - 1)
        }
        size += 1
      }
      if (!produced && current.length > 1 && current.length <= maxGroups) out += current
    }
    rec(Vector.empty, 0, maxGroups)
    out.result()
  }

  /** NaN-placement variants in the reference's exact enumeration order
    * (`combinations.py:nan_combinations`).
    */
  def nanCombinations(nonNanLabels: Vector[String], maxNMod: Int, nanLabel: String): Vector[Vector[Vector[String]]] = {
    val out = Vector.newBuilder[Vector[Vector[String]]]
    consecutiveCombinations(nonNanLabels, maxNMod).foreach { combo =>
      combo.indices.foreach { n => out += combo.updated(n, combo(n) :+ nanLabel) }
      if (combo.length < maxNMod) out += (combo :+ Vector(nanLabel))
    }
    out += Vector(nonNanLabels, Vector(nanLabel))
    out.result()
  }

  // ------------------------------------------------------------- search

  /** Per-group viability rows from the ordinal rate. */
  def orateRows(x: KXagg, rate: ORate): Vector[Search.RateRow] = {
    val total = x.nObs
    val rs = rate.compute(x)
    x.labels.indices.map { i =>
      val c = x.rowTotal(i)
      Search.RateRow(x.labels(i), rs(i), c / total, c)
    }.toVector
  }

  /** The ordinal family's [[Search.Measure]]: the top-K C−D DP, tau-b /
    * tau-c / Somers' D, the fitted ordinal `rate`; the NaN phase
    * enumerates every placement. The DP reads only the K-crosstab, never
    * the target scale (ridit vs level), so fits that differ only in the
    * rate share its results through the evaluator's memo for features
    * whose modality order does not depend on the scale (quantitative).
    */
  final case class TauMeasure(rate: ORate, sortBy: String) extends Search.Measure[KXagg, OCand] {
    def name: String = sortBy
    def rates(x: KXagg): Vector[Search.RateRow] = orateRows(x, rate)
    def topK(x: KXagg, labels: Vector[String], ev: Search.Evaluator): Int => Vector[OCand] = {
      val (mm, nPerMod) = alignMatrix(x, labels)
      val colSums = x.colSums
      k => ev.memoized(("ordinal", mm.map(_.toSeq).toSeq, nPerMod.toSeq, colSums.toSeq, ev.maxNMod, labels, sortBy, k))(
        topKPartitionsOrdinalDp(mm, nPerMod, colSums, ev.maxNMod, labels, sortBy, k))
    }
    def score(x: KXagg): Vector[Vector[String]] => OCand =
      combo => OCand(combo, ordinalAssociations(x.grouped(Search.index(combo)).m))
    def combination(c: OCand): Vector[Vector[String]] = c.combination
    def metric(c: OCand): Double = c.metrics.metric(sortBy)
    def fields(c: OCand): (Double, Double, String, Double) = (Double.NaN, Double.NaN, sortBy, metric(c))
    override def exhaustiveNan: Boolean = true
  }

  /** Matrix + row totals aligned to an explicit label order (absent → 0). */
  private[carve] def alignMatrix(x: KXagg, order: Vector[String]): (Array[Array[Double]], Array[Double]) = {
    val pos = x.labels.zipWithIndex.toMap
    val mm = Array.fill(order.length, x.levels.length)(0.0)
    val n = new Array[Double](order.length)
    var i = 0
    while (i < order.length) {
      pos.get(order(i)).foreach { p =>
        var j = 0
        while (j < x.levels.length) { mm(i)(j) = x.m(p)(j); j += 1 }
        n(i) = x.rowTotal(p)
      }
      i += 1
    }
    (mm, n)
  }
}
