package graft.carve

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.carve.BinaryCarver.{FeatureSpec, HistRow, Layout, NanLabel, OtherLabel, decodeNestedSv}
import graft.carve.OrdinalCarver.KHistRow

/** Driver-side pre-binning (SURVEY.md §2.3), operating on collected
  * per-value aggregates — the cluster only ever ships the [[Crosstab]]
  * stage, never rows.
  *
  * [[prep]] is the one per-kind prep of every carver family: quantile
  * prebins with the rare-prebin merge (quantitative), rare values to
  * `__OTHER__` plus the target order (categorical), the declared order
  * with its rare-value merge (ordinal), and the nested rollup. The family
  * enters only through its [[TargetView]]: how a crosstab row accumulates,
  * the rare-merge rate, the categorical order and the xagg it searches.
  * [[project]] maps a validation view (dev or fold) onto a prep's labels,
  * and [[fitEach]] runs the per-feature searches.
  */
object Prebin {

  // ------------------------------------------------------- target views

  /** One carver family's target as the prep sees it. Every label gets an
    * accumulator of `2 + cells` doubles — row count, merge target sum, then
    * one count per target key (none for a summed target). Rows add in the
    * order the prep meets them, which fixes every non-integer sum.
    */
  abstract class TargetView[R <: Crosstab.Cell, X](val cells: Int) {
    /** One row's share of its label's target sum in a `kind` feature —
      * what the default rare-merge rate, categorical order and the nested
      * rollup's sort read.
      */
    def targetSum(r: R, kind: String): Double
    /** Target-key slot of a row (keyed targets only). */
    def cell(r: R): Int = 0
    /** False for a validation row whose target key the train never saw. */
    def accepts(r: R): Boolean = true
    /** Rare-merge target sums of ordered labels (quantitative prebins,
      * declared ordinal values) from their pre-merge accumulators.
      */
    def mergeSums(accs: Array[Array[Double]]): Array[Double] = accs.map(_(1))
    /** Categorical modality order: the [[targetRateOrder]] of the sums. */
    def order(accs: collection.Map[String, Array[Double]]): Vector[String] =
      targetRateOrder(accs.map { case (l, a) => l -> ((a(0), a(1))) }.toMap)
    /** The searched crosstab over `labels` from their accumulators. */
    def xagg(labels: Vector[String], accs: Seq[Array[Double]]): X

    private[carve] def acc(): Array[Double] = new Array[Double](2 + cells)
    private[carve] def add(a: Array[Double], r: R, kind: String): Unit = {
      a(0) += r.count
      a(1) += targetSum(r, kind)
      if (cells > 0) a(2 + cell(r)) += r.count
    }
  }

  /** The summed target (binary, continuous): `(count, Σy)` per label, the
    * merge rate and the categorical order from the mean y.
    */
  object Summed extends TargetView[HistRow, Search.Xagg](0) {
    def targetSum(r: HistRow, kind: String): Double = r.sumY
    def xagg(labels: Vector[String], accs: Seq[Array[Double]]): Search.Xagg =
      Search.Xagg(labels, accs.map(a => a(0) - a(1)).toArray, accs.map(_(1)).toArray)
  }

  /** A keyed target (ordinal levels, multiclass class indices): K counts
    * per label, searched as the K-column crosstab. The family supplies the
    * merge target sum and, if it differs, the merge rate and order.
    */
  abstract class Keyed(levels: Vector[Double]) extends TargetView[KHistRow, Ordinal.KXagg](levels.length) {
    private val levelIdx = levels.zipWithIndex.toMap
    override def cell(r: KHistRow): Int = levelIdx(r.level)
    override def accepts(r: KHistRow): Boolean = levelIdx.contains(r.level)
    def xagg(labels: Vector[String], accs: Seq[Array[Double]]): Ordinal.KXagg =
      Ordinal.KXagg(labels, levels, accs.map(_.drop(2)).toArray)
  }

  // ------------------------------------------------------------ the prep

  /** Search-ready feature state: the bin layout plus the train xagg (NaN
    * row last when present).
    */
  final case class Prep[X](layout: Layout, xagg: X)

  /** The prep of every feature of a fit, after the guard on the collected
    * histogram's size.
    */
  def prepAll[R <: Crosstab.Cell, X](specs: Seq[FeatureSpec], hist: Map[String, Array[R]],
      view: TargetView[R, X], minFreq: Double, alpha: Double, rescue: Boolean,
      maxHistogramRows: Long): Map[String, Prep[X]] = {
    val histRows = hist.values.map(_.length.toLong).sum
    require(histRows <= maxHistogramRows,
      s"histogram too large ($histRows rows) — use the sketch prebin path for high-cardinality columns")
    specs.map(s => s.name -> prep(s, hist(s.name), view, minFreq, alpha, rescue)).toMap
  }

  /** Driver prep of one feature from its train crosstab rows, at half the
    * fit's `minFreq` (the reference's discretizers run at `min_freq / 2`):
    *
    *  - quantitative: [[findQuantiles]] prebins over the dv-sorted rows,
    *    rare prebins merged by [[findCommonModalities]];
    *  - categorical: the [[frequencyGate]], [[rareCategoricals]] pooled
    *    into `__OTHER__`, modalities in the view's order;
    *  - ordinal: the USER's declared order (never target-sorted;
    *    declared-but-unseen values take part with count 0, observed
    *    undeclared ones raise), rare values merged only with a declared
    *    neighbour (`ordinal_discretizer.py:94-187`);
    *  - nested: the level-by-level rollup ([[Nested.rollupCore]]; the
    *    reference runs NestedDiscretizer first inside fit,
    *    `qualitative_discretizer.py:82-84`), then categorical-like over the
    *    surviving buckets. No frequency gate — nested modalities are
    *    legitimately rare before the rollup — and always a default bucket,
    *    so unseen values have a fallback at transform time.
    */
  def prep[R <: Crosstab.Cell, X](spec: FeatureSpec, hist: Array[R], view: TargetView[R, X],
      minFreq: Double, alpha: Double, rescue: Boolean): Prep[X] = {
    val half = minFreq / 2.0
    val kind = spec.kind
    val total = hist.map(_.count).sum
    val (nonNull, nulls) = hist.partition(!_.isNull)
    val nan = view.acc()
    nulls.foreach(view.add(nan, _, kind))
    val hasNan = nan(0) > 0
    // per-value counts, and the frequency sanity gate over them (NaN
    // counted as one more value)
    lazy val counts: Map[String, Double] = nonNull.groupMapReduce(_.sv)(_.count.toDouble)(_ + _)
    def gate(): Unit =
      frequencyGate(counts.values ++ Option.when(nulls.nonEmpty)(nan(0)), total, half, rescue, kind)
    // rare-label merge of ordered labels; the merged accumulators in group order
    def merged(labels: Vector[String], accs: Array[Array[Double]]): (Vector[Vector[String]], Vector[Array[Double]]) = {
      val hasRare = accs.exists(a => Stats.isSignificantlyBelow(a(0), total, half, alpha))
      val groups =
        if (hasRare) findCommonModalities(labels, accs.map(_(0)), view.mergeSums(accs), total, half, alpha)
        else labels.map(Vector(_))
      val pos = labels.zipWithIndex.toMap
      (groups, groups.map { g =>
        val s = view.acc()
        g.foreach { l => val a = accs(pos(l)); var j = 0; while (j < s.length) { s(j) += a(j); j += 1 } }
        s
      })
    }
    def done(layout: Layout, accs: Seq[Array[Double]]): Prep[X] =
      Prep(layout, view.xagg(layout.labels, if (hasNan) accs :+ nan else accs))

    kind match {
      case "quantitative" =>
        val rows = nonNull.sortBy(_.dv)
        val byVal = mutable.TreeMap.empty[Double, Long]
        rows.foreach(r => byVal(r.dv) = byVal.getOrElse(r.dv, 0L) + r.count)
        val edges = findQuantiles(byVal.keys.toArray, byVal.values.toArray, total, math.rint(1.0 / half).toInt)
        val labels = Vector.tabulate(edges.length + 1)(i => f"m$i%04d")
        val accs = labels.map(_ => view.acc()).toArray
        rows.foreach(r => view.add(accs(BinaryCarver.searchsortedLeft(edges, r.dv)), r, kind))
        val (groups, gAccs) = merged(labels, accs)
        val leaderOf = groups.flatMap(g => g.map(_ -> g.head)).toMap
        done(Layout(kind, edges, labels.map(leaderOf), Map.empty, groups.map(_.head), hasNan,
          hasDefault = false), gAccs)
      case "categorical" =>
        gate()
        val rare = rareCategoricals(counts, total, half, alpha, NanLabel).toSet
        val valueToRaw = nonNull.map(r => r.sv -> (if (rare(r.sv)) OtherLabel else r.sv)).toMap
        val accs = mutable.LinkedHashMap.empty[String, Array[Double]]
        nonNull.foreach(r => view.add(accs.getOrElseUpdate(valueToRaw(r.sv), view.acc()), r, kind))
        val order = view.order(accs)
        done(Layout(kind, Vector.empty, Vector.empty, valueToRaw, order, hasNan, hasDefault = rare.nonEmpty),
          order.map(accs))
      case "ordinal" =>
        val declared = spec.ordinalOrder.toVector
        require(declared.nonEmpty, "[ordinal] declared value order is empty")
        require(!declared.contains(NanLabel),
          s"[ordinal] ordering for '$NanLabel' can't be set by user, only fitted on data")
        val repeated = declared.diff(declared.distinct).distinct
        require(repeated.isEmpty, s"[ordinal] declared value order repeats ${repeated.mkString(", ")}")
        gate()
        val undeclared = counts.keys.filterNot(declared.contains).toSeq.sorted
        require(undeclared.isEmpty,
          s"[ordinal] observed values not in the declared order: ${undeclared.mkString(", ")}")
        val pos = declared.zipWithIndex.toMap
        val accs = declared.map(_ => view.acc()).toArray
        nonNull.foreach(r => view.add(accs(pos(r.sv)), r, kind))
        val (groups, gAccs) = merged(declared, accs)
        val leaderOf = groups.flatMap(g => g.map(_ -> g.head)).toMap
        done(Layout(kind, Vector.empty, Vector.empty, counts.keys.map(v => v -> leaderOf(v)).toMap,
          groups.map(_.head), hasNan, hasDefault = false, members = groups.map(g => g.head -> g).toMap), gAccs)
      case "nested" =>
        val columns = spec.name +: spec.parents
        val levels = nonNull.map(r => decodeNestedSv(r.sv, columns.length))
        val res = Nested.rollupCore(columns,
          nonNull.indices.map(i => Nested.Tup(levels(i), nonNull(i).count, view.targetSum(nonNull(i), kind))),
          total, half, alpha, sortByTarget = true)
        val accs = res.order.map(_ -> view.acc()).toMap
        nonNull.indices.foreach(i => view.add(accs(res.rawToBucket(levels(i).head)), nonNull(i), kind))
        // bin labels list every rolled-up finest member after the bucket
        // leader (the reference's GroupedList content after
        // order.group(raw, bucket))
        val members = res.order.map { b =>
          b -> (b +: res.rawToBucket.collect { case (v, bb) if bb == b && v != b => v }.toVector.sorted)
        }.toMap
        done(Layout(kind, Vector.empty, Vector.empty, res.rawToBucket, res.order, hasNan,
          hasDefault = true, members = members), res.order.map(accs))
      case other => throw new IllegalArgumentException(
        s"feature '${spec.name}': unknown kind '$other' (quantitative | categorical | ordinal | nested)")
    }
  }

  /** A validation view (dev or fold crosstab) in a prep's label space: the
    * train labels first, then any label only the view has. None when the
    * view has no label at all.
    */
  def project[R <: Crosstab.Cell, X](spec: FeatureSpec, p: Prep[X], hist: Map[String, Array[R]],
      view: TargetView[R, X]): Option[X] = {
    val accs = mutable.LinkedHashMap.empty[String, Array[Double]]
    p.layout.labels.foreach(l => accs(l) = view.acc())
    hist.get(spec.name).foreach(_.foreach { r =>
      val label = p.layout.labelOf(spec, r.dv, r.sv, r.isNull)
      if (label != null && view.accepts(r)) view.add(accs.getOrElseUpdate(label, view.acc()), r, spec.kind)
    })
    Option.when(accs.nonEmpty)(view.xagg(accs.keysIterator.toVector, accs.valuesIterator.toVector))
  }

  /** Runs `f` for every feature concurrently and returns the results in
    * spec order: features are independent once prepped (the reference uses
    * a process pool here; JVM threads suffice).
    */
  def perFeature[T](specs: Seq[FeatureSpec])(f: FeatureSpec => T): Vector[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(specs.toVector)(s => Future(f(s))), Duration.Inf)
  }

  /** [[perFeature]] over prepped features, handing each search its prep
    * and its validation views projected by [[project]].
    */
  def fitEach[R <: Crosstab.Cell, X, T](specs: Seq[FeatureSpec], prep: Map[String, Prep[X]],
      view: TargetView[R, X], dev: Option[Map[String, Array[R]]], folds: Seq[Map[String, Array[R]]])(
      search: (FeatureSpec, Prep[X], Option[X], Seq[X]) => T): Vector[T] =
    perFeature(specs) { spec =>
      val p = prep(spec.name)
      search(spec, p, dev.flatMap(project(spec, p, _, view)), folds.flatMap(project(spec, p, _, view)))
    }

  /** Frequency-aware quantile finder — exact port of the reference's
    * single-sort algorithm (`discretizers/quantitatives/
    * continuous_discretizer.py:88-156`) re-expressed over a value-count
    * histogram (sorted unique values + counts), which is what a distributed
    * `groupBy(value).count()` yields:
    *
    *  - values with count >= N/q become their own modalities;
    *  - each run between frequent values is quantile-cut with
    *    `new_q = round(seg_len/N*q)` lower-method quantiles
    *    (`sorted[floor(p*(N-1))]` within the segment);
    *  - segments too small for 2 quantiles contribute their max;
    *  - NaNs are excluded from the histogram but count in N.
    *
    * @param uniqueSorted ascending distinct non-NaN values
    * @param counts       per-value counts, aligned
    * @param totalLen     total rows INCLUDING NaNs
    * @param q            quantile count = round(1/min_freq)
    * @return ascending quantile edges (deduplicated), without the +inf cap
    */
  def findQuantiles(
      uniqueSorted: Array[Double],
      counts: Array[Long],
      totalLen: Long,
      q: Int
  ): Vector[Double] = {
    val nVals = counts.sum
    if (nVals == 0) return Vector.empty
    val threshold = totalLen.toDouble / q
    val isFrequent = counts.map(_ >= threshold)

    // cumulative counts → (start, end) index in the implicit sorted array
    val cum = counts.scanLeft(0L)(_ + _) // length n+1; cum(i)..cum(i+1) = run of value i

    // order statistic lookup within [lo, hi) of the implicit sorted values
    def valueAt(sortedIdx: Long): Double = {
      // first unique index whose cumulative end exceeds sortedIdx
      var lo = 0
      var hi = uniqueSorted.length - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cum(mid + 1) > sortedIdx) hi = mid else lo = mid + 1
      }
      uniqueSorted(lo)
    }

    val freqIdx = isFrequent.zipWithIndex.collect { case (true, i) => i }
    val segmentBounds = mutable.ArrayBuffer.empty[(Long, Long)]
    if (freqIdx.isEmpty) segmentBounds += ((0L, nVals))
    else {
      segmentBounds += ((0L, cum(freqIdx(0))))
      var i = 0
      while (i < freqIdx.length - 1) {
        segmentBounds += ((cum(freqIdx(i) + 1), cum(freqIdx(i + 1))))
        i += 1
      }
      segmentBounds += ((cum(freqIdx.last + 1), nVals))
    }

    val quantiles = mutable.ArrayBuffer.empty[Double]
    segmentBounds.foreach { case (lo, hi) =>
      val segLen = hi - lo
      if (segLen > 0) {
        val newQ = math.rint(segLen.toDouble / totalLen * q).toInt
        if (newQ < 2) {
          quantiles += valueAt(hi - 1) // fallback to segment max
        } else {
          // probs = linspace(0,1,newQ+1)[1:-1]
          var p = 1
          while (p < newQ) {
            val prob = p.toDouble / newQ
            val idx = lo + math.floor(prob * (segLen - 1)).toLong
            quantiles += valueAt(idx)
            p += 1
          }
        }
      }
    }
    freqIdx.foreach(i => quantiles += uniqueSorted(i))
    quantiles.sorted.distinct.toVector
  }

  /** Greedy rare-modality merge for ordered modalities — exact port of
    * `discretizers/qualitatives/ordinal_discretizer.py:94-251`
    * (`find_common_modalities` + `find_closest_modality` tie-breaks).
    *
    * @param labels ordered modality labels
    * @param counts per-modality counts (same order)
    * @param sumY   per-modality target sums
    * @param totalLen  total rows (including NaNs / other modalities)
    * @return groups: partition of `labels` into consecutive groups; each
    *         group's leader is the kept (merge-target) label
    */
  def findCommonModalities(
      labels: Vector[String],
      counts: Array[Double],
      sumY: Array[Double],
      totalLen: Long,
      minFreq: Double,
      alpha: Double
  ): Vector[Vector[String]] = {
    if (totalLen == 0 || labels.isEmpty) return labels.map(Vector(_))
    // mutable working state: parallel arrays + group membership
    var curLabels = labels
    var freq = counts.clone()
    var rate = sumY.clone()
    val members = mutable.LinkedHashMap.empty[String, Vector[String]]
    labels.foreach(l => members(l) = Vector(l))

    def underrepresented: Boolean =
      freq.exists(c => Stats.isSignificantlyBelow(c, totalLen, minFreq, alpha))

    while (underrepresented && freq.length > 1) {
      // first (lowest-count) underrepresented value = global argmin of counts
      val discarded = freq.zipWithIndex.minBy(_._1)._2
      val frequencies = freq.map(_ / totalLen)
      val rates = freq.indices.map(i => rate(i) / freq(i)).toArray
      val kept = findClosestModality(discarded, frequencies, rates, minFreq)
      // group: discarded merges INTO kept (kept is the leader)
      val keptLabel = curLabels(kept)
      val discardedLabel = curLabels(discarded)
      members(keptLabel) = members(keptLabel) ++ members(discardedLabel)
      members.remove(discardedLabel)
      // stats update: nan-safe add then drop discarded slot
      freq(kept) += (if (freq(discarded).isNaN) 0.0 else freq(discarded))
      rate(kept) += (if (rate(discarded).isNaN) 0.0 else rate(discarded))
      freq = freq.patch(discarded, Nil, 1)
      rate = rate.patch(discarded, Nil, 1)
      curLabels = curLabels.patch(discarded, Nil, 1)
    }
    // groups in surviving-order; members of each group sorted by original order
    val orderIdx = labels.zipWithIndex.toMap
    curLabels.map(l => members(l).sortBy(orderIdx)).toVector
  }

  /** `ordinal_discretizer.py:find_closest_modality` tie-break cascade. */
  def findClosestModality(idx: Int, frequencies: Array[Double], rates: Array[Double], minFreq: Double): Int = {
    if (frequencies.length == 1) return 0
    if (idx == 0) return 1
    if (idx == frequencies.length - 1) return idx - 1
    if (isNextModalityCloser(idx, frequencies, rates, minFreq)) idx + 1 else idx - 1
  }

  private def isNextModalityCloser(idx: Int, freq: Array[Double], rates: Array[Double], minFreq: Double): Boolean = {
    val prevF = freq(idx - 1); val curF = freq(idx); val nextF = freq(idx + 1)
    val bothBelow = nextF < minFreq && prevF < minFreq
    val bothAbove = nextF >= minFreq && prevF >= minFreq
    if (curF == 0) return nextF < prevF
    if (nextF < minFreq && minFreq <= prevF) return true
    if (bothBelow || bothAbove)
      return math.abs(rates(idx - 1) - rates(idx)) > math.abs(rates(idx + 1) - rates(idx))
    false
  }

  /** Frequency sanity gate (`nested_discretizer.py:check_frequencies`, P7):
    * a feature whose mode is more frequent than `1 - minFreq` (NaN counts as
    * a modality) or whose most frequent value is below `minFreq` cannot be
    * discretized — raise, unless `rescue` keeps it for the carver's
    * last-chance min_freq-waived search (C13).
    */
  def frequencyGate(perValueCounts: Iterable[Double], total: Long, minFreq: Double,
      rescue: Boolean, featureName: String): Unit = {
    if (perValueCounts.isEmpty || total == 0) return
    val maxFreq = perValueCounts.max / total
    val (tooCommon, nonCommon) = gateStatus(maxFreq, minFreq)
    if ((tooCommon || nonCommon) && !rescue)
      throw new IllegalArgumentException(
        f"[frequencyGate] feature $featureName%s: most frequent value has freq=$maxFreq%2.2f " +
          f"outside [$minFreq%2.4f, ${1 - minFreq}%2.4f]. Decrease min_freq, drop the feature, " +
          "or set rescue=true to keep it for the min_freq-waived search.")
  }

  /** The gate's pure decision (shared with the q_freq_gate oracle):
    * (tooCommon, nonCommon) for a mode frequency against min_freq.
    */
  def gateStatus(maxFreq: Double, minFreq: Double): (Boolean, Boolean) =
    (maxFreq > 1 - minFreq, maxFreq < minFreq)

  /** Categorical rare-modality grouping (`categorical_discretizer.py:82-132`):
    * values Wilson-significantly below minFreq (excluding the NaN label) go
    * to the default bucket. Returns (valuesToGroup, hasDefault).
    */
  def rareCategoricals(
      valueCounts: Map[String, Double],
      nobs: Long,
      minFreq: Double,
      alpha: Double,
      nanLabel: String
  ): Vector[String] =
    valueCounts.collect {
      case (v, c) if v != nanLabel && Stats.isSignificantlyBelow(c, nobs, minFreq, alpha) => v
    }.toVector.sorted

  /** Target-rate ordering of categorical modalities
    * (`categorical_discretizer.py:series_target_rate`): mean(y) ascending,
    * ties broken by label (sort_index then stable sort_values).
    */
  def targetRateOrder(stats: Map[String, (Double, Double)]): Vector[String] =
    stats.toVector
      .sortBy(_._1) // sort_index
      .sortBy { case (_, (count, sy)) => sy / count } // stable: preserves label order on ties
      .map(_._1)
}
