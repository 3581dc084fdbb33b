package graft.carve

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

import graft.carve.BinaryCarver.{FeatureSpec, FittedFeature, Layout, NanLabel, OtherLabel, assembleFitted}

/** Supervised optimal discretization against an ORDINAL target (integer
  * encoded, ordered levels, K > 2) — the Spark-native re-expression of the
  * reference's OrdinalCarver (`carvers/ordinal_carver.py`).
  *
  * Cluster/driver split mirrors BinaryCarver: ONE pass over the train table
  * — the [[Crosstab]] stage keyed by the target level,
  * `groupBy(feature, value, y_level).count()` — collects the per-value
  * K-column crosstabs (bounded by cardinality × levels). All
  * carving (quantile prebin, rare merge, ridit scale, C−D interval DP with
  * tau-b/tau-c/Somers' D, viability vetoes) runs driver-side on those
  * aggregates. Transform is the same pure projection as the binary model.
  */
object OrdinalCarver {

  final case class Config(
      minFreq: Double = 0.02,
      maxNMod: Int = 5,
      sortBy: String = "tau_c", // tau_c (default) | tau_b | somersd
      targetScale: String = "ridit", // ridit | level
      levelValues: Option[Map[Double, Double]] = None,
      minFreqAlpha: Double = 0.05,
      topKInitial: Int = 2000,
      escalate: Boolean = false,
      maxHistogramRows: Long = 5000000L,
      cv: Int = 0,
      foldCol: String = null,
      rescue: Boolean = false,
      sketchCardinalityThreshold: Long = 2000000L,
      sketchRelativeError: Double = 0.0001,
      history: Boolean = true
  ) {
    require(maxNMod >= 2, s"max_n_mod must be >= 2, got $maxNMod")
    // sklearn check_cv raises for a single split; 0 disables CV here
    require(cv == 0 || cv >= 2, s"cv=1 is not enough splits for k-fold cross-validation; use cv >= 2 (or 0 to disable), got $cv")
  }

  final case class OFitted(feature: FittedFeature, tauB: Double, tauC: Double, somersd: Double,
      // fitted target-rate reference (ridit marginal snapshot / level map) —
      // the reference's `rate_reference`, needed to recompute comparable
      // rates on a new sample at stability time (M4)
      rateRef: Ordinal.ORate = null)

  final case class Model(
      target: String,
      minFreq: Double,
      maxNMod: Int,
      sortBy: String,
      levels: Vector[Double],
      features: Vector[OFitted]
  ) {
    def kept: Vector[OFitted] = features.filterNot(_.feature.dropped)
    /** Structural view shared with the binary machinery: powers transform
      * and the stability monitor (PSI/chi² over bin distributions applies
      * to any fitted bin structure).
      */
    def binaryView: BinaryCarver.Model = BinaryCarver.Model(target, minFreq, maxNMod, sortBy, features.map(_.feature))
    def transform(df: DataFrame, keepOriginal: Boolean = false): DataFrame =
      binaryView.transform(df, keepOriginal)
    def transformLabels(df: DataFrame): DataFrame = binaryView.transformLabels(df)
  }

  /** One K-histogram row — the keyed projection of the [[Crosstab]]
    * stage: raw value (numeric or string; null = NaN bucket), target level
    * (or class index), count.
    */
  final case class KHistRow(dv: Double, sv: String, isNull: Boolean, level: Double, count: Long)

  def fit(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame] = None,
      config: Config = Config()
  ): Model = {
    val guarded = BinaryCarver.guardTarget(target, specs)
    if (guarded.length != specs.length) return fit(train, target, guarded, dev, config)
    val (trainHist, foldHists, sketched) = histStage(train, target, guarded, config)
    val devHist = dev.map(d =>
      Crosstab.stage(d, target, guarded, sketched, Crosstab.Level, None)(Crosstab.keyed).total)
    fitFromHistograms(trainHist, devHist, target, guarded, config, foldHists)
  }

  /** The cluster passes of a fit (validation, sketch, K-histogram ±folds) —
    * independent of the target scale / sort measure, so a caller fitting
    * several search configs over the SAME (train, specs) computes them once
    * and calls [[fitFromHistograms]] per config (guide §1.2). Returns
    * (train K-histogram, fold K-histograms, sketched edges).
    */
  def histStage(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      config: Config
  ): (Map[String, Array[KHistRow]], Seq[Map[String, Array[KHistRow]]], Map[String, Vector[Double]]) = {
    BinaryCarver.validateInputs(train, target, specs)
    // reference OrdinalCarver._prepare_samples: non-numeric y is a typed
    // error up front (the ANSI cast in the histogram would throw a raw
    // CAST_INVALID_INPUT otherwise)
    require(train.schema(target).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"[OrdinalCarver] y ('$target') must be an integer-encoded numeric ordinal Series; " +
        s"got ${train.schema(target).dataType.simpleString} — integer-encode the ordered target (e.g. 1..K) first")
    val sketched = BinaryCarver.sketchHighCardinality(train, specs,
      BinaryCarver.Config(minFreq = config.minFreq,
        sketchCardinalityThreshold = config.sketchCardinalityThreshold,
        sketchRelativeError = config.sketchRelativeError))
    val hist = Crosstab.stage(train, target, specs, sketched, Crosstab.Level,
      Crosstab.folds(config.cv, config.foldCol))(Crosstab.keyed)
    (hist.total, hist.folds, sketched)
  }

  def fitFromHistograms(
      trainHist: Map[String, Array[KHistRow]],
      devHist: Option[Map[String, Array[KHistRow]]],
      target: String,
      specs: Seq[FeatureSpec],
      config: Config = Config(),
      foldHists: Seq[Map[String, Array[KHistRow]]] = Nil,
      // optional cross-config DP candidate memo: fits sharing a histogram
      // but differing in targetScale (ridit vs level) re-run byte-identical
      // C−D DPs for scale-independent modality orders (quantitative specs);
      // pass one Dp.CandMemo across those fits to share the candidates
      dpMemo: Dp.CandMemo = null
  ): Model = {
    require(specs.nonEmpty, "no features to carve")
    // reference OrdinalCarver._prepare_samples: >2 integer-encoded levels
    val yLevels = trainHist.values.iterator.flatMap(_.iterator.map(_.level)).toSet
    require(yLevels.size > 2,
      s"[OrdinalCarver] provided y has ${yLevels.size} levels, consider using BinaryCarver instead")
    require(yLevels.forall(l => l == math.rint(l)),
      "[OrdinalCarver] y must be integer-encoded ordered levels (e.g. 1..K); got non-integer values")
    val histRows = trainHist.values.map(_.length.toLong).sum
    require(histRows <= config.maxHistogramRows,
      s"histogram too large ($histRows rows) — use the sketch prebin path for high-cardinality columns")

    // global y marginal (all rows of the first feature, NaN bucket included)
    val yCounts = mutable.Map.empty[Double, Long]
    trainHist(specs.head.name).foreach(r => yCounts(r.level) = yCounts.getOrElse(r.level, 0L) + r.count)
    val levels = yCounts.keys.toVector.sorted
    // y validation (`ordinal_carver.py:119-125`)
    require(levels.length > 2,
      s"[OrdinalCarver] y has ${levels.length} levels; use BinaryCarver for <=2")
    require(levels.forall(l => l == math.rint(l)),
      "[OrdinalCarver] y must be integer-encoded ordered levels")
    config.levelValues.foreach { lv =>
      val missing = levels.filterNot(lv.contains)
      require(missing.isEmpty, s"[OrdinalCarver] y levels $missing missing from levelValues")
    }

    // modality pre-sort scale (`ordinal_carver.py:127-139`): train ridits,
    // or the user's level values
    val yLevelScores: Map[Double, Double] = config.levelValues.getOrElse {
      if (config.targetScale == "level") levels.map(l => l -> l).toMap
      else Ordinal.riditsFromCounts(levels.toArray, levels.map(l => yCounts(l).toDouble).toArray)
    }

    val halfMinFreq = config.minFreq / 2.0
    val q = math.rint(1.0 / halfMinFreq).toInt
    def totalOf(name: String): Long = trainHist(name).map(_.count).sum

    val prep: Map[String, KPrep] = specs.map { s =>
      s.name -> (s.kind match {
        case "quantitative" =>
          prepQuantitativeK(trainHist(s.name), totalOf(s.name), levels, q, halfMinFreq, config)
        case "ordinal" =>
          prepOrdinalK(trainHist(s.name), totalOf(s.name), levels, s.ordinalOrder,
            yLevelScores, halfMinFreq, config)
        case "nested" =>
          prepNestedK(s, trainHist(s.name), totalOf(s.name), levels, yLevelScores, halfMinFreq, config)
        case _ =>
          prepCategoricalK(trainHist(s.name), totalOf(s.name), levels, yLevelScores, halfMinFreq, config)
      })
    }.toMap

    val rate0: Ordinal.ORate =
      if (config.targetScale == "ridit" && config.levelValues.isEmpty) Ordinal.TargetMeanRidit(null, null)
      else Ordinal.TargetMeanLevel(config.levelValues)

    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fitted = Await.result(
      Future.traverse(specs.toVector) { spec =>
        Future {
          val p = prep(spec.name)
          val devX = devHist.map(h => devKXaggOf(spec, p, h.getOrElse(spec.name, Array.empty), levels))
          val foldXs = foldHists.map(h => devKXaggOf(spec, p, h.getOrElse(spec.name, Array.empty), levels))
            .filter(_.labels.nonEmpty)
          searchFeatureK(spec, p, devX.filter(_.labels.nonEmpty), rate0, config, foldXs, dpMemo)
        }
      },
      Duration.Inf
    )
    Model(target, config.minFreq, config.maxNMod, config.sortBy, levels, fitted)
  }

  /** Search-ready per-feature state (K-column analogue of BinaryCarver.Prep). */
  final case class KPrep(layout: Layout, xagg: Ordinal.KXagg)

  /** Declared-ordinal feature prep against a K-level target: declared
    * order preserved, rare values merged with declared neighbours using
    * the numeric level sum as the merge rate (`ordinal_discretizer.py:
    * compute_stats` — an integer-encoded ordinal target has a mean).
    */
  private[carve] def prepOrdinalK(
      hist: Array[KHistRow], total: Long, levels: Vector[Double], declared: Seq[String],
      yLevelScores: Map[Double, Double], halfMinFreq: Double, config: Config
  ): KPrep = {
    require(declared.nonEmpty, "[ordinal] declared value order is empty")
    require(!declared.contains(NanLabel),
      s"[ordinal] ordering for '$NanLabel' can't be set by user, only fitted on data")
    val levelIdx = levels.zipWithIndex.toMap
    val nonNull = hist.filterNot(_.isNull)
    val nanRows = hist.filter(_.isNull)
    locally {
      val perValue = mutable.Map.empty[String, Double]
      hist.foreach(r => perValue(if (r.isNull) null else r.sv) =
        perValue.getOrElse(if (r.isNull) null else r.sv, 0.0) + r.count)
      Prebin.frequencyGate(perValue.values, total, halfMinFreq, config.rescue, "ordinal")
    }
    val undeclared = nonNull.map(_.sv).distinct.filterNot(declared.contains).sorted
    require(undeclared.isEmpty,
      s"[ordinal] observed values not in the declared order: ${undeclared.mkString(", ")}")
    val labels = declared.toVector
    val pos = labels.zipWithIndex.toMap
    val mat = Array.fill(labels.length, levels.length)(0.0)
    val cnt = new Array[Double](labels.length)
    val sy = new Array[Double](labels.length)
    nonNull.foreach { r =>
      val i = pos(r.sv)
      mat(i)(levelIdx(r.level)) += r.count
      cnt(i) += r.count
      sy(i) += r.count * yLevelScores(r.level)
    }
    val hasRare = cnt.exists(c => Stats.isSignificantlyBelow(c, total, halfMinFreq, config.minFreqAlpha))
    val groups =
      if (hasRare) Prebin.findCommonModalities(labels, cnt, sy, total, halfMinFreq, config.minFreqAlpha)
      else labels.map(Vector(_))
    val leaderOf = groups.flatMap(g => g.map(_ -> g.head)).toMap
    val valueToRaw = nonNull.map(r => r.sv -> leaderOf(r.sv)).toMap
    val order = groups.map(_.head)
    val gMat = groups.map { g =>
      val row = new Array[Double](levels.length)
      g.foreach { l => val p = pos(l); var j = 0; while (j < row.length) { row(j) += mat(p)(j); j += 1 } }
      row
    }.toArray
    val hasNan = nanRows.nonEmpty
    val nanRow = {
      val row = new Array[Double](levels.length)
      nanRows.foreach(r => row(levelIdx(r.level)) += r.count)
      row
    }
    val xLabels = if (hasNan) order :+ NanLabel else order
    val m = if (hasNan) gMat :+ nanRow else gMat
    KPrep(Layout("ordinal", Vector.empty, Vector.empty, valueToRaw, order, hasNan, hasDefault = false,
      members = groups.map(g => g.head -> g).toMap), Ordinal.KXagg(xLabels, levels, m))
  }

  private[carve] def prepQuantitativeK(
      hist: Array[KHistRow], total: Long, levels: Vector[Double],
      q: Int, halfMinFreq: Double, config: Config
  ): KPrep = {
    val levelIdx = levels.zipWithIndex.toMap
    val nonNull = hist.filterNot(_.isNull)
    val nanRows = hist.filter(_.isNull)
    // value histogram (counts summed over levels) for the quantile finder
    val byVal = mutable.TreeMap.empty[Double, Long]
    nonNull.foreach(r => byVal(r.dv) = byVal.getOrElse(r.dv, 0L) + r.count)
    val values = byVal.keys.toArray
    val counts = byVal.values.toArray
    val edges = Prebin.findQuantiles(values, counts, total, q)
    val nPrebins = edges.length + 1
    val mat = Array.fill(nPrebins, levels.length)(0.0)
    val cnt = new Array[Double](nPrebins)
    val syLevel = new Array[Double](nPrebins) // sum of raw levels (merge rate source)
    nonNull.foreach { r =>
      val idx = BinaryCarver.searchsortedLeft(edges, r.dv)
      mat(idx)(levelIdx(r.level)) += r.count
      cnt(idx) += r.count
      syLevel(idx) += r.count * r.level
    }
    val labels = Vector.tabulate(nPrebins)(BinaryCarver.quantLabel)
    val hasRare = cnt.exists(c => Stats.isSignificantlyBelow(c, total, halfMinFreq, config.minFreqAlpha))
    val groups =
      if (hasRare) Prebin.findCommonModalities(labels, cnt, syLevel, total, halfMinFreq, config.minFreqAlpha)
      else labels.map(Vector(_))
    val leaderOf = groups.flatMap(g => g.map(_ -> g.head)).toMap
    val order = groups.map(_.head)
    val pos = labels.zipWithIndex.toMap
    val gMat = groups.map { g =>
      val row = new Array[Double](levels.length)
      g.foreach { l => val p = pos(l); var j = 0; while (j < row.length) { row(j) += mat(p)(j); j += 1 } }
      row
    }.toArray
    val hasNan = nanRows.nonEmpty
    val nanRow = {
      val row = new Array[Double](levels.length)
      nanRows.foreach(r => row(levelIdx(r.level)) += r.count)
      row
    }
    val xLabels = if (hasNan) order :+ NanLabel else order
    val m = if (hasNan) gMat :+ nanRow else gMat
    KPrep(Layout("quantitative", edges, labels.map(leaderOf), Map.empty, order, hasNan, hasDefault = false),
      Ordinal.KXagg(xLabels, levels, m))
  }

  private[carve] def prepCategoricalK(
      hist: Array[KHistRow], total: Long, levels: Vector[Double],
      yLevelScores: Map[Double, Double], halfMinFreq: Double, config: Config
  ): KPrep = {
    val levelIdx = levels.zipWithIndex.toMap
    val nonNull = hist.filterNot(_.isNull)
    val nanRows = hist.filter(_.isNull)
    // frequency sanity gate over raw values (NaN bucket included)
    locally {
      val perValue = mutable.Map.empty[String, Double]
      hist.foreach(r => perValue(if (r.isNull) null else r.sv) =
        perValue.getOrElse(if (r.isNull) null else r.sv, 0.0) + r.count)
      Prebin.frequencyGate(perValue.values, total, halfMinFreq, config.rescue, "categorical")
    }
    val valCounts = mutable.Map.empty[String, Double]
    nonNull.foreach(r => valCounts(r.sv) = valCounts.getOrElse(r.sv, 0.0) + r.count)
    val rare = Prebin.rareCategoricals(valCounts.toMap, total, halfMinFreq, config.minFreqAlpha, NanLabel).toSet
    val hasDefault = rare.nonEmpty
    val valueToRaw = nonNull.map(r => r.sv -> (if (rare(r.sv)) OtherLabel else r.sv)).toMap
    // per-raw-label K-row + scored-y sums (ridit/level scale) for the pre-sort
    val mats = mutable.LinkedHashMap.empty[String, Array[Double]]
    val stats = mutable.LinkedHashMap.empty[String, (Double, Double)]
    nonNull.foreach { r =>
      val lbl = valueToRaw(r.sv)
      val row = mats.getOrElseUpdate(lbl, new Array[Double](levels.length))
      row(levelIdx(r.level)) += r.count
      val (c, s) = stats.getOrElse(lbl, (0.0, 0.0))
      stats(lbl) = (c + r.count, s + r.count * yLevelScores(r.level))
    }
    val order = Prebin.targetRateOrder(stats.toMap)
    val hasNan = nanRows.nonEmpty
    val nanRow = {
      val row = new Array[Double](levels.length)
      nanRows.foreach(r => row(levelIdx(r.level)) += r.count)
      row
    }
    val xLabels = if (hasNan) order :+ NanLabel else order
    val m = (order.map(mats(_)) ++ (if (hasNan) Vector(nanRow) else Vector.empty)).toArray
    KPrep(Layout("categorical", Vector.empty, Vector.empty, valueToRaw, order, hasNan, hasDefault),
      Ordinal.KXagg(xLabels, levels, m))
  }

  /** Nested prep against a K-level ordinal target (reference
    * QualitativeDiscretizer runs nested FIRST inside fit; the
    * NestedDiscretizer target sort maps y through the carver-resolved
    * y_level_scores — train ridits by default — then sorts buckets by mean
    * scored-y, `nested_discretizer.py:233-242`). The rollup rides the same
    * one-pass K-histogram via the encoded sv tuples. NOTE: the reference's
    * MulticlassCarver crashes on nested features (series_target_rate
    * aggregates a string y with mean) — ordinal targets are the only
    * K-target family nested features actually work with, and the engine
    * matches that surface.
    */
  private[carve] def prepNestedK(
      spec: FeatureSpec, hist: Array[KHistRow], total: Long, levels: Vector[Double],
      yLevelScores: Map[Double, Double], halfMinFreq: Double, config: Config
  ): KPrep = {
    val levelIdx = levels.zipWithIndex.toMap
    val columns = spec.name +: spec.parents
    val nonNull = hist.filterNot(_.isNull)
    val nanRows = hist.filter(_.isNull)
    // sy = scored-y sum so the rollup's target sort matches
    // series_target_rate over y_level_scores-mapped y
    val tuples = nonNull.toSeq.map(r =>
      Nested.Tup(BinaryCarver.decodeNestedSv(r.sv, columns.length), r.count,
        r.count * yLevelScores(r.level)))
    val res = Nested.rollupCore(columns, tuples, total, halfMinFreq, config.minFreqAlpha,
      sortByTarget = true)
    val order = res.order
    val mats = mutable.LinkedHashMap.empty[String, Array[Double]]
    order.foreach(b => mats(b) = new Array[Double](levels.length))
    nonNull.foreach { r =>
      val finest = BinaryCarver.decodeNestedSv(r.sv, columns.length).head
      mats(res.rawToBucket(finest))(levelIdx(r.level)) += r.count
    }
    val hasNan = nanRows.nonEmpty
    val nanRow = {
      val row = new Array[Double](levels.length)
      nanRows.foreach(r => row(levelIdx(r.level)) += r.count)
      row
    }
    val xLabels = if (hasNan) order :+ NanLabel else order
    val m = (order.map(mats(_)) ++ (if (hasNan) Vector(nanRow) else Vector.empty)).toArray
    val members = order.map { b =>
      val children = res.rawToBucket.collect { case (v, bb) if bb == b && v != b => v }.toVector.sorted
      b -> (b +: children)
    }.toMap
    KPrep(Layout("nested", Vector.empty, Vector.empty, res.rawToBucket, order, hasNan,
      hasDefault = true, members = members), Ordinal.KXagg(xLabels, levels, m))
  }

  /** Dev histogram → KXagg in the train feature's label space. */
  private[carve] def devKXaggOf(
      spec: FeatureSpec, p: KPrep, hist: Array[KHistRow], levels: Vector[Double]
  ): Ordinal.KXagg = {
    val levelIdx = levels.zipWithIndex.toMap
    val acc = mutable.LinkedHashMap.empty[String, Array[Double]]
    p.xagg.labels.foreach(l => acc(l) = new Array[Double](levels.length))
    hist.foreach { r =>
      val label = p.layout.labelOf(spec, r.dv, r.sv, r.isNull)
      if (label != null) {
        levelIdx.get(r.level).foreach { j =>
          acc.getOrElseUpdate(label, new Array[Double](levels.length))(j) += r.count
        }
      }
    }
    Ordinal.KXagg(acc.keysIterator.toVector, levels, acc.valuesIterator.toArray)
  }

  private[carve] def searchFeatureK(
      spec: FeatureSpec, p: KPrep, devX: Option[Ordinal.KXagg],
      rate0: Ordinal.ORate, config: Config, folds: Seq[Ordinal.KXagg] = Nil,
      dpMemo: Dp.CandMemo = null
  ): OFitted = {
    val histBuf =
      if (config.history) scala.collection.mutable.ArrayBuffer.empty[Search.HistoryEntry] else null
    def run(minFreq: Option[Double]) = Ordinal.bestCombination(
      p.xagg, devX, rate0, config.maxNMod, minFreq, config.minFreqAlpha,
      config.sortBy, p.layout.hasNan, NanLabel, dropna = true, config.topKInitial, config.escalate, folds,
      histSink = histBuf, rescueMode = minFreq.isEmpty, dpMemo = dpMemo)
    val normal = run(Some(config.minFreq))
    val best =
      if (normal.isEmpty && config.rescue && (devX.nonEmpty || folds.nonEmpty)) run(None)
      else normal

    val history = if (histBuf == null) Vector.empty else histBuf.toVector
    val rateRef = rate0.fitReference(p.xagg)
    best match {
      case None => OFitted(assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN,
        history), Double.NaN, Double.NaN, Double.NaN, rateRef)
      case Some(b) => OFitted(assembleFitted(spec, p.layout, b.combination, b.rates, Double.NaN, Double.NaN,
        history), b.metrics.tauB, b.metrics.tauC, b.metrics.somersd, rateRef)
    }
  }
}
