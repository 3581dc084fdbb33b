package graft.carve

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

import graft.carve.BinaryCarver.{FeatureSpec, FittedFeature, NanLabel, assembleFitted}

/** Supervised optimal discretization against an ORDINAL target (integer
  * encoded, ordered levels, K > 2) — the Spark-native re-expression of the
  * reference's OrdinalCarver (`carvers/ordinal_carver.py`).
  *
  * Cluster/driver split mirrors BinaryCarver: ONE pass over the train table
  * below the cell budget — the [[Crosstab]] cells keyed by the target
  * level, `(feature, value, y_level) → count`, returned by the sketch job
  * or else collected by the crosstab pass — collects the per-value
  * K-column crosstabs (bounded by cardinality × levels). All
  * carving runs driver-side on those aggregates: the shared
  * [[Prebin.prep]] under a level target view (K level counts; the rare
  * merge rate is count × raw level for quantitative prebins and count ×
  * ridit or level value otherwise), then the C−D interval DP with
  * tau-b/tau-c/Somers' D and the viability vetoes. Transform is the same
  * pure projection as the binary model.
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
      extends Crosstab.Cell

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
    val (hist, sketched) = Crosstab.fitStage(train, target, specs,
      BinaryCarver.Config(minFreq = config.minFreq,
        sketchCardinalityThreshold = config.sketchCardinalityThreshold,
        sketchRelativeError = config.sketchRelativeError),
      Crosstab.Level, Crosstab.folds(config.cv, config.foldCol), "OrdinalCarver")(Crosstab.keyed)
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
      dpMemo: Option[Dp.CandMemo] = None
  ): Model = {
    require(specs.nonEmpty, "no features to carve")
    // reference OrdinalCarver._prepare_samples: >2 integer-encoded levels
    val yLevels = trainHist.values.iterator.flatMap(_.iterator.map(_.level)).toSet
    require(yLevels.size > 2,
      s"[OrdinalCarver] provided y has ${yLevels.size} levels, consider using BinaryCarver instead")
    require(yLevels.forall(l => l == math.rint(l)),
      "[OrdinalCarver] y must be integer-encoded ordered levels (e.g. 1..K); got non-integer values")
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

    // the target sum behind the rare-merge rate, the categorical order and
    // the nested rollup's sort: count × raw level for a quantitative
    // prebin, count × the pre-sort scale for every other kind
    // (`ordinal_discretizer.py:compute_stats` — an integer-encoded ordinal
    // target has a mean; `nested_discretizer.py:233-242` sorts buckets by
    // mean scored y)
    val view = new Prebin.Keyed(levels) {
      def targetSum(r: KHistRow, kind: String): Double =
        r.count * (if (kind == "quantitative") r.level else yLevelScores(r.level))
    }
    val prep = Prebin.prepAll(specs, trainHist, view, config.minFreq, config.minFreqAlpha, config.rescue,
      config.maxHistogramRows)

    val rate0: Ordinal.ORate =
      if (config.targetScale == "ridit" && config.levelValues.isEmpty) Ordinal.TargetMeanRidit(null, null)
      else Ordinal.TargetMeanLevel(config.levelValues)

    val ev = Search.Evaluator(config.maxNMod, config.minFreq, config.minFreqAlpha, config.topKInitial,
      config.escalate, config.rescue, config.history, memo = dpMemo)
    val fitted = Prebin.fitEach(specs, prep, view, devHist, foldHists) { (spec, p, devX, foldXs) =>
      // ridit reference fixed from the NaN-filtered raw train crosstab
      // (`ordinal_combination_evaluators.py:127`)
      val rate = rate0.fitReference(if (p.layout.hasNan) p.xagg.without(NanLabel) else p.xagg)
      val (best, history) =
        ev.search(Ordinal.TauMeasure(rate, config.sortBy), p.xagg, devX, foldXs, p.layout.hasNan)
      val rateRef = rate0.fitReference(p.xagg)
      best match {
        case None => OFitted(assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN,
          history), Double.NaN, Double.NaN, Double.NaN, rateRef)
        case Some(b) => OFitted(assembleFitted(spec, p.layout, b.combination, b.rates, Double.NaN, Double.NaN,
          history), b.best.metrics.tauB, b.best.metrics.tauC, b.best.metrics.somersd, rateRef)
      }
    }
    Model(target, config.minFreq, config.maxNMod, config.sortBy, levels, fitted)
  }
}
