package graft.carve

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

import graft.carve.BinaryCarver.{FeatureSpec, FittedFeature, NanLabel, assembleFitted}
import graft.carve.OrdinalCarver.KHistRow

/** Supervised optimal discretization against an UNORDERED multiclass target
  * (K > 2 classes) — the Spark-native re-expression of the reference's
  * MulticlassCarver (`carvers/multiclass_carver.py`): one carving per
  * feature against the full (modalities × classes) crosstab, association by
  * Tschuprow's T / Cramér's V generalised to K columns, modalities ordered
  * and viability-rated by correspondence-analysis first-axis score.
  *
  * Cluster/driver split mirrors BinaryCarver: ONE pass below the cell
  * budget for the `(feature, value, class) → count` cells (the
  * [[Crosstab]] keyed by class, run by [[classStage]]); everything
  * else is driver-side math over the collected crosstabs: the shared
  * [[Prebin.prep]] under a class target view (K class counts; CA
  * first-axis scores stand in for the merge rate and the categorical
  * order), then the K-column chi² search.
  */
object MulticlassCarver {

  final case class Config(
      minFreq: Double = 0.02,
      maxNMod: Int = 5,
      sortBy: String = "tschuprowt", // tschuprowt (default) | cramerv
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

  final case class MFitted(feature: FittedFeature, cramerv: Double, tschuprowt: Double,
      // fitted CA-axis rate (the reference's `rate_reference` for nominal
      // targets) for comparable new-sample rates at stability time (M4)
      rateRef: Ordinal.ORate = null)

  final case class Model(
      target: String,
      minFreq: Double,
      maxNMod: Int,
      sortBy: String,
      classes: Vector[String],
      features: Vector[MFitted]
  ) {
    def kept: Vector[MFitted] = features.filterNot(_.feature.dropped)
    /** Structural view shared with the binary machinery: powers transform
      * and the stability monitor (PSI/chi² over bin distributions applies
      * to any fitted bin structure).
      */
    def binaryView: BinaryCarver.Model = BinaryCarver.Model(target, minFreq, maxNMod, sortBy, features.map(_.feature))
    def transform(df: DataFrame, keepOriginal: Boolean = false): DataFrame =
      binaryView.transform(df, keepOriginal)
    def transformLabels(df: DataFrame): DataFrame = binaryView.transformLabels(df)
  }

  /** The class stage shared by the multiclass and one-vs-rest fits: the
    * sketch and the class [[Crosstab]] (± folds; one pass below the cell
    * budget; it also yields the sorted class set, so no distinct() pass),
    * the > 2 classes check, and the dev
    * class crosstab. The reference's validate_multiclass_target raises on
    * a dev class mismatch in EITHER direction (a dev sample missing a
    * train class would silently score that class as all-zero otherwise);
    * both class vectors are sorted, so equal sets share class indices and
    * the dev rows need no remap. `family` names the fit in the errors.
    */
  def classStage(train: DataFrame, target: String, specs: Seq[FeatureSpec], dev: Option[DataFrame],
      config: BinaryCarver.Config, family: String)
      : (Crosstab.Result[KHistRow], Option[Map[String, Array[KHistRow]]]) = {
    val (hist, sketched) = Crosstab.fitStage(train, target, specs, config, Crosstab.Class,
      Crosstab.folds(config.cv, config.foldCol), family)(Crosstab.keyed)
    val classes = hist.classes
    require(classes.length > 2, s"[$family] y has ${classes.length} classes; use BinaryCarver for <=2")
    val devHist = dev.map { d =>
      val h = Crosstab.stage(d, target, specs, sketched, Crosstab.Class, None)(Crosstab.keyed)
      val devOnly = h.classes.filterNot(classes.contains)
      val trainOnly = classes.filterNot(h.classes.contains)
      require(devOnly.isEmpty && trainOnly.isEmpty,
        s"[$family] Mismatched classes between y and y_dev: train-only $trainOnly, dev-only $devOnly")
      h.total
    }
    (hist, devHist)
  }

  /** Refuses nested specs before any cluster work: the reference's
    * NestedDiscretizer target sort cannot score string classes.
    */
  private def refuseNested(specs: Seq[FeatureSpec]): Unit =
    require(!specs.exists(_.kind == "nested"),
      "nested features are not supported against an unordered multiclass target — the " +
        "reference's NestedDiscretizer target sort cannot score string classes " +
        "(series_target_rate crashes there); use Binary/Continuous/Ordinal carvers")

  def fit(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame] = None,
      config: Config = Config()
  ): Model = {
    val guarded = BinaryCarver.guardTarget(target, specs)
    if (guarded.length != specs.length) return fit(train, target, guarded, dev, config)
    BinaryCarver.validateInputs(train, target, specs)
    refuseNested(specs)
    val (hist, devHist) = classStage(train, target, specs, dev,
      BinaryCarver.Config(minFreq = config.minFreq, cv = config.cv, foldCol = config.foldCol,
        sketchCardinalityThreshold = config.sketchCardinalityThreshold,
        sketchRelativeError = config.sketchRelativeError), "MulticlassCarver")
    fitFromHistograms(hist.total, devHist, target, specs, hist.classes, config, hist.folds)
  }

  def fitFromHistograms(
      trainHist: Map[String, Array[KHistRow]],
      devHist: Option[Map[String, Array[KHistRow]]],
      target: String,
      specs: Seq[FeatureSpec],
      classes: Vector[String],
      config: Config = Config(),
      foldHists: Seq[Map[String, Array[KHistRow]]] = Nil
  ): Model = {
    require(specs.nonEmpty, "no features to carve")
    refuseNested(specs)
    // an unordered target has no mean: the merge "rate" of an ordered label
    // is its CA first-axis score over the pre-merge crosstab
    // (`ordinal_discretizer.py:compute_stats` — `_ca_row_scores`), and
    // categorical modalities sort by CA score over the label-sorted
    // crosstab (`categorical_discretizer.py:182-191`; pd.crosstab sorts its
    // index, so ties keep label order)
    val view = new Prebin.Keyed(classes.indices.map(_.toDouble).toVector) {
      def targetSum(r: KHistRow, kind: String): Double = 0.0
      override def mergeSums(accs: Array[Array[Double]]): Array[Double] = {
        val scores = caScores(accs)
        Array.tabulate(accs.length)(i => accs(i)(0) * scores(i))
      }
      override def order(accs: collection.Map[String, Array[Double]]): Vector[String] = {
        val sorted = accs.keys.toVector.sorted
        sorted.zip(caScores(sorted.map(accs).toArray)).sortBy(_._2).map(_._1)
      }
      private def caScores(accs: Array[Array[Double]]): Array[Double] = {
        val m = accs.map(_.drop(2))
        Ca.caRowScores(m, Ca.fitCaAxis(m))
      }
    }
    val prep = Prebin.prepAll(specs, trainHist, view, config.minFreq, config.minFreqAlpha, config.rescue,
      config.maxHistogramRows)
    val ev = Search.Evaluator(config.maxNMod, config.minFreq, config.minFreqAlpha, config.topKInitial,
      config.escalate, config.rescue, config.history)
    val fitted = Prebin.fitEach(specs, prep, view, devHist, foldHists) { (spec, p, devX, foldXs) =>
      // CA axis fixed from the NaN-filtered raw train crosstab
      // (`multiclass_combination_evaluators.py:123`)
      val noNan = if (p.layout.hasNan) p.xagg.without(NanLabel) else p.xagg
      val measure = Multiclass.Chi2KMeasure(Multiclass.CAScoreRate(Ca.fitCaAxis(noNan.m)), config.sortBy)
      val (best, history) = ev.search(measure, p.xagg, devX, foldXs, p.layout.hasNan)
      val rateRef = Multiclass.CAScoreRate(Ca.fitCaAxis(p.xagg.m))
      best match {
        case None => MFitted(assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN,
          history), Double.NaN, Double.NaN, rateRef)
        case Some(b) => MFitted(assembleFitted(spec, p.layout, b.combination, b.rates, b.best.cramerv,
          b.best.tschuprowt, history), b.best.cramerv, b.best.tschuprowt, rateRef)
      }
    }
    Model(target, config.minFreq, config.maxNMod, config.sortBy, classes, fitted)
  }
}

/** One-vs-rest multiclass carving (`carvers/one_vs_rest_carver.py`): the
  * classes are sorted, the first is dropped, and a full BinaryCarver fit
  * runs per remaining class on the binarized target `y == class`. Each fit
  * produces per-class feature versions named `<feature>__y=<class>`
  * (`features/features.py:866`) — the reference's S2 column aliasing.
  */
object OneVsRestCarver {

  final case class Model(
      target: String,
      classes: Vector[String], // carved classes (first sorted class dropped)
      perClass: Map[String, BinaryCarver.Model]
  ) {
    def versionName(feature: String, yClass: String): String = s"${feature}__y=$yClass"

    /** Adds one bin column per kept (class, feature) version:
      * `<feature>__y=<class>_bin`. Pure projection (no shuffle), same as the
      * binary transform — K−1 bucketize expressions per feature.
      */
    def transform(df: DataFrame): DataFrame =
      classes.foldLeft(df) { (d, yClass) =>
        val m = perClass(yClass)
        m.kept.foldLeft(m.transform(d, keepOriginal = true)) { (dd, f) =>
          dd.withColumnRenamed(s"${f.name}_bin", s"${versionName(f.name, yClass)}_bin")
        }
      }
  }

  /** Binary projection of a class-histogram: for class index `ci`, each
    * (feature, value) row gets count = Σ over classes, sumY = count of `ci`
    * — the `y == class` crosstab column sums, no second scan
    * (`one_vs_rest_carver.py:20-155` fits every class from the same data).
    */
  private[carve] def binarize(kHist: Map[String, Array[KHistRow]], ci: Double)
      : Map[String, Array[BinaryCarver.HistRow]] =
    kHist.map { case (fid, rows) =>
      val acc = mutable.LinkedHashMap.empty[(Long, String), (Boolean, Long, Double)]
      rows.foreach { r =>
        val key = (java.lang.Double.doubleToLongBits(r.dv), r.sv)
        val (isNull, c0, s0) = acc.getOrElse(key, (r.isNull, 0L, 0.0))
        acc(key) = (isNull, c0 + r.count, s0 + (if (r.level == ci) r.count.toDouble else 0.0))
      }
      fid -> acc.map { case ((dvBits, sv), (isNull, c, s)) =>
        BinaryCarver.HistRow(java.lang.Double.longBitsToDouble(dvBits), sv, isNull, c, s)
      }.toArray
    }

  /** Single-pass fit: ONE sketch job that also returns the class
    * crosstab below the cell budget (else a second, class-histogram scan;
    * plus one per fold-free dev) feeds all K−1 binary
    * fits — the per-class crosstabs are driver-side column-sum projections
    * of the same aggregate, so fit job count is independent of K.
    */
  def fit(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame] = None,
      config: BinaryCarver.Config = BinaryCarver.Config()
  ): Model = {
    val guarded = BinaryCarver.guardTarget(target, specs)
    if (guarded.length != specs.length) return fit(train, target, guarded, dev, config)
    BinaryCarver.validateInputs(train, target, specs)
    // nested specs are fine HERE (unlike the CA MulticlassCarver): each
    // class is a binary sub-fit, so the rollup's target sort runs per class
    // on the binarized rate — matching the reference, where OvR + nested
    // works while the CA carver's NestedDiscretizer sort crashes on string y.
    // cv>1: the fold assignment hashes the raw class label (deterministic,
    // shared across classes) rather than each per-class binarized target
    val (hist, devHist) = MulticlassCarver.classStage(train, target, specs, dev, config, "OneVsRestCarver")
    fitFromHistograms(hist.total, hist.classes, target, specs, config, hist.folds, devHist)
  }

  /** Driver-side remainder of [[fit]] over a precomputed class-histogram —
    * the K−1 binary sub-fits are column-sum projections of the SAME
    * aggregate, so a caller that already holds the (kHist, classes) pass
    * (e.g. shared with a CA multiclass fit over the same frame) pays zero
    * extra cluster work.
    */
  def fitFromHistograms(
      kHist: Map[String, Array[KHistRow]],
      classes: Vector[String],
      target: String,
      specs: Seq[FeatureSpec],
      config: BinaryCarver.Config = BinaryCarver.Config(),
      kFolds: Seq[Map[String, Array[KHistRow]]] = Nil,
      devK: Option[Map[String, Array[KHistRow]]] = None
  ): Model = {
    require(classes.length > 2, s"[OneVsRestCarver] y has ${classes.length} classes; use BinaryCarver for <=2")
    val carved = classes.drop(1) // reference drops the first sorted class
    val perClass = carved.map { yClass =>
      val ci = classes.indexOf(yClass).toDouble
      val trainHist = binarize(kHist, ci)
      val devHist = devK.map(binarize(_, ci))
      val foldHists = kFolds.map(binarize(_, ci))
      yClass -> BinaryCarver.fitFromHistograms(trainHist, devHist, "__ovr_y", specs, config, foldHists)
    }.toMap
    Model(target, carved, perClass)
  }
}
