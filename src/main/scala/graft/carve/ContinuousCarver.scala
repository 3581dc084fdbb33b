package graft.carve

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import scala.collection.mutable

import graft.stats.Ranks

/** Regression carver (`carvers/continuous_carver.py`): the binary carver's
  * prep ([[Prebin.prep]] under [[Prebin.Summed]], Σy of a real-valued y),
  * Kruskal-Wallis H association instead of chi².
  *
  * Cluster shape below the cell bound: one pass over the input. The
  * sketch job also reads distinct-y, counts NaN y and returns the cell
  * table `(feature, value, y[, fold]) → count` (the [[Crosstab]] key shape
  * with y as one more key) when it holds at most [[Stats.LocalRankRows]]
  * cells ([[Crosstab.pass]]). Below the bound the driver derives
  * everything else from the cells in canonical (feature, value, y) order:
  * the train and fold histograms, the prebins, each cell's modality, the
  * average ranks of y in two pools per feature (all rows, and rows outside
  * the NaN modality — rank bases differ, see [[Continuous.KruskalMeasure]];
  * [[graft.stats.Ranks.local]]), the per-modality moments and the exact
  * median y histograms. Every floating-point sum then runs in an order
  * fixed by the data, never by the plan. When the cells did not come back
  * (a partial buffer past its share of the bound, or a sketched feature),
  * a second pass reads the cell table through one bounded collect of at
  * most [[Stats.LocalRankRows]] + 1 rows. Above the bound the fit scans its
  * input twice more: the histogram stage, then the persisted `(feature,
  * modality, y)` counts of the labelled input, ranked on the driver from
  * one collect of the `(feature, y)` pools when the distinct-y reading puts
  * them under the bound, else by [[graft.stats.Ranks.bucketed]], and one
  * collect of `groupBy(feature, modality).agg(n, Σrank, Σy, Σy²)`. When the
  * sketch's distinct readings alone put the cells past twice the bound,
  * the cell pass is skipped, so such a fit scans its input three times.
  */
object ContinuousCarver {
  import BinaryCarver.{FeatureSpec, FittedFeature, Layout, Model, Prep, Config, NanLabel, OtherLabel, assembleFitted}
  import OrdinalCarver.KHistRow

  /** Per feature and modality: the y values with their counts. */
  type YHists = Map[String, Map[String, Array[(Double, Double)]]]

  /** Cluster products of a continuous fit that do NOT depend on the rate
    * strategy: prebin state, rank statistics, tie corrections, the
    * distinct-y gate reading. A caller fitting several configs over the
    * SAME (train, specs) — e.g. target_mean and target_median — computes
    * these once and calls [[fitFromStages]] per config (guide §1.2: the
    * distributed algorithm first; re-scanning identical passes per config
    * is pure waste); below the cell bound computing them reads the input
    * once, see the object doc. `yHists` and `foldYHists` are the per-modality y
    * histograms the median rate needs, train and per fold. Below the cell
    * bound they are always filled with the exact histograms unless the
    * distinct-y reading crosses the exact-median gate, so [[fitFromStages]]
    * runs no job for them; above the bound `yHists` is filled only for a
    * median fit and `foldYHists` never ([[fitFromStages]] computes what is
    * missing).
    */
  final case class Stages(
      stageConfig: Config,
      sketched: Map[String, Vector[Double]],
      distinctY: Long, // approx_count_distinct(y); -1 = not measured
      trainHist: Map[String, Array[BinaryCarver.HistRow]],
      foldHists: Seq[Map[String, Array[BinaryCarver.HistRow]]],
      prep: Map[String, Prep],
      // per feature: label -> (n, Σrank_all, Σrank_sub, Σy, Σy²)
      rows: Map[String, Map[String, (Double, Double, Double, Double, Double)]],
      ties: Map[String, (Double, Double)],
      yHists: YHists,
      foldYHists: Seq[YHists],
      // cross-strategy DP candidate memo: the top-K kruskal DP reads only
      // rank aggregates, so mean/median fits over the same stages share
      // byte-identical candidate lists (content-keyed — any input
      // difference recomputes)
      dpMemo: Dp.CandMemo = new Dp.CandMemo
  )

  /** Stage-compatibility view of a config: every field except the rate
    * strategy / sort label (which only affect the driver-side search).
    */
  private def stageKey(c: Config): Config = c.copy(rateStrategy = "", sortBy = "")

  /** Effective distinct-y bound for the exact-median path: the driver-side
    * collects are O(cv × |specs| × distinct-y) rows ((fold,) feature,
    * modality, y), so the configured constant bounds the COLLECTED ROWS,
    * not the raw distinct-y — divide it by the multiplicity so the gate
    * means what its name says (VERDICT r6 item 3).
    */
  private def medianGateThreshold(config: Config, nSpecs: Int): Long =
    config.medianExactMaxDistinctY /
      math.max(1L, math.max(1, config.cv).toLong * math.max(1, nSpecs).toLong)

  def fit(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame] = None,
      config: Config = Config(sortBy = "kruskal")
  ): Model = {
    val guarded = BinaryCarver.guardTarget(target, specs)
    if (guarded.length != specs.length) return fit(train, target, guarded, dev, config)
    val stages = computeStages(train, target, specs, config,
      withYHists = config.rateStrategy == "target_median")
    fitFromStages(train, target, guarded, dev, config, stages)
  }

  /** The cluster passes shared across rate strategies: the sketch job
    * (with the distinct-y gate, the NaN-y count and, below the bound, the
    * cell table on the same job), see the object doc. `withYHists` asks for the median y
    * histograms where they cost a job of their own: above the cell bound,
    * or past the exact-median gate.
    */
  def computeStages(
      train: DataFrame,
      target: String,
      specs0: Seq[FeatureSpec],
      config: Config,
      withYHists: Boolean = false
  ): Stages = boundedStages(train, target, specs0, config, withYHists, Stats.LocalRankRows)

  /** [[computeStages]] with the bound of the driver-side cell table as a
    * parameter, so a test can reach both branches on small data. The
    * sketch job returns the cells up to this bound ([[Crosstab.cellBudget]]
    * lowers it for the sketch job alone).
    */
  private[graft] def boundedStages(
      train: DataFrame,
      target: String,
      specs0: Seq[FeatureSpec],
      config: Config,
      withYHists: Boolean,
      rankRows: Long
  ): Stages = {
    val specs = BinaryCarver.guardTarget(target, specs0)
    require(config.dropna,
      "[ContinuousCarver] dropna=false is only supported by the binary/OvR search path")
    BinaryCarver.validateInputs(train, target, specs)
    // reference: y must be numeric for a continuous fit (a string y would
    // otherwise surface as a raw ANSI cast error inside the cell job)
    require(train.schema(target).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"[ContinuousCarver] y ('$target') must be numeric; got ${train.schema(target).dataType.simpleString}")
    // ---- pass 1: the sketch. The R4 distinct-y gate, the NaN-y count and
    // the cell table (up to rankRows cells) ride the SAME job.
    val folds = Crosstab.folds(config.cv, config.foldCol)
    val pass = Crosstab.pass(train, target, specs, config, Crosstab.Valued, folds,
      Seq(approx_count_distinct(col(target)).as("__graft_y_acd"),
        count(when(isnan(col(target).cast("double")) || col(target).isNull, 1)).as("__graft_y_nan")),
      math.min(rankRows, Crosstab.cellBudget.value))
    val (sketched, sketchRow) = (pass.sketched, pass.row)
    // the reference raises on NaN y (`base_discretizer._prepare_y`)
    require(!sketchRow.exists(_.getAs[Long]("__graft_y_nan") > 0),
      s"[ContinuousCarver] y ('$target') should not contain NaN/null")
    val distinctY = sketchRow.map(_.getAs[Long]("__graft_y_acd")).getOrElse(-1L)
    val approxMedian = distinctY > medianGateThreshold(config, specs.length)

    // ---- pass 2, when the cells did not come back with the sketch: the
    // cell table through a bounded collect. The sketch's readings bound the
    // cell count from below: every feature has a cell per distinct y, an
    // unsketched quantitative one a cell per distinct value. Past twice the
    // bound (HLL's error is about 5%) that settles the branch without the
    // cell pass.
    val minCells = specs.map { sp =>
      val acd = s"${sp.name}__acd"
      val dx = sketchRow.filter(r => !sketched.contains(sp.name) && r.schema.fieldNames.contains(acd))
        .fold(0L)(_.getAs[Long](acd))
      math.max(dx, distinctY).toDouble
    }.sum
    val cells = pass.cells.orElse(Option.when(minCells <= 2.0 * rankRows)(
      Crosstab.frame(train, target, specs, sketched, Crosstab.Valued, folds)
        .take(math.min(rankRows, Int.MaxValue - 1L).toInt + 1)))
    val s = Staged(train, target, specs, config, folds, sketched, distinctY, withYHists, approxMedian, rankRows)
    cells.filter(_.length <= rankRows) match {
      case Some(collected) => localStages(s, collected)
      case None => distributedStages(s)
    }
  }

  /** What both branches of [[boundedStages]] read. */
  private final case class Staged(train: DataFrame, target: String, specs: Seq[FeatureSpec], config: Config,
      folds: Option[Crosstab.Folds], sketched: Map[String, Vector[Double]], distinctY: Long,
      withYHists: Boolean, approxMedian: Boolean, rankRows: Long) {
    val specOf: Map[String, FeatureSpec] = specs.map(sp => sp.name -> sp).toMap
    def prepAll(hist: Map[String, Array[BinaryCarver.HistRow]]): Map[String, Prep] =
      Prebin.prepAll(specs, hist, Prebin.Summed, config.minFreq, config.minFreqAlpha,
        config.rescue, config.maxHistogramRows)
    /** The gated approx-median path: the percentile grid over the raw frame. */
    def gridYHists(prep: Map[String, Prep]): YHists =
      if (withYHists) yHistsOf(longForm(train, target, specs, prep), approx = true) else Map.empty
  }

  /** Canonical cell order within a feature: value (the NaN bucket last),
    * then y. `level` carries y.
    */
  private def canonical(a: KHistRow, b: KHistRow): Boolean = {
    val byNull = java.lang.Boolean.compare(a.isNull, b.isNull)
    lazy val byDv = java.lang.Double.compare(a.dv, b.dv)
    lazy val bySv = if (a.sv == null || b.sv == null) 0 else a.sv.compareTo(b.sv)
    (if (byNull != 0) byNull else if (byDv != 0) byDv else if (bySv != 0) bySv
    else java.lang.Double.compare(a.level, b.level)) < 0
  }

  /** The summed histogram of canonically ordered cells: one row per value,
    * Σy added in ascending y.
    */
  private def histOf(cells: Array[KHistRow]): Array[BinaryCarver.HistRow] = {
    val out = mutable.ArrayBuffer.empty[BinaryCarver.HistRow]
    cells.foreach { c =>
      out.lastOption match {
        case Some(h) if h.isNull == c.isNull && h.sv == c.sv && java.lang.Double.compare(h.dv, c.dv) == 0 =>
          out(out.length - 1) = h.copy(count = h.count + c.count, sumY = h.sumY + c.level * c.count)
        case _ => out += BinaryCarver.HistRow(c.dv, c.sv, c.isNull, c.count, c.level * c.count)
      }
    }
    out.toArray
  }

  /** The driver branch: every [[Stages]] product from the collected cells. */
  private def localStages(s: Staged, collected: Array[Row]): Stages = {
    val cells = Crosstab.assemble(collected, s.target, Crosstab.Valued, s.folds)(Crosstab.keyed)
    Crosstab.requireRows(cells.total, "ContinuousCarver")
    def sorted(m: Map[String, Array[KHistRow]]) = m.view.mapValues(_.sortWith(canonical)).toMap
    val total = sorted(cells.total)
    val foldCells = cells.folds.map(sorted)
    val trainHist = total.view.mapValues(histOf).toMap
    val prep = s.prepAll(trainHist)
    // per modality: (y, count) ascending in y
    def byLabel(fid: String, cs: Array[KHistRow]): Map[String, Array[(Double, Long)]] = {
      val layout = prep(fid).layout
      cs.groupBy(c => layout.labelOf(s.specOf(fid), c.dv, c.sv, c.isNull)).view.mapValues { g =>
        g.groupMapReduce(c => java.lang.Double.doubleToLongBits(c.level))(_.count)(_ + _).toArray
          .map { case (bits, c) => (java.lang.Double.longBitsToDouble(bits), c) }.sortBy(_._1)
      }.toMap
    }
    def labelled(m: Map[String, Array[KHistRow]]) = m.map { case (fid, cs) => fid -> byLabel(fid, cs) }
    def asYHists(m: Map[String, Map[String, Array[(Double, Long)]]]): YHists =
      m.view.mapValues(_.view.mapValues(_.map { case (y, c) => (y, c.toDouble) }).toMap).toMap
    val train = labelled(total)
    // per feature: the modality moments, and the tie corrections of the two
    // rank pools (all rows, and rows outside the NaN modality)
    val ranked = train.map { case (fid, byLbl) =>
      val t = Ranks.local(byLbl.toSeq.flatMap { case (l, ys) =>
        ys.map { case (y, c) => (y, Array(c, if (l == NanLabel) 0L else c)) }
      })
      val moments = byLbl.map { case (l, ys) =>
        var ra = 0.0; var rs = 0.0; var sy = 0.0; var syy = 0.0; var n = 0L
        ys.foreach { case (y, c) =>
          val j = java.util.Arrays.binarySearch(t.values, y)
          ra += t.rank(0, j) * c; rs += t.rank(1, j) * c
          sy += y * c; syy += y * y * c; n += c
        }
        l -> ((n.toDouble, ra, rs, sy, syy))
      }
      fid -> (moments, (t.pool(0).tieCorrection, t.pool(1).tieCorrection))
    }
    val (yHists, foldYHists) =
      if (s.approxMedian) (s.gridYHists(prep), Nil)
      else (asYHists(train), foldCells.map(m => asYHists(labelled(m))))
    Stages(s.config, s.sketched, s.distinctY, trainHist, foldCells.map(_.view.mapValues(histOf).toMap), prep,
      ranked.view.mapValues(_._1).toMap, ranked.view.mapValues(_._2).toMap, yHists, foldYHists)
  }

  /** The distributed branch: the histogram stage ([[Crosstab.stage]], a
    * second scan), the prebins, and `ylh`, the persisted `(fid, lbl, y) →
    * count` aggregate of the labelled input (a third scan) that
    * [[rankStatsOf]] derives from. With a high-cardinality y the cell table
    * is about one row per input row and feature, so re-reading it costs
    * more than these two scans, which aggregate to value-sized and
    * modality-sized tables.
    */
  private def distributedStages(s: Staged): Stages = {
    val hist = Crosstab.stage(s.train, s.target, s.specs, s.sketched, Crosstab.Summed(), s.folds)(Crosstab.summed)
    Crosstab.requireRows(hist.total, "ContinuousCarver")
    val prep = s.prepAll(hist.total)
    val ylh = longForm(s.train, s.target, s.specs, prep)
      .groupBy(col("fid"), col("lbl"), col("y"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (rows, ties, yHists) = rankStatsOf(s, prep, ylh)
      Stages(s.config, s.sketched, s.distinctY, hist.total, hist.folds, prep, rows, ties, yHists, Nil)
    } finally ylh.unpersist()
  }

  /** Driver-side search per rate strategy over precomputed [[Stages]]; the
    * only cluster work left is a median fit's y histograms the stages do
    * not carry (one job each for the train and the folds), plus the dev
    * views.
    */
  def fitFromStages(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame],
      config: Config,
      stages: Stages
  ): Model = {
    require(stageKey(config) == stageKey(stages.stageConfig),
      "[ContinuousCarver] stages were computed under an incompatible config " +
        s"(${stages.stageConfig} vs $config) — only rateStrategy/sortBy may differ")
    val sketched = stages.sketched
    val trainHist = stages.trainHist
    val foldHists = stages.foldHists
    val prep = stages.prep

    val withMedians = config.rateStrategy == "target_median"
    // R4 cardinality gate (same reading as before — approx_count_distinct —
    // now measured on the sketch job; -1 means the stages never measured it
    // (no aggregation ran), so measure here before the collect)
    val distinctY =
      if (!withMedians) stages.distinctY
      else if (stages.distinctY >= 0) stages.distinctY
      else train.agg(approx_count_distinct(col(target))).head().getLong(0)
    val approxMedian = withMedians && distinctY > medianGateThreshold(config, specs.length)
    val yHists: YHists =
      if (!withMedians) Map.empty
      else if (stages.yHists.nonEmpty) stages.yHists
      else yHistsOf(longForm(train, target, specs, prep), approxMedian)
    def rankStats(name: String): (Continuous.RankXagg, Continuous.RankXagg, Map[String, (Double, Double, Double)]) = {
      val p = prep(name)
      val rows = stages.rows.getOrElse(name, Map.empty)
      val (tca, tcs) = stages.ties.getOrElse(name, (1.0, 1.0))
      def mk(labels: Vector[String], useSub: Boolean, tieCorr: Double): Continuous.RankXagg =
        Continuous.RankXagg(
          labels,
          labels.map(l => rows.get(l).map(_._1).getOrElse(0.0)).toArray,
          labels.map(l => rows.get(l).map(t => if (useSub) t._3 else t._2).getOrElse(0.0)).toArray,
          labels.map(l => rows.get(l).map(_._4).getOrElse(0.0)).toArray,
          tieCorr,
          if (withMedians) "target_median" else "target_mean",
          yHists.getOrElse(name, Map.empty)
        )
      val fullLabels = p.xagg.labels
      val subLabels = fullLabels.filterNot(_ == NanLabel)
      val moments = rows.view.mapValues(t => (t._1, t._4, t._5)).toMap
      (mk(subLabels, useSub = true, tcs), mk(fullLabels, useSub = false, tca), moments)
    }

    // ---- dev pass: (n, Σy) per modality is all the vetoes need
    val devHist = dev.map(d => BinaryCarver.histogram(d, target, specs, sketched))
    // per-fold y histograms for the median rate: ONE job over all folds
    val foldYHists: Seq[YHists] =
      if (!withMedians || config.cv <= 1) Seq.fill(foldHists.length)(Map.empty)
      else if (stages.foldYHists.nonEmpty) stages.foldYHists
      else {
        val y = col(target).cast("double")
        val foldKey = BinaryCarver.foldExpr(specs, target, config.cv, Option(config.foldCol))
        val entries = specs.map(sp => struct(lit(sp.name).as("fid"), labelExpr(sp, prep(sp.name).layout).as("lbl")))
        val long = train.withColumn("__fold", foldKey)
          .select(col("__fold"), explode(array(entries: _*)).as("e"), y.as("y"))
          .select(col("__fold"), col("e.fid").as("fid"), col("e.lbl").as("lbl"), col("y"))
        if (approxMedian) {
          val rows = long.groupBy(col("__fold"), col("fid"), col("lbl"))
            .agg(count(lit(1)).as("n"), medianGridAgg(col("y"))).collect()
          (0 until config.cv).map { f =>
            rows.filter(_.getLong(0) == f).groupBy(_.getString(1)).view.mapValues { rs =>
              rs.map(r => r.getString(2) -> synthHist(r.getLong(3), r.getSeq[Double](4))).toMap
            }.toMap: YHists
          }
        } else {
          val rows = long.groupBy(col("__fold"), col("fid"), col("lbl"), col("y"))
            .agg(count(lit(1)).as("c")).collect()
          (0 until config.cv).map { f =>
            rows.filter(_.getLong(0) == f).groupBy(_.getString(1)).view.mapValues { rs =>
              rs.groupBy(_.getString(2)).view.mapValues(_.map(r => (r.getDouble(3), r.getLong(4).toDouble)).toArray).toMap
            }.toMap: YHists
          }
        }
      }
    val devYHists: YHists =
      if (!withMedians) Map.empty
      else dev.map { d =>
        val y = col(target).cast("double")
        val entries = specs.map(s => struct(lit(s.name).as("fid"), labelExpr(s, prep(s.name).layout).as("lbl")))
        val long = d.select(explode(array(entries: _*)).as("e"), y.as("y"))
          .select(col("e.fid").as("fid"), col("e.lbl").as("lbl"), col("y"))
        yHistsOf(long, approxMedian)
      }.getOrElse(Map.empty)

    val fitted = Prebin.perFeature(specs) { spec =>
      val p = prep(spec.name)
      val (sub, full, moments) = rankStats(spec.name)
      // RankXagg view of a validation sample (ranks unused by vetoes); the
      // median rate additionally needs the y histogram per modality
      def view(h: Map[String, Array[BinaryCarver.HistRow]],
          yh: YHists): Option[Continuous.RankXagg] =
        Prebin.project(spec, p, h, Prebin.Summed).map { x =>
          Continuous.RankXagg(x.labels, x.labels.indices.map(i => x.n0(i) + x.n1(i)).toArray,
            new Array[Double](x.labels.length), x.n1, 1.0,
            if (withMedians) "target_median" else "target_mean",
            yh.getOrElse(spec.name, Map.empty))
        }
      searchContinuous(spec, p, sub, full, devHist.flatMap(view(_, devYHists)), config,
        foldHists.zip(foldYHists).flatMap { case (h, yh) => view(h, yh) }, moments, stages.dpMemo)
    }

    Model(target, config.minFreq, config.maxNMod, "kruskal", fitted)
  }

  /** Modality-label column for one prepped feature (fit-time only).
    * Quantitative: the same O(log E) codegen binary search the transform
    * path uses ([[graft.transform.BinarySearchBucketize]] — identical
    * `searchsorted(side='left')` semantics as the former chained
    * `when(x <= e_i)` ladder) + one O(1) literal-array label lookup.
    */
  private def labelExpr(spec: FeatureSpec, p: Layout): Column =
    if (spec.kind == "quantitative") {
      val x = col(spec.name).cast("double")
      val leaders = p.prebinLeader
      // idx ∈ [0, edges.length]; clamp covers the (invariant) case of a
      // leader list shorter than edges+1
      val mapping = (0 to p.prebinEdges.length).map(i => math.min(i, leaders.length - 1)).toVector
      val idx = graft.transform.BinarySearchBucketize.column(x, p.prebinEdges, mapping, nanBin = -1)
      when(x.isNull || isnan(x), lit(NanLabel))
        .otherwise(element_at(typedlit(leaders), idx + 1))
    } else if (spec.kind == "nested") {
      // rolled-up bucket label: direct finest map, else the X4 parent walk
      // (needed on the DEV frame, which may carry unseen finest values)
      val c = BinaryCarver.categoricalStringExpr(col(spec.name))
      val direct =
        if (p.valueToRaw.isEmpty) lit(null).cast("string")
        else element_at(typedlit(p.valueToRaw), c)
      val leaders = p.rawOrder.filterNot(_ == OtherLabel)
      val parentHits = spec.parents.map { pc =>
        val pv = BinaryCarver.categoricalStringExpr(col(pc))
        when(pv.isInCollection(leaders), pv)
      }
      when(c.isNull, lit(NanLabel))
        .otherwise(coalesce(direct +: parentHits :+ lit(OtherLabel): _*))
    } else {
      val c = BinaryCarver.categoricalStringExpr(col(spec.name))
      val mapped =
        if (p.valueToRaw.isEmpty) lit(OtherLabel)
        else coalesce(element_at(typedlit(p.valueToRaw), c), if (p.hasDefault) lit(OtherLabel) else c)
      when(c.isNull, lit(NanLabel)).otherwise(mapped)
    }

  /** Long-form `(fid, lbl, y)` frame — one row per (input row × feature). */
  private def longForm(df: DataFrame, target: String, specs: Seq[FeatureSpec],
      prep: Map[String, Prep]): DataFrame = {
    val y = col(target).cast("double")
    val entries = specs.map { s =>
      struct(lit(s.name).as("fid"), labelExpr(s, prep(s.name).layout).as("lbl"))
    }
    df.select(explode(array(entries: _*)).as("e"), y.as("y"))
      .select(col("e.fid").as("fid"), col("e.lbl").as("lbl"), col("y"))
  }

  /** [[distributedStages]]'s rank statistics per (feature, modality), both
    * rank bases, from the `(fid, lbl, y) → count` aggregate `ylh`:
    * `(rows: fid -> lbl -> (n, Σrank_all, Σrank_sub, Σy, Σy²),
    *   ties: fid -> (tieCorr_all, tieCorr_sub), yHists)`. The per-(fid, y)
    * pool counts are ranked, the ranks join back to `ylh` and one collect
    * returns the count-weighted sums. Σy and Σy² sum in the join's row
    * order, so they may differ from the driver branch's in the last bits
    * (ranks never do).
    */
  private def rankStatsOf(s: Staged, prep: Map[String, Prep], ylh: DataFrame)
      : (Map[String, Map[String, (Double, Double, Double, Double, Double)]], Map[String, (Double, Double)], YHists) = {
    val yh = ylh.groupBy(col("fid"), col("y"))
      .agg(
        sum(col("c")).as("all"),
        sum(when(col("lbl") =!= NanLabel, col("c")).otherwise(0L)).as("sub")
      )
    // a low-cardinality y (integer scores, counts, grades) has a small pool
    // table even when the cells are many: it is ranked on the driver from
    // one collect and broadcast; otherwise (the table is ~ the cells) the
    // bucketed window ranks it. Both give the identical ranks.
    val localPools = s.distinctY >= 0 && s.distinctY * math.max(1, s.specs.length).toLong <= s.rankRows
    val (ranked, pools) =
      if (localPools) {
        val tables = yh.collect().groupBy(_.getString(0)).map { case (fid, rows) =>
          fid -> Ranks.local(rows.map(r => (r.getDouble(1), Array(r.getLong(2), r.getLong(3)))))
        }
        val cells = for ((fid, t) <- tables.toSeq; j <- t.values.indices)
          yield Row(fid, t.values(j), t.rank(0, j), t.rank(1, j))
        val schema = StructType(Seq("fid" -> StringType, "y" -> DoubleType,
          "rank_all" -> DoubleType, "rank_sub" -> DoubleType).map { case (n, t) => StructField(n, t) })
        (broadcast(ylh.sparkSession.createDataFrame(java.util.Arrays.asList(cells: _*), schema)),
          tables.map { case (fid, t) => fid -> IndexedSeq(t.pool(0), t.pool(1)) })
      } else {
        val r = Ranks.bucketed[String](yh, "fid", "y", Seq("all", "sub"))
        (r.frame.select(col("fid"), col("y"), col("rank_all"), col("rank_sub")), r.pools)
      }
    val ties = pools.map { case (fid, p) => fid -> (p(0).tieCorrection, p(1).tieCorrection) }
    val stats = ylh.join(ranked, Seq("fid", "y"))
      .groupBy(col("fid"), col("lbl"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("rank_all") * col("c")).as("ra"),
        sum(col("rank_sub") * col("c")).as("rs"),
        sum(col("y") * col("c")).as("sy"),
        sum(col("y") * col("y") * col("c")).as("syy")
      )
      .collect()
    // the exact median histograms are ylh itself (one collect)
    val yHists: YHists =
      if (!s.withYHists) Map.empty
      else if (s.approxMedian) s.gridYHists(prep)
      else ylh.collect().groupBy(_.getString(0)).view.mapValues { rows =>
        rows.groupBy(_.getString(1)).view.mapValues(_.map(r => (r.getDouble(2), r.getLong(3).toDouble))).toMap
      }.toMap
    val byFid = stats.groupBy(_.getString(0)).view.mapValues(_.map { r =>
      r.getString(1) -> ((r.getLong(2).toDouble, r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    }.toMap).toMap
    (byFid, ties, yHists)
  }

  // ------------------------------------------- target_median y histograms

  /** percentile grid resolution for the gated approx-median path: 201
    * points → rank error ≤ 1/(2·200) = 0.25% of a modality's mass, far
    * below carving granularity (min_freq is ≥ 1%-scale)
    */
  private[carve] val MedianGridK = 200
  private[carve] val MedianAccuracy = 10000

  private def medianGridAgg(y: Column): Column = {
    val probs = (0 to MedianGridK).map(_.toDouble / MedianGridK)
    percentile_approx(y, typedlit(probs), lit(MedianAccuracy)).as("qs")
  }

  /** Synthetic integer-weighted histogram from a modality's percentile grid:
    * the n observations spread evenly over the K+1 grid values (remainder
    * to the leading slots, duplicates merged). Mergeable across adjacent
    * bins exactly like the exact histogram, and [[Continuous.weightedMedian]]
    * over it approximates the true median within the grid spacing.
    */
  private[carve] def synthHist(n: Long, qs: Seq[Double]): Array[(Double, Double)] = {
    if (qs == null || qs.isEmpty || n <= 0L) return Array.empty
    val k = qs.length
    val base = n / k
    val rem = (n % k).toInt
    val acc = mutable.LinkedHashMap.empty[Double, Double]
    var i = 0
    while (i < k) {
      val w = (base + (if (i < rem) 1L else 0L)).toDouble
      if (w > 0) acc(qs(i)) = acc.getOrElse(qs(i), 0.0) + w
      i += 1
    }
    acc.toArray
  }

  /** Per-(feature, modality) y histogram over a `(fid, lbl, y)` frame —
    * exact grouped counts below the cardinality gate, the percentile grid
    * above it (the collect is then bounded by modalities × (K+1) no matter
    * how continuous y is).
    */
  private def yHistsOf(long: DataFrame, approx: Boolean): YHists =
    if (approx) {
      val h = long.groupBy(col("fid"), col("lbl"))
        .agg(count(lit(1)).as("n"), medianGridAgg(col("y"))).collect()
      h.groupBy(_.getString(0)).view.mapValues { rows =>
        rows.map(r => r.getString(1) -> synthHist(r.getLong(2), r.getSeq[Double](3))).toMap
      }.toMap
    } else {
      val h = long.groupBy(col("fid"), col("lbl"), col("y")).agg(count(lit(1)).as("c")).collect()
      h.groupBy(_.getString(0)).view.mapValues { rows =>
        rows.groupBy(_.getString(1)).view.mapValues(_.map(r => (r.getDouble(2), r.getLong(3).toDouble)).toArray).toMap
      }.toMap
    }

  private def searchContinuous(
      spec: FeatureSpec,
      p: Prep,
      sub: Continuous.RankXagg,
      full: Continuous.RankXagg,
      devX: Option[Continuous.RankXagg],
      config: Config,
      folds: Seq[Continuous.RankXagg],
      // per-label (n, Σy, Σy²) for the per-bin sample std (M4 drift tests)
      moments: Map[String, (Double, Double, Double)],
      dpMemo: Dp.CandMemo
  ): FittedFeature = {
    val ev = Search.Evaluator(config.maxNMod, config.minFreq, config.minFreqAlpha, config.topKInitial,
      config.escalate, config.rescue, config.history, memo = Some(dpMemo))
    val (best, history) = ev.search(Continuous.KruskalMeasure(sub), full, devX, folds, p.layout.hasNan)
    best match {
      case None => assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN, history)
      case Some(Search.Found(combination, (_, h), rates)) =>
        // per-bin sample std (ddof=1) from the (n, Σy, Σy²) label moments —
        // the Welch-drift reference the stability monitor needs (M4)
        val stds = combination.map { g =>
          val ms = g.flatMap(l => moments.get(l))
          val n = ms.map(_._1).sum; val s = ms.map(_._2).sum; val ss = ms.map(_._3).sum
          if (n < 2) Double.NaN else math.sqrt(math.max(0.0, (ss - s * s / n) / (n - 1)))
        }
        assembleFitted(spec, p.layout, combination, rates, h, Double.NaN, history).copy(stds = stds)
    }
  }
}
