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
  * Cluster shape: pass 1 = the sketch (which also reads distinct-y and
  * counts NaN y) and the shared per-value histogram (prebins, counts, Σy);
  * pass 2 = exact average-rank statistics per (feature, modality): one
  * persisted `(feature, modality, y) → count` aggregate, whose per-(feature,
  * y) counts [[graft.stats.Ranks]] ranks in two pools (all rows, and rows
  * outside the NaN modality — rank bases differ, see
  * [[Continuous.bestCombination]]): on the driver when the HLL distinct-y
  * reading puts the pool table under [[Stats.LocalRankRows]] rows, as a
  * bucketed window above it. The ranks join back to the aggregate and
  * `groupBy(feature, modality).agg(n, Σrank, Σy)` collects once.
  */
object ContinuousCarver {
  import BinaryCarver.{FeatureSpec, FittedFeature, Layout, Model, Prep, Config, NanLabel, OtherLabel, assembleFitted}

  /** Cluster products of a continuous fit that do NOT depend on the rate
    * strategy: prebin state, rank statistics, tie corrections, the
    * distinct-y gate reading. A caller fitting several configs over the
    * SAME (train, specs) — e.g. target_mean and target_median — computes
    * these once and calls [[fitFromStages]] per config (guide §1.2: the
    * distributed algorithm first; re-scanning identical passes per config
    * is pure waste). `yHists` is the optional per-modality y histogram the
    * median rate needs (filled when the stages were computed for a
    * median fit; [[fitFromStages]] recomputes it in one job otherwise).
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
      yHists: Map[String, Map[String, Array[(Double, Double)]]],
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

  /** The cluster passes shared across rate strategies: sketch (+ distinct-y
    * gate on the same job), histogram, and the exact rank-stat aggregation
    * — restructured (optimization round 7) around ONE persisted
    * `(feature, modality, y) → count` aggregate that every downstream
    * collect derives from, instead of re-scanning the input per collect:
    * 3 input scans total (sketch, histogram, rank aggregate) where the
    * previous shape paid 5-6 for a median fit.
    */
  def computeStages(
      train: DataFrame,
      target: String,
      specs0: Seq[FeatureSpec],
      config: Config,
      withYHists: Boolean = false
  ): Stages = boundedStages(train, target, specs0, config, withYHists, Stats.LocalRankRows)

  /** [[computeStages]] with the row bound of the driver-side rank table as
    * a parameter, so a test can reach both rank branches on small data.
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
    // otherwise surface as a raw ANSI cast error inside the rank job)
    require(train.schema(target).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"[ContinuousCarver] y ('$target') must be numeric; got ${train.schema(target).dataType.simpleString}")
    // ---- pass 1: shared histogram → prebins (quantile edges, merges, OTHER).
    // cv>1 folds ride the SAME scan (fold key as one more groupBy column).
    // The R4 distinct-y gate rides the SKETCH job as one extra aggregate —
    // previously its own full scan of (possibly expensive) y.
    val (sketched, sketchRow) = BinaryCarver.sketchWithExtras(train, specs, config,
      Seq(approx_count_distinct(col(target)).as("__graft_y_acd"),
        count(when(isnan(col(target).cast("double")) || col(target).isNull, 1)).as("__graft_y_nan")))
    // the reference raises on NaN y (`base_discretizer._prepare_y`)
    require(!sketchRow.exists(_.getAs[Long]("__graft_y_nan") > 0),
      s"[ContinuousCarver] y ('$target') should not contain NaN/null")
    val distinctY = sketchRow.map(_.getAs[Long]("__graft_y_acd")).getOrElse(-1L)
    val hist = Crosstab.stage(train, target, specs, sketched, Crosstab.Summed(),
      Crosstab.folds(config.cv, config.foldCol))(Crosstab.summed)
    val trainHist = hist.total
    // the nested rollup's target sort is mean(y) per bucket, which the
    // summed view's Σy carries
    val prep = Prebin.prepAll(specs, trainHist, Prebin.Summed, config.minFreq, config.minFreqAlpha,
      config.rescue, config.maxHistogramRows)

    // ---- pass 2: rank stats per (feature, modality), both rank bases
    val approxMedian = withYHists && distinctY > medianGateThreshold(config, specs.length)
    val (rows, ties, yHists) =
      rankStatsJob(train, target, specs, prep, withYHists, approxMedian, distinctY, rankRows)
    Stages(config, sketched, distinctY, trainHist, hist.folds, prep, rows, ties, yHists)
  }

  /** Driver-side search per rate strategy over precomputed [[Stages]]; the
    * only cluster work left is the median path's y histograms (one job)
    * when the stages were computed without them, plus any dev/fold median
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
    val yHists: Map[String, Map[String, Array[(Double, Double)]]] =
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
    val foldYHists: Seq[Map[String, Map[String, Array[(Double, Double)]]]] =
      if (!withMedians || config.cv <= 1) Seq.fill(foldHists.length)(Map.empty)
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
            }.toMap: Map[String, Map[String, Array[(Double, Double)]]]
          }
        } else {
          val rows = long.groupBy(col("__fold"), col("fid"), col("lbl"), col("y"))
            .agg(count(lit(1)).as("c")).collect()
          (0 until config.cv).map { f =>
            rows.filter(_.getLong(0) == f).groupBy(_.getString(1)).view.mapValues { rs =>
              rs.groupBy(_.getString(2)).view.mapValues(_.map(r => (r.getDouble(3), r.getLong(4).toDouble)).toArray).toMap
            }.toMap: Map[String, Map[String, Array[(Double, Double)]]]
          }
        }
      }
    val devYHists: Map[String, Map[String, Array[(Double, Double)]]] =
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
          yh: Map[String, Map[String, Array[(Double, Double)]]]): Option[Continuous.RankXagg] =
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

  /** Exact average-rank statistics per (feature, modality), both rank
    * bases, as plain collected data:
    * `(rows: fid -> lbl -> (n, Σrank_all, Σrank_sub, Σy, Σy²),
    *   ties: fid -> (tieCorr_all, tieCorr_sub), yHists)`.
    *
    * Restructured (optimization round 7, guide §1.2/§2.3): ONE persisted
    * `(fid, lbl, y) → count` aggregate (`ylh`) feeds every downstream
    * derivation — the per-(fid, y) pools, the bucket offsets + tie sums
    * (one combined collect), the rank join, and (exact path) the median
    * y histograms — instead of re-scanning the input table per collect.
    * All downstream sums weight by the count: ranks are exact multiples
    * of 0.5 and counts are integers, so the weighted sums equal the
    * previous per-row sums exactly (no floating-point divergence for
    * integer-valued rank/count arithmetic; Σy re-associates identically
    * to the previous grouped shuffle).
    */
  private def rankStatsJob(
      df: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      prep: Map[String, Prep],
      withMedians: Boolean,
      approxMedian: Boolean,
      // approx_count_distinct(y) from the sketch job; -1 = unknown. Chooses
      // the rank STRATEGY only — both strategies produce identical ranks —
      // so the ±2% HLL error is harmless.
      approxDistinctY: Long,
      rankRows: Long
  ): (Map[String, Map[String, (Double, Double, Double, Double, Double)]],
      Map[String, (Double, Double)],
      Map[String, Map[String, Array[(Double, Double)]]]) = {
    val long = longForm(df, target, specs, prep)

    // the ONE aggregation of the input: (feature, modality, y) → count.
    // Cardinality-sized (modalities × distinct-y per feature); persisted so
    // the three downstream actions derive from it instead of replaying the
    // full table scan + explode each.
    val ylh = long.groupBy(col("fid"), col("lbl"), col("y"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try rankStatsOf(df, specs, long, ylh, withMedians, approxMedian, approxDistinctY, rankRows)
    finally ylh.unpersist()
  }

  /** [[rankStatsJob]]'s derivations from the persisted aggregate `ylh`. */
  private def rankStatsOf(
      df: DataFrame,
      specs: Seq[FeatureSpec],
      long: DataFrame,
      ylh: DataFrame,
      withMedians: Boolean,
      approxMedian: Boolean,
      approxDistinctY: Long,
      rankRows: Long
  ): (Map[String, Map[String, (Double, Double, Double, Double, Double)]],
      Map[String, (Double, Double)],
      Map[String, Map[String, Array[(Double, Double)]]]) = {
    // per-(feature, y) counts of the two rank pools: all rows ("all") and
    // non-NaN-modality rows ("sub")
    val yh = ylh.groupBy(col("fid"), col("y"))
      .agg(
        sum(col("c")).as("all"),
        sum(when(col("lbl") =!= NanLabel, col("c")).otherwise(0L)).as("sub")
      )

    // Size-adaptive rank table (guide §1.2): a LOW-cardinality y (integer
    // scores, counts, grades — the common regression targets) has a tiny
    // per-(feature, y) pool table, ranked on the driver from ONE collect of
    // `yh`; a high-cardinality y (pool table ~|rows|, never collected) is
    // ranked by the bucketed window. Both give the identical ranks.
    val localYh = approxDistinctY >= 0 && approxDistinctY * math.max(1, specs.length).toLong <= rankRows
    val (ranked, pools) =
      if (localYh) {
        val tables = yh.collect().groupBy(_.getString(0)).map { case (fid, rows) =>
          fid -> Ranks.local(rows.map(r => (r.getDouble(1), Array(r.getLong(2), r.getLong(3)))))
        }
        val cells = for ((fid, t) <- tables.toSeq; j <- t.values.indices)
          yield Row(fid, t.values(j), t.rank(0, j), t.rank(1, j))
        val schema = StructType(Seq("fid" -> StringType, "y" -> DoubleType,
          "rank_all" -> DoubleType, "rank_sub" -> DoubleType).map { case (n, t) => StructField(n, t) })
        (broadcast(df.sparkSession.createDataFrame(java.util.Arrays.asList(cells: _*), schema)),
          tables.map { case (fid, t) => fid -> IndexedSeq(t.pool(0), t.pool(1)) })
      } else {
        val r = Ranks.bucketed[String](yh, "fid", "y", Seq("all", "sub"))
        (r.frame.select(col("fid"), col("y"), col("rank_all"), col("rank_sub")), r.pools)
      }
    val ties = pools.map { case (fid, p) => fid -> (p(0).tieCorrection, p(1).tieCorrection) }

    // modality stats: the rank join runs over the cardinality-sized ylh
    // (both sides derived from the persisted aggregate), count-weighted —
    // never over the full long-form frame. Σy and Σy² sum in the join's row
    // order, which differs between a broadcast and a shuffled join, so the
    // two branches may differ in their last bits there (ranks never do).
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

    // per-(feature, modality) y histogram for the median rate (R4): the
    // exact path IS the persisted ylh aggregate (one cheap collect); the
    // gated approx path runs its percentile grid over the raw long frame
    val yHists: Map[String, Map[String, Array[(Double, Double)]]] =
      if (!withMedians) Map.empty
      else if (approxMedian) yHistsOf(long, approx = true)
      else {
        val h = ylh.collect()
        h.groupBy(_.getString(0)).view.mapValues { rows =>
          rows.groupBy(_.getString(1)).view.mapValues(
            _.map(r => (r.getDouble(2), r.getLong(3).toDouble)).toArray).toMap
        }.toMap
      }

    val byFid = mutable.Map.empty[String, mutable.Map[String, (Double, Double, Double, Double, Double)]]
    stats.foreach { r =>
      byFid.getOrElseUpdate(r.getString(0), mutable.Map.empty)(r.getString(1)) =
        ((r.getLong(2).toDouble, r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    }
    (byFid.view.mapValues(_.toMap).toMap, ties, yHists)
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
  private def yHistsOf(long: DataFrame, approx: Boolean): Map[String, Map[String, Array[(Double, Double)]]] =
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
      folds: Seq[Continuous.RankXagg] = Nil,
      // per-label (n, Σy, Σy²) for the per-bin sample std (M4 drift tests)
      moments: Map[String, (Double, Double, Double)] = Map.empty,
      dpMemo: Dp.CandMemo = null
  ): FittedFeature = {
    val (best, history) = Search.withRescue(config.minFreq, config.rescue, devX.nonEmpty || folds.nonEmpty,
        config.history) { (minFreq, sink) =>
      Continuous.bestCombination(sub, full, devX, config.maxNMod, minFreq, config.minFreqAlpha,
        p.layout.hasNan, NanLabel, config.topKInitial, config.escalate, folds,
        histSink = sink, rescueMode = minFreq.isEmpty, dpMemo = dpMemo)
    }
    best match {
      case None => assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN, history)
      case Some((combination, h, rates)) =>
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
