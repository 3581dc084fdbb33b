package graft.carve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Regression carver (`carvers/continuous_carver.py`): same prebin pipeline
  * as the binary carver, Kruskal-Wallis H association instead of chi².
  *
  * Cluster shape: pass 1 = the shared per-value histogram (prebins, counts,
  * Σy); pass 2 = exact average-rank statistics per (feature, modality):
  * `groupBy(feature, y).count()` → per-feature cumulative window → join
  * back → `groupBy(feature, modality).agg(n, Σrank, Σy)`, computed twice
  * (with and without each feature's NaN rows pooled — rank bases differ,
  * see [[Continuous.bestCombination]]) in the same aggregation.
  */
object ContinuousCarver {
  import BinaryCarver.{FeatureSpec, FittedFeature, Model, Prep, Config, NanLabel, OtherLabel}

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
  ): Stages = {
    val specs = BinaryCarver.guardTarget(target, specs0)
    require(config.dropna,
      "[ContinuousCarver] dropna=false is only supported by the binary/OvR search path")
    BinaryCarver.validateInputs(train, target, specs)
    // reference: y must be numeric for a continuous fit (a string y would
    // otherwise surface as a raw ANSI cast error inside the rank job)
    require(train.schema(target).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"[ContinuousCarver] y ('$target') must be numeric; got ${train.schema(target).dataType.simpleString}")
    val halfMinFreq = config.minFreq / 2.0
    val q = math.rint(1.0 / halfMinFreq).toInt

    // ---- pass 1: shared histogram → prebins (quantile edges, merges, OTHER).
    // cv>1 folds ride the SAME scan (fold key as one more groupBy column).
    // The R4 distinct-y gate rides the SKETCH job as one extra aggregate —
    // previously its own full scan of (possibly expensive) y.
    val (sketched, sketchRow) = BinaryCarver.sketchWithExtras(train, specs, config,
      Seq(approx_count_distinct(col(target)).as("__graft_y_acd")))
    val distinctY = sketchRow.map(_.getAs[Long]("__graft_y_acd")).getOrElse(-1L)
    val (trainHist, foldHists) =
      if (config.cv > 1) BinaryCarver.histogramWithFolds(train, target, specs, config.cv, sketched, Option(config.foldCol))
      else (BinaryCarver.histogram(train, target, specs, sketched), Nil)
    def totalOf(name: String): Long = trainHist(name).map(_.count).sum
    val prep: Map[String, Prep] = specs.map { s =>
      s.name -> (s.kind match {
        case "quantitative" =>
          BinaryCarver.prepQuantitative(trainHist(s.name), totalOf(s.name), q, halfMinFreq, config)
        case "ordinal" =>
          BinaryCarver.prepOrdinal(trainHist(s.name), totalOf(s.name), s.ordinalOrder, halfMinFreq, config)
        case "nested" =>
          // same rollup semantics as the binary integration: the target-rate
          // sort is mean(y) per bucket, which HistRow's sumY already carries
          BinaryCarver.prepNested(s, trainHist(s.name), totalOf(s.name), halfMinFreq, config)
        case _ =>
          BinaryCarver.prepCategorical(trainHist(s.name), totalOf(s.name), halfMinFreq, config)
      })
    }.toMap

    // ---- pass 2: rank stats per (feature, modality), both rank bases
    val approxMedian = withYHists && distinctY > medianGateThreshold(config, specs.length)
    val (rows, ties, yHists) =
      rankStatsJob(train, target, specs, prep, withYHists, approxMedian, distinctY)
    Stages(config, sketched, distinctY, trainHist, foldHists, prep, rows, ties, yHists)
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
        val entries = specs.map(sp => struct(lit(sp.name).as("fid"), labelExpr(sp, prep(sp.name)).as("lbl")))
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
        val entries = specs.map(s => struct(lit(s.name).as("fid"), labelExpr(s, prep(s.name)).as("lbl")))
        val long = d.select(explode(array(entries: _*)).as("e"), y.as("y"))
          .select(col("e.fid").as("fid"), col("e.lbl").as("lbl"), col("y"))
        yHistsOf(long, approxMedian)
      }.getOrElse(Map.empty)

    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fitted = Await.result(Future.traverse(specs.toVector) { spec =>
      Future {
        val p = prep(spec.name)
        val (sub, full, moments) = rankStats(spec.name)
        def view(h: Map[String, Array[BinaryCarver.HistRow]],
            yh: Map[String, Map[String, Array[(Double, Double)]]]): Continuous.RankXagg = {
          val x = BinaryCarver.devXaggOf(spec, p, h.getOrElse(spec.name, Array.empty))
          // RankXagg view of a validation sample (ranks unused by vetoes);
          // the median rate additionally needs the y histogram per modality
          Continuous.RankXagg(x.labels, x.labels.indices.map(i => x.n0(i) + x.n1(i)).toArray,
            new Array[Double](x.labels.length), x.n1, 1.0,
            if (withMedians) "target_median" else "target_mean",
            yh.getOrElse(spec.name, Map.empty))
        }
        val devX = devHist.map(view(_, devYHists))
        val foldXs = foldHists.zip(foldYHists).map { case (h, yh) => view(h, yh) }
          .filter(_.labels.nonEmpty)
        searchContinuous(spec, p, sub, full, devX.filter(_.labels.nonEmpty), config, foldXs, moments,
          stages.dpMemo)
      }
    }, Duration.Inf)

    Model(target, config.minFreq, config.maxNMod, "kruskal", fitted)
  }

  /** Modality-label column for one prepped feature (fit-time only).
    * Quantitative: the same O(log E) codegen binary search the transform
    * path uses ([[graft.transform.BinarySearchBucketize]] — identical
    * `searchsorted(side='left')` semantics as the former chained
    * `when(x <= e_i)` ladder) + one O(1) literal-array label lookup.
    */
  private def labelExpr(spec: FeatureSpec, p: Prep): Column =
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
      struct(lit(s.name).as("fid"), labelExpr(s, prep(s.name)).as("lbl"))
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
      withMedians: Boolean = false,
      approxMedian: Boolean = false,
      // approx_count_distinct(y) from the sketch job; -1 = unknown. Chooses
      // the rank STRATEGY only — both strategies produce identical ranks —
      // so the ±2% HLL error is harmless.
      approxDistinctY: Long = -1L
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
    try rankStatsOf(df, target, specs, long, ylh, withMedians, approxMedian, approxDistinctY)
    finally ylh.unpersist()
  }

  /** [[rankStatsJob]]'s derivations from the persisted aggregate `ylh`. */
  private def rankStatsOf(
      df: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      long: DataFrame,
      ylh: DataFrame,
      withMedians: Boolean,
      approxMedian: Boolean,
      approxDistinctY: Long
  ): (Map[String, Map[String, (Double, Double, Double, Double, Double)]],
      Map[String, (Double, Double)],
      Map[String, Map[String, Array[(Double, Double)]]]) = {
    // per-(feature, y): counts over all rows and over non-NaN-modality rows
    val yh = ylh.groupBy(col("fid"), col("y"))
      .agg(
        sum(col("c")).as("ca"),
        sum(when(col("lbl") =!= NanLabel, col("c")).otherwise(0L)).as("cs")
      )

    // Size-adaptive rank table (guide §1.2): a LOW-cardinality y (integer
    // scores, counts, grades — the common regression targets) has a tiny
    // per-(feature, y) pool table, so the exclusive cumsums/ranks/ties
    // compute exactly on the driver from ONE collect of `yh` — no
    // approxQuantile pass, no bucket offsets, no window. Ranks are the
    // identical cum + (c+1)/2 arithmetic either way; the distributed
    // bucket-window path below remains for high-cardinality y (where the
    // pool table is ~|rows| and must never be collected).
    val localYh = approxDistinctY >= 0 &&
      approxDistinctY * math.max(1, specs.length).toLong <= Stats.LocalRankRows
    if (localYh) {
      val yhRows = yh.collect()
      require(!yhRows.exists(_.isNullAt(1)),
        s"[ContinuousCarver] y ('$target') should not contain NaN/null")
      val rankRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      val ties = yhRows.groupBy(_.getString(0)).map { case (fid, rows) =>
        val sorted = rows.sortBy(_.getDouble(1))
        var cuma = 0L; var cums = 0L
        var ta = 0L; var na = 0L; var ts = 0L; var ns = 0L
        sorted.foreach { r =>
          val y = r.getDouble(1); val ca = r.getLong(2); val cs = r.getLong(3)
          rankRows.add(org.apache.spark.sql.Row(fid, y,
            cuma + (ca + 1) / 2.0, cums + (cs + 1) / 2.0))
          cuma += ca; cums += cs
          ta += ca * ca * ca - ca; na += ca
          ts += cs * cs * cs - cs; ns += cs
        }
        val tca = if (na < 2) 1.0 else 1.0 - ta.toDouble / (na.toDouble * na * na - na)
        val tcs = if (ns < 2) 1.0 else 1.0 - ts.toDouble / (ns.toDouble * ns * ns - ns)
        fid -> (tca, tcs)
      }
      val rankedLocal = df.sparkSession.createDataFrame(rankRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fid", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rank_all", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rank_sub", org.apache.spark.sql.types.DoubleType))))
      val stats = ylh.join(broadcast(rankedLocal), Seq("fid", "y"))
        .groupBy(col("fid"), col("lbl"))
        .agg(
          sum(col("c")).as("n"),
          sum(col("rank_all") * col("c")).as("ra"),
          sum(col("rank_sub") * col("c")).as("rs"),
          sum(col("y") * col("c")).as("sy"),
          sum(col("y") * col("y") * col("c")).as("syy")
        )
        .collect()
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
      return (byFid.view.mapValues(_.toMap).toMap, ties, yHists)
    }

    // Exclusive cumulative counts over y-order within each feature, WITHOUT
    // a per-feature single-task window (a web-scale continuous target has
    // ~one distinct y per row): range-bucket y by approximate global splits
    // (exactness unaffected — buckets only partition the cumsum), collect
    // the small per-(fid, bucket) totals for driver-side exclusive offsets,
    // and run the within-bucket window partitioned by (fid, bucket) — the
    // same shape proven in prebin/Quantiles.exactEdgesDF.
    val ySplits = yh.stat.approxQuantile("y", (1 until 32).map(_ / 32.0).toArray, 0.05)
      .filterNot(_.isNaN).distinct.sorted
    val bucketCol = graft.transform.BinarySearchBucketize.column(
      col("y"), ySplits.toVector, ySplits.indices.toVector :+ ySplits.length, nanBin = -1)
    val yhB = yh.withColumn("bucket", bucketCol)
    // bucket totals AND per-feature tie sums from ONE collect (the tie
    // correction needs only per-(fid, y) counts, which this grouping
    // already sums — the previous separate ties job re-derived them)
    val perBucketRows = yhB.groupBy(col("fid"), col("bucket"))
      .agg(sum(col("ca")).as("na"), sum(col("cs")).as("ns"),
        sum(col("ca") * col("ca") * col("ca") - col("ca")).as("ta"),
        sum(col("cs") * col("cs") * col("cs") - col("cs")).as("ts"))
      .collect()
    // a null bucket is exactly a null/NaN y row (BucketizeExpr nanBin=-1):
    // the reference raises on NaN y (`base_discretizer._prepare_y`) — and
    // a null here would NPE in the offset sort below
    require(!perBucketRows.exists(_.isNullAt(1)),
      s"[ContinuousCarver] y ('$target') should not contain NaN/null")
    val perBucket = perBucketRows
      .groupBy(_.getString(0))
      .map { case (fid, rows) =>
        val sorted = rows.sortBy(_.getInt(1))
        val offs = sorted.scanLeft((0, 0L, 0L)) { case ((_, a, s), r) =>
          (r.getInt(1), a + r.getLong(2), s + r.getLong(3))
        }.init.zip(sorted).map { case ((_, offA, offS), r) => r.getInt(1) -> (offA, offS) }
        fid -> offs.toMap
      }
    // per-feature tie corrections for both pools (driver sum over buckets —
    // same long arithmetic as the previous per-fid aggregation)
    val ties = perBucketRows.groupBy(_.getString(0)).map { case (fid, rows) =>
      var ta = 0L; var na = 0L; var ts = 0L; var ns = 0L
      rows.foreach { r =>
        ta += r.getLong(4); na += r.getLong(2); ts += r.getLong(5); ns += r.getLong(3)
      }
      val tca = if (na < 2) 1.0 else 1.0 - ta.toDouble / (na.toDouble * na * na - na)
      val tcs = if (ns < 2) 1.0 else 1.0 - ts.toDouble / (ns.toDouble * ns * ns - ns)
      fid -> (tca, tcs)
    }
    def offsetExpr(pick: ((Long, Long)) => Long): Column = {
      val entries = perBucket.toSeq.flatMap { case (fid, offs) =>
        offs.toSeq.map { case (b, o) => s"$fid#$b" -> pick(o) }
      }.toMap
      if (entries.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(entries), concat_ws("#", col("fid"), col("bucket"))), lit(0L))
    }
    val w = Window.partitionBy(col("fid"), col("bucket")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = yhB
      .withColumn("cuma", coalesce(sum(col("ca")).over(w), lit(0L)) + offsetExpr(_._1))
      .withColumn("cums", coalesce(sum(col("cs")).over(w), lit(0L)) + offsetExpr(_._2))
      .withColumn("rank_all", col("cuma") + (col("ca") + 1) / 2.0)
      .withColumn("rank_sub", col("cums") + (col("cs") + 1) / 2.0)

    // modality stats: the rank join runs over the cardinality-sized ylh
    // (both sides derived from the persisted aggregate), count-weighted —
    // never over the full long-form frame
    val stats = ylh.join(ranked.select(col("fid"), col("y"), col("rank_all"), col("rank_sub")), Seq("fid", "y"))
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
    val histBuf =
      if (config.history) scala.collection.mutable.ArrayBuffer.empty[Search.HistoryEntry] else null
    def run(minFreq: Option[Double]) = Continuous.bestCombination(
      sub, full, devX, config.maxNMod, minFreq, config.minFreqAlpha,
      p.hasNan, NanLabel, config.topKInitial, config.escalate, folds,
      histSink = histBuf, rescueMode = minFreq.isEmpty, dpMemo = dpMemo)
    val normal = run(Some(config.minFreq))
    // rescue-rare (C13): min_freq waived when a validation view exists
    val best =
      if (normal.isEmpty && config.rescue && (devX.nonEmpty || folds.nonEmpty)) run(None)
      else normal
    best match {
      case None =>
        FittedFeature(spec.name, p.kind, p.prebinEdges, Vector.empty, Map.empty,
          -1, -1, p.hasNan, p.hasDefault, Vector.empty, Double.NaN, Double.NaN,
          Vector.empty, dropped = true, droppedReason = "no viable combination",
          history = if (histBuf == null) Vector.empty else histBuf.toVector)
      case Some((combination, h, rates)) =>
        val labelToBin = combination.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
        val nanBin = labelToBin.getOrElse(NanLabel, -1)
        // per-bin sample std (ddof=1) from the (n, Σy, Σy²) label moments —
        // the Welch-drift reference the stability monitor needs (M4)
        val stds = combination.map { g =>
          val ms = g.flatMap(l => moments.get(l))
          val n = ms.map(_._1).sum; val s = ms.map(_._2).sum; val ss = ms.map(_._3).sum
          if (n < 2) Double.NaN else math.sqrt(math.max(0.0, (ss - s * s / n) / (n - 1)))
        }
        if (p.kind == "quantitative") {
          val prebinToBin = p.prebinLeader.map(l => labelToBin.getOrElse(l, -1))
          val binLabels = BinaryCarver.quantBinLabels(combination, p, nanBin)
          FittedFeature(spec.name, p.kind, p.prebinEdges, prebinToBin, Map.empty,
            nanBin, -1, p.hasNan, p.hasDefault, binLabels, h, Double.NaN, rates,
            dropped = false, droppedReason = "", stds = stds,
            history = if (histBuf == null) Vector.empty else histBuf.toVector)
        } else {
          val valueToBin = p.valueToRaw.collect {
            case (v, raw) if labelToBin.contains(raw) => v -> labelToBin(raw)
          }
          // nested: zero-mass default joins the last bin (reference
          // has_default semantics; see BinaryCarver.searchFeature)
          val otherBin =
            if (p.kind == "nested") labelToBin.getOrElse(OtherLabel, combination.length - 1)
            else labelToBin.getOrElse(OtherLabel, -1)
          val binLabels0 = combination.map(g =>
            g.flatMap(l => p.members.getOrElse(l, Vector(l))).mkString(", "))
          val binLabels =
            if (p.kind == "nested" && !labelToBin.contains(OtherLabel))
              binLabels0.updated(otherBin, binLabels0(otherBin) + s", $OtherLabel")
            else binLabels0
          val leaderToBin =
            if (p.kind == "nested")
              labelToBin.filterNot { case (l, _) => l == NanLabel || l == OtherLabel }
            else Map.empty[String, Int]
          FittedFeature(spec.name, p.kind, Vector.empty, Vector.empty, valueToBin,
            nanBin, otherBin, p.hasNan, p.hasDefault, binLabels, h, Double.NaN,
            rates, dropped = false, droppedReason = "", stds = stds,
            parents = if (p.kind == "nested") spec.parents.toVector else Vector.empty,
            leaderToBin = leaderToBin,
            history = if (histBuf == null) Vector.empty else histBuf.toVector)
        }
    }
  }
}
