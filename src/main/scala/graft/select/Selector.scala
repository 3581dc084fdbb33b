package graft.select

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.carve.{BinaryCarver, Stats}
import graft.stats.Ranks

/** Feature pre-selection (SURVEY.md §2.7, reference `selectors/`):
  * gate metrics, association ranking vs the target, redundancy filtering,
  * and the best-first selection walk.
  *
  * Cluster shape: every measure of one call derives from two aggregates
  * ([[Aggregates]]): ONE global aggregation over the quantitative block
  * and ONE grouped long-form count holding the quantitative melt, the
  * qualitative histogram and the qualitative pair crosstab, run side by
  * side. Below [[Stats.LocalRankRows]] grouped rows the driver computes
  * every gate, rank measure and redundancy matrix from the collected
  * table; above it the ranks stay bucketed windows over the same grouped
  * frame. The best-first walk launches zero Spark jobs.
  */
object Selector {

  final case class FeatureRank(
      name: String,
      kind: String,
      nanFreq: Double,
      modeFreq: Double,
      cardinality: Long,
      association: Double, // ranking measure: |pearson| or Cramér's V
      spearman: Double,
      passedGates: Boolean
  )

  final case class Config(
      maxNanFreq: Double = 0.999,
      maxModeFreq: Double = 0.999,
      redundancyThreshold: Double = 0.9,
      nBest: Int = 10,
      // outlier gates (F3, `quantitative_measures.py:290-330`): max allowed
      // outlier rate per quantitative feature; None disables the gate
      maxZscoreOutlierRate: Option[Double] = None,
      maxIqrOutlierRate: Option[Double] = None,
      // F5: ONE total budget apportioned across kinds by largest-remainder
      // (`base_selector.py:395-411`); None keeps the per-kind nBest cap
      totalBudget: Option[Int] = None
  )

  /** Largest-remainder apportionment of a total selection budget across
    * feature kinds (`base_selector.py:split_budget`): floor of the
    * proportional share per kind, leftover seats to the largest fractional
    * parts. A budget >= the feature count means no cap.
    */
  def splitBudget(nBest: Int, counts: Seq[(String, Int)]): Map[String, Int] = {
    val total = counts.map(_._2).sum
    if (total == 0 || nBest >= total) return counts.toMap
    val exact = counts.map { case (k, c) => k -> (nBest.toDouble * c / total) }
    val floor = exact.map { case (k, e) => k -> e.toInt }.toMap
    val leftover = nBest - floor.values.sum
    // ties on the fractional part resolve by input order (Python's stable
    // sort over the insertion-ordered dict — quantitatives first)
    val bump = exact.zipWithIndex
      .sortBy { case ((k, e), i) => (-(e - floor(k)), i) }
      .take(leftover).map(_._1._1).toSet
    floor.map { case (k, v) => k -> (if (bump(k)) v + 1 else v) }
  }

  /** Sufficient statistics of one feature's rank pool of `(x, g, count)`
    * cells, x ranked (average ranks) and g the groups: `ssbn = Σ_g R_g²/n_g`,
    * the x pool `x` (total and tie sum), and the count-weighted Pearson sums
    * of (rank x, rank g), zero when g is not numeric. Both rank paths
    * produce it.
    */
  private final case class RankStats(n: Double, ssbn: Double, k: Double, x: Ranks.Pool,
      sx: Double, sxx: Double, sy: Double, syy: Double, sxy: Double) {
    def spearman: Double = {
      val den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      if (den == 0 || den.isNaN) Double.NaN else (n * sxy - sx * sy) / den
    }
    def kruskal: KruskalRow = {
      val h0 = 12.0 / (n * (n + 1.0)) * ssbn - 3.0 * (n + 1.0)
      // below two rows the tie correction is 0/0, so H is NaN
      val tie = if (x.n < 2) Double.NaN else x.tieCorrection
      val h = if (tie <= 0) Double.NaN else h0 / tie
      val eps = if (n > 1) h / (n - 1.0) else Double.NaN
      val eta = if (n - k > 0) math.max(0.0, (h - k + 1.0) / (n - k)) else Double.NaN
      KruskalRow(h, eps, eta)
    }
  }

  /** The two aggregates of one `(df, target, quants, quals)`, each run at
    * most once and only when a measure reads it:
    *
    *  - `global`: ONE `df.agg` row — per quantitative nan rate, Pearson
    *    vs the target and stddev, and every pairwise `covar_samp` (with
    *    `redundancy`);
    *  - `plan`: ONE `groupBy(fid, v, s, t, y).count()` over entries
    *    exploded from each row. fid numbers the quantitatives `(v, y)`,
    *    then the qualitatives `(s, y)`, then (with `redundancy`) the
    *    qualitative pairs `(s, t)`; strings are the raw `cast("string")`.
    *
    * The grouped pass collects at most `bound + 1` rows. Under the bound
    * that is the whole table and every measure is computed on the driver;
    * above it the grouped frame is persisted (released by [[release]]),
    * the count tables are collected reduced over y, and the ranks run as
    * bucketed windows.
    */
  private[select] final class Aggregates(val df: DataFrame, target: Option[String],
      val quants: Seq[String], val quals: Seq[String], redundancy: Boolean = false,
      bound: Long = Stats.LocalRankRows) {
    private val nq = quants.size
    private val nl = quals.size
    private def pairsOf(k: Int) = if (!redundancy) Vector.empty
      else for { i <- (0 until k).toVector; j <- i + 1 until k } yield (i, j)
    private val quantPairs = pairsOf(nq)
    private val qualPairs = pairsOf(nl)
    private def qx(i: Int): Column = col(quants(i)).cast("double")
    private def qs(j: Int): Column = col(quals(j)).cast("string")
    private val y = target.fold(lit(null).cast("double"))(t => col(t).cast("double"))
    private var persisted: Option[DataFrame] = None

    // submitted on first use, or by [[overlapped]] to run beside the grouped pass
    private lazy val globalJob: Future[Row] = Future {
      val aggs = (0 until nq).flatMap(i => Seq(avg(qx(i).isNull.cast("double")).as(s"nan$i"),
          safeCorr(qx(i), y).as(s"corr$i"), stddev_samp(qx(i)).as(s"sd$i"))) ++
        quantPairs.map { case (i, j) => covar_samp(qx(i), qx(j)).as(s"cv${i}_$j") }
      df.agg(aggs.head, aggs.tail: _*).head()
    }(ExecutionContext.global)
    private lazy val global: Row = Await.result(globalJob, Duration.Inf)
    def overlapped(): this.type = { if (nq > 0) globalJob; this }
    private def num(field: String): Option[Double] = Option(global.getAs[java.lang.Double](field)).map(_.toDouble)

    private lazy val plan: DataFrame = {
      val (d, str) = (lit(null).cast("double"), lit(null).cast("string"))
      def entry(fid: Int, v: Column, s: Column, t: Column, yv: Column) =
        struct(lit(fid).as("fid"), v.as("v"), s.as("s"), t.as("t"), yv.as("y"))
      val entries = (0 until nq).map(i => entry(i, qx(i), str, str, y)) ++
        (0 until nl).map(j => entry(nq + j, d, qs(j), str, y)) ++
        qualPairs.zipWithIndex.map { case ((a, b), k) => entry(nq + nl + k, d, qs(a), qs(b), d) }
      df.select(explode(array(entries: _*)).as("e"))
        .groupBy(Seq("fid", "v", "s", "t", "y").map(f => col(s"e.$f").as(f)): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    // (fid, v, s, t, y, cnt) rows, at most bound + 1
    private lazy val local: Array[Row] =
      if (nq + nl == 0) Array.empty else plan.limit((math.min(bound, Int.MaxValue - 1L) + 1).toInt).collect()
    private lazy val small = local.length <= bound
    private lazy val grouped: DataFrame = {
      if (!small) persisted = Some(plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      plan
    }

    /** Unpersists the above-bound grouped frame, if one was persisted. */
    def release(): Unit = persisted.foreach(_.unpersist())

    lazy val nanFreq: Map[String, Double] = quants.indices.map(i => quants(i) -> num(s"nan$i").getOrElse(0.0)).toMap
    lazy val pearson: Map[String, Double] =
      quants.indices.map(i => quants(i) -> num(s"corr$i").getOrElse(Double.NaN)).toMap

    private def symmetric(names: Seq[String])(f: (String, String) => Double): Map[(String, String), Double] =
      names.combinations(2).flatMap { case Seq(a, b) => val v = f(a, b); Seq((a, b) -> v, (b, a) -> v) }.toMap

    /** |Pearson| for every pair of `names` from the global row's stddevs
      * and covariances (0 when either side is constant or empty).
      */
    def corrMatrix(names: Seq[String]): Map[(String, String), Double] = {
      val idx = quants.zipWithIndex.toMap
      symmetric(names) { (a, b) =>
        val (i, j) = (math.min(idx(a), idx(b)), math.max(idx(a), idx(b)))
        (for {
          sa <- num(s"sd$i"); sb <- num(s"sd$j"); cv <- num(s"cv${i}_$j")
          if sa * sb > 0
        } yield math.abs(cv / (sa * sb))).getOrElse(0.0)
      }
    }

    /** Distinct non-null values per quantitative (the grouping normalises
      * NaN and -0.0 exactly like `count_distinct`).
      */
    lazy val cardinality: Map[String, Long] = {
      val byFid: Map[Int, Long] =
        if (small) local.filter(r => r.getInt(0) < nq && !r.isNullAt(1))
          .map(r => (r.getInt(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))).distinct
          .groupMapReduce(_._1)(_ => 1L)(_ + _)
        else grouped.filter(col("fid") < nq && col("v").isNotNull).groupBy("fid")
          .agg(count_distinct(col("v"))).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      quants.indices.map(i => quants(i) -> byFid.getOrElse(i, 0L)).toMap
    }

    // qualitative and pair cells reduced over y: (fid, s, t, count, Σ y·count)
    private lazy val counts: Array[(Int, String, String, Long, Double)] =
      if (nl == 0) Array.empty
      else if (small) local.filter(_.getInt(0) >= nq)
        .groupMapReduce(r => (r.getInt(0), r.getString(2), r.getString(3)))(r =>
          (r.getLong(5), if (r.isNullAt(4)) 0.0 else r.getDouble(4) * r.getLong(5)))(
          (a, b) => (a._1 + b._1, a._2 + b._2))
        .map { case ((f, s, t), (c, sy)) => (f, s, t, c, sy) }.toArray
      else grouped.filter(col("fid") >= nq).groupBy("fid", "s", "t")
        .agg(sum("cnt"), coalesce(sum(col("y") * col("cnt")), lit(0.0))).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))

    /** The categorical histogram every qualitative measure reads, in
      * [[BinaryCarver.histogram]]'s row form (values stringified like the
      * carver's categorical entries, null first then ascending).
      */
    lazy val qualHist: Map[String, Array[BinaryCarver.HistRow]] =
      counts.filter(_._1 < nq + nl).groupBy(_._1).map { case (fid, rows) =>
        quals(fid - nq) -> rows
          .groupMapReduce(r => Option(r._2).map(_.replaceAll("^(-?\\d+)\\.0$", "$1")).orNull)(r =>
            (r._4, r._5))((a, b) => (a._1 + b._1, a._2 + b._2))
          .toArray.sortBy(r => Option(r._1))
          .map { case (sv, (c, sy)) => BinaryCarver.HistRow(Double.NaN, sv, sv == null, c, sy) }
      }

    /** Cramér's V for every pair of `names` from the pair crosstab (null is
      * a category of its own).
      */
    def pairMatrix(names: Seq[String]): Map[(String, String), Double] = {
      val idx = quals.zipWithIndex.toMap
      val pid = qualPairs.zipWithIndex.toMap
      lazy val byPair = counts.filter(_._1 >= nq + nl).groupBy(_._1 - nq - nl)
      symmetric(names) { (a, b) =>
        val (i, j) = (idx(a), idx(b))
        val rows = byPair.getOrElse(pid((math.min(i, j), math.max(i, j))), Array.empty)
          .map(r => if (i < j) (r._2, r._3, r._4) else (r._3, r._2, r._4))
        val aVals = rows.map(_._1).distinct.zipWithIndex.toMap
        val bVals = rows.map(_._2).distinct.zipWithIndex.toMap
        val obs = Array.fill(aVals.size, bVals.size)(0.0)
        rows.foreach(r => obs(aVals(r._1))(bVals(r._2)) += r._3.toDouble)
        cramerTschuprow(obs, rows.map(_._3).sum.toDouble)._1
      }
    }

    /** Rank pool per feature: quantitatives rank v with y as the groups
      * (v non-null, non-NaN; y non-null), qualitatives rank y with their
      * modalities as the groups (s and y non-null).
      */
    private def rankStats(quant: Boolean, spearman: Boolean): Map[Int, RankStats] =
      if (small) {
        def bits(d: Double): Any = java.lang.Double.doubleToLongBits(d)
        local.filter { r =>
          val f = r.getInt(0)
          !r.isNullAt(4) && (if (quant) f < nq && !r.isNullAt(1) && !r.getDouble(1).isNaN
            else f >= nq && f < nq + nl && !r.isNullAt(2))
        }.groupBy(_.getInt(0)).map { case (fid, rs) =>
          fid -> localRankStats(rs.map(r =>
            if (quant) (r.getDouble(1), bits(r.getDouble(4)), r.getLong(5))
            else (r.getDouble(4), r.getString(2): Any, r.getLong(5))), numericG = quant)
        }
      } else {
        val (f, v, yv) = (col("fid"), col("v"), col("y"))
        val pool =
          if (quant) grouped.filter(f < nq && v.isNotNull && !isnan(v) && yv.isNotNull)
            .select(f, v.as("x"), yv.as("g"), col("cnt"))
          else grouped.filter(f >= nq && f < nq + nl && col("s").isNotNull && yv.isNotNull)
            .select(f, yv.as("x"), col("s").as("g"), col("cnt"))
        distributedRankStats(pool, spearman)
      }
    private lazy val quantRanks = rankStats(quant = true, spearman = true)

    lazy val spearman: Map[String, Double] = quantRanks.map { case (i, r) => quants(i) -> r.spearman }
    lazy val kruskal: Map[String, KruskalRow] = (if (small) quantRanks else rankStats(quant = true,
      spearman = false)).map { case (i, r) => quants(i) -> r.kruskal }
    lazy val kruskalReversed: Map[String, KruskalRow] =
      rankStats(quant = false, spearman = false).map { case (j, r) => quals(j - nq) -> r.kruskal }
  }

  private def using[A](a: Aggregates)(f: Aggregates => A): A = try f(a) finally a.release()

  /** [[RankStats]] of one feature's `(x, g, count)` cells on the driver;
    * with `numericG`, g is a double's bits and is ranked too (Spearman).
    */
  private def localRankStats(cells: Array[(Double, Any, Long)], numericG: Boolean): RankStats = {
    val rx = Ranks.local(cells.map(c => (c._1, Array(c._3))))
    val rankOf = rx.values.indices.map(j => java.lang.Double.doubleToLongBits(rx.values(j)) -> rx.rank(0, j)).toMap
    val groups = cells.groupMapReduce(_._2)(c =>
      (c._3, c._3 * rankOf(java.lang.Double.doubleToLongBits(c._1))))((a, b) => (a._1 + b._1, a._2 + b._2))
    val (sy, syy, sxy) =
      if (!numericG) (0.0, 0.0, 0.0)
      else {
        val ry = Ranks.local(groups.toSeq.map { case (g, (ng, _)) =>
          (java.lang.Double.longBitsToDouble(g.asInstanceOf[Long]), Array(ng)) })
        ry.values.indices.foldLeft((0.0, 0.0, 0.0)) { case ((a, b, c), j) =>
          val (ng, r) = (ry.n(0)(j), ry.rank(0, j))
          (a + ng * r, b + ng * r * r, c + groups(java.lang.Double.doubleToLongBits(ry.values(j)))._2 * r)
        }
      }
    val xs = rx.values.indices
    RankStats(groups.values.map(_._1).sum.toDouble, groups.values.map { case (ng, rg) => rg * rg / ng }.sum,
      groups.size.toDouble, rx.pool(0), xs.map(j => rx.n(0)(j) * rx.rank(0, j)).sum,
      xs.map(j => rx.n(0)(j) * rx.rank(0, j) * rx.rank(0, j)).sum, sy, syy, sxy)
  }

  /** [[RankStats]] per feature from a `(fid, x, g, cnt)` pool frame, for
    * tables above the driver bound: x (and, with `spearman`, g) ranked by
    * [[Ranks.bucketed]], group rank sums joined back, one collect.
    */
  private def distributedRankStats(pool: DataFrame, spearman: Boolean): Map[Int, RankStats] = {
    val rx = Ranks.bucketed[Int](pool.groupBy("fid", "x").agg(sum("cnt").as("n")), "fid", "x", Seq("n"))
    val xr = rx.frame.select(col("fid"), col("x"), col("n"), col("rank_n").as("r"))
    val grp = pool.join(xr.select("fid", "x", "r"), Seq("fid", "x"))
      .groupBy("fid", "g").agg(sum("cnt").as("ng"), sum(col("cnt") * col("r")).as("rg"))
    val ranked =
      if (!spearman) grp.withColumn("r", lit(0.0))
      else grp.join(Ranks.bucketed[Int](grp.select(col("fid"), col("g"), col("ng")), "fid", "g", Seq("ng"))
        .frame.select(col("fid"), col("g"), col("rank_ng").as("r")), Seq("fid", "g"))
    val (ng, rg, r, n) = (col("ng"), col("rg"), col("r"), col("n"))
    ranked.groupBy("fid").agg(sum(ng).cast("double"), sum(rg * rg / ng), count(lit(1)).cast("double"),
        sum(ng * r), sum(ng * r * r), sum(rg * r))
      .join(xr.groupBy("fid").agg(sum(n * r).as("sx"), sum(n * r * r).as("sxx")), "fid")
      .collect().map { row =>
        def d(i: Int) = row.getDouble(i)
        val fid = row.getInt(0)
        fid -> RankStats(d(1), d(2), d(3), rx.pools(fid)(0), d(7), d(8), d(4), d(5), d(6))
      }.toMap
  }

  /** Per-feature nan fraction, mode frequency, cardinality and the
    * chi²-derived unrounded Cramér's V vs a binary target
    * (`selectors/measures/qualitative_measures.py`), from the histogram.
    */
  def qualitativeMetrics(df: DataFrame, target: String, quals: Seq[String]): Map[String, FeatureRank] =
    qualitativeMetricsFromHist(qualHistogram(df, target, quals), quals)

  /** The categorical histogram shared by every qualitative selector
    * measure (gates, Cramér's V, Tschuprow's T), from the grouped pass.
    */
  def qualHistogram(df: DataFrame, target: String, quals: Seq[String]): Map[String, Array[BinaryCarver.HistRow]] =
    using(new Aggregates(df, Some(target), Nil, quals))(_.qualHist)

  private def qualitativeMetricsFromHist(hist: Map[String, Array[BinaryCarver.HistRow]],
      quals: Seq[String]): Map[String, FeatureRank] =
    quals.map { name =>
      val rows = hist.getOrElse(name, Array.empty)
      val total = rows.map(_.count).sum.toDouble
      val nanCount = rows.filter(_.isNull).map(_.count).sum.toDouble
      val nonNull = rows.filterNot(_.isNull)
      val modeFreq = if (nonNull.isEmpty) 0.0 else nonNull.map(_.count).max / total
      name -> FeatureRank(name, "categorical", nanCount / total, modeFreq,
        nonNull.length.toLong, targetVT(nonNull)._1, Double.NaN, passedGates = true)
    }.toMap

  /** Unrounded Cramér's V and Tschuprow's T of a contingency table
    * (chi² with zero-expected cells skipped); 0 below two rows or columns.
    */
  private def cramerTschuprow(obs: Array[Array[Double]], nObs: Double): (Double, Double) =
    if (obs.length < 2 || obs.head.length < 2) (0.0, 0.0)
    else Stats.cramervTschuprowtUnrounded(Stats.pearsonChi2(obs, guardZeroExpected = true),
      nObs, obs.length.toDouble, obs.head.length.toDouble)

  /** V and T of a qualitative feature's non-null histogram rows against
    * the binary target (the (value × {0,1}) table, selector-side).
    */
  private def targetVT(nonNull: Array[BinaryCarver.HistRow]): (Double, Double) =
    cramerTschuprow(nonNull.map(r => Array(r.count - r.sumY, r.sumY)), nonNull.map(_.count).sum.toDouble)

  /** Quantitative metrics for ALL features: nan fraction and Pearson from
    * the global row, cardinality and Spearman (average ranks over grouped
    * `(feature, value, y)` counts) from the grouped pass.
    */
  def quantitativeMetrics(df: DataFrame, target: String, quants: Seq[String]): Map[String, FeatureRank] =
    using(new Aggregates(df, Some(target), quants, Nil).overlapped())(quantMetricsOf(_, true))

  /** Gate + Pearson + cardinality only: for callers that never read the
    * spearman column (no rank derivation).
    */
  def quantitativeMetricsNoSpearman(df: DataFrame, target: String, quants: Seq[String]): Map[String, FeatureRank] =
    using(new Aggregates(df, Some(target), quants, Nil).overlapped())(quantMetricsOf(_, false))

  private def quantMetricsOf(a: Aggregates, withSpearman: Boolean): Map[String, FeatureRank] = {
    val sp = if (withSpearman) a.spearman else Map.empty[String, Double]
    a.quants.map { n =>
      n -> FeatureRank(n, "quantitative", a.nanFreq(n), Double.NaN, a.cardinality(n),
        math.abs(a.pearson(n)), sp.getOrElse(n, Double.NaN), passedGates = true)
    }.toMap
  }

  /** "Distance" ranking measure (F2) — the reference's DistanceMeasure
    * (`selectors/measures/quantitative_measures.py:272-288`) is
    * `scipy.spatial.distance.correlation(x, y) - 1`, and scipy's
    * correlation DISTANCE is `1 - pearson`: exactly the global
    * aggregate's `-pearson`.
    */
  def distanceByFeature(df: DataFrame, target: String, quants: Seq[String]): Map[String, Double] =
    new Aggregates(df, Some(target), quants, Nil).pearson.view.mapValues(-_).toMap

  /** Kruskal-Wallis H (tie-corrected) per quantitative feature with the
    * target as the grouping variable, plus the ε²/η² effect sizes
    * (`selectors/measures/quantitative_measures.py:36-160`) — from the same
    * grouped counts and rank path as Spearman, never a row sort.
    */
  final case class KruskalRow(h: Double, epsilonSq: Double, etaSq: Double)

  def kruskalByFeature(df: DataFrame, target: String, quants: Seq[String]): Map[String, KruskalRow] =
    using(new Aggregates(df, Some(target), quants, Nil))(_.kruskal)

  /** R measure per quantitative feature vs a binary/low-cardinality target
    * (`quantitative_measures.py:RMeasure`): sqrt of the OLS R² of
    * feature ~ C(target) = sqrt(SS_between / SS_total), one groupBy(target)
    * aggregation for all features.
    */
  def rMeasure(df: DataFrame, target: String, quants: Seq[String]): Map[String, Double] = {
    if (quants.isEmpty) return Map.empty
    val aggs = quants.flatMap { n =>
      val c = col(n).cast("double")
      Seq(sum(c).as(s"${n}__s"), sum(c * c).as(s"${n}__ss"),
        count(c).as(s"${n}__n"))
    }
    val rows = df.groupBy(col(target)).agg(aggs.head, aggs.tail: _*).collect()
    quants.map { n =>
      val groups = rows.map(r => (
        Option(r.getAs[java.lang.Double](s"${n}__s")).map(_.toDouble).getOrElse(0.0),
        Option(r.getAs[java.lang.Double](s"${n}__ss")).map(_.toDouble).getOrElse(0.0),
        r.getAs[Long](s"${n}__n").toDouble)).filter(_._3 > 0)
      val nTot = groups.map(_._3).sum
      val sTot = groups.map(_._1).sum
      val ssTot = groups.map(_._2).sum
      val mean = sTot / nTot
      val tss = ssTot - nTot * mean * mean
      val bss = groups.map { case (sg, _, ng) => ng * (sg / ng - mean) * (sg / ng - mean) }.sum
      val r2 = if (tss <= 0) Double.NaN else bss / tss
      n -> (if (r2.isNaN || r2 < 0) Double.NaN else math.sqrt(r2))
    }.toMap
  }

  /** Outlier rates per quantitative feature (F3,
    * `quantitative_measures.py:290-330`): zscore rate = mean(|x-μ|>3σ)
    * (sample σ), IQR rate = fraction outside [q1-1.5·iqr, q3+1.5·iqr].
    * Two aggregation jobs for ALL features (moments+quartiles, then rates).
    */
  final case class OutlierRates(zscoreRate: Double, iqrRate: Double)

  def outlierRates(df: DataFrame, quants: Seq[String]): Map[String, OutlierRates] = {
    if (quants.isEmpty) return Map.empty
    val statAggs = quants.flatMap { n =>
      val c = col(n).cast("double")
      Seq(avg(c).as(s"${n}__m"), stddev_samp(c).as(s"${n}__sd"),
        percentile_approx(c, array(lit(0.25), lit(0.75)), lit(100000)).as(s"${n}__q"))
    }
    val st = df.agg(statAggs.head, statAggs.tail: _*).head()
    val rateAggs = quants.flatMap { n =>
      val c = col(n).cast("double")
      val m = st.getAs[java.lang.Double](s"${n}__m")
      val sd = st.getAs[java.lang.Double](s"${n}__sd")
      val q = Option(st.getAs[scala.collection.Seq[Double]](s"${n}__q")).map(_.toSeq).orNull
      val (zlo, zhi) =
        if (m == null || sd == null || sd == 0.0) (Double.NegativeInfinity, Double.PositiveInfinity)
        else (m - 3 * sd, m + 3 * sd)
      val (ilo, ihi) =
        if (q == null || q.length < 2) (Double.NegativeInfinity, Double.PositiveInfinity)
        else { val iqr = q(1) - q(0); (q(0) - 1.5 * iqr, q(1) + 1.5 * iqr) }
      Seq(avg((c < zlo || c > zhi).cast("double")).as(s"${n}__zr"),
        avg((c < ilo || c > ihi).cast("double")).as(s"${n}__ir"))
    }
    val rr = df.agg(rateAggs.head, rateAggs.tail: _*).head()
    quants.map { n =>
      n -> OutlierRates(
        Option(rr.getAs[java.lang.Double](s"${n}__zr")).map(_.toDouble).getOrElse(0.0),
        Option(rr.getAs[java.lang.Double](s"${n}__ir")).map(_.toDouble).getOrElse(0.0))
    }.toMap
  }

  /** ANSI-safe Pearson correlation: Spark 4's `corr` throws DIVIDE_BY_ZERO
    * on constant columns under ANSI mode; this returns null instead.
    */
  private def safeCorr(a: Column, b: Column): Column =
    try_divide(covar_samp(a, b), stddev_samp(a) * stddev_samp(b))

  /** Full |Pearson| matrix over a quantitative block in ONE aggregation
    * (k stddevs + k(k−1)/2 covariances as codegen'd agg expressions).
    */
  def quantCorrMatrix(df: DataFrame, quants: Seq[String]): Map[(String, String), Double] =
    new Aggregates(df, None, quants, Nil, redundancy = true).corrMatrix(quants)

  /** Cramér's V for every qualitative pair from ONE batched crosstab: each
    * row emits one (pair, value_a, value_b) per pair into the grouped pass.
    */
  def qualPairMatrix(df: DataFrame, quals: Seq[String]): Map[(String, String), Double] =
    using(new Aggregates(df, None, Nil, quals, redundancy = true))(_.pairMatrix(quals))

  /** One row of the uniform per-feature ranking table — the reference's
    * `selectors/utils/pretty_print.py:44-78` `format_ranked_features`:
    * gate values keep a column each, the ranking measure and redundancy
    * filter are NAMED in `measure`/`filter` columns (so qualitative and
    * quantitative branches concatenate into one non-ragged frame), `rank`
    * is the per-kind association rank among gate survivors (None when
    * gated out, like the reference's NaN), `filteredWith` names the
    * already-kept feature a redundancy drop correlated with.
    */
  final case class ReportRow(
      feature: String,
      kind: String,
      nanFreq: Double,
      modeFreq: Double,
      measure: String,
      association: Double,
      rank: Option[Int],
      filter: Option[String],
      redundancy: Option[Double],
      filteredWith: Option[String],
      kept: Boolean,
      reason: String)

  final case class Selection(kept: Vector[FeatureRank], dropped: Vector[(FeatureRank, String)],
      report: Vector[ReportRow] = Vector.empty) {

    /** The ranking table as a frame, sorted by rank ascending with gated-out
      * features last (`pretty_print.py:76-77`).
      */
    def reportFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      report.sortBy(r => (r.rank.getOrElse(Int.MaxValue), r.feature))
        .toDF("feature", "kind", "nan_freq", "mode_freq", "measure", "association",
          "rank", "filter", "redundancy", "filtered_with", "kept", "reason")
    }
  }

  /** Best-first selection (`selectors/filters`): gate, rank by association
    * desc, walk best-first dropping any feature too associated with an
    * already-kept better one, stop at nBest per kind. All associations
    * come from the two aggregates; the walk is driver-side lookups.
    */
  def select(
      df: DataFrame,
      target: String,
      quants: Seq[String],
      quals: Seq[String],
      config: Config = Config()
  ): Selection = using(new Aggregates(df, Some(target), quants, quals, redundancy = true).overlapped())(
    selectWith(_, config, Map.empty, withSpearman = true))

  /** Task presets (F6): the reference's selector classes pick the ranking
    * measure per (task, feature kind) — `classification_selector.py:7-17`,
    * `regression_selector.py:7-17`, `ordinal_selector.py`:
    *
    *  - classification (qualitative target): quantitatives ranked by
    *    Kruskal-η² (target as groups), qualitatives by Tschuprow's T;
    *  - regression / ordinal (numeric target): quantitatives by |Spearman|,
    *    qualitatives by REVERSED Kruskal-η² (feature modalities as groups,
    *    the target as the ranked variable).
    */
  def selectTask(
      df: DataFrame,
      target: String,
      quants: Seq[String],
      quals: Seq[String],
      task: String,
      config: Config = Config()
  ): Selection = {
    if (!Set("classification", "regression", "ordinal")(task)) throw new IllegalArgumentException(
      s"unknown task '$task' (classification | regression | ordinal)")
    // both presets read their ranking measures from the gates' two aggregates
    using(new Aggregates(df, Some(target), quants, quals, redundancy = true).overlapped()) { a =>
      if (task == "classification") {
        val overrides = a.kruskal.view.mapValues(_.etaSq).toMap ++ tschuprowtFromHist(a.qualHist, quals)
        selectWith(a, config, overrides,
          Map("quantitative" -> "Kruskal", "categorical" -> "TschuprowT"), withSpearman = false)
      } else {
        val overrides = a.spearman.view.mapValues(math.abs(_)).toMap ++
          a.kruskalReversed.view.mapValues(_.etaSq).toMap
        selectWith(a, config, overrides,
          Map("quantitative" -> "Spearman", "categorical" -> "KruskalReversed"), withSpearman = true)
      }
    }
  }

  private def tschuprowtFromHist(
      hist: Map[String, Array[BinaryCarver.HistRow]], quals: Seq[String]): Map[String, Double] =
    quals.map(n => n -> targetVT(hist.getOrElse(n, Array.empty).filterNot(_.isNull))._2).toMap

  private def selectWith(
      a: Aggregates,
      config: Config,
      assocOverride: Map[String, Double],
      // ranking-measure display names per kind (the report's `measure`
      // column — reference strips the "Measure" suffix the same way)
      measureNames: Map[String, String] = Map(
        "quantitative" -> "Pearson", "categorical" -> "CramerV"),
      withSpearman: Boolean
  ): Selection = {
    val outliers =
      if (config.maxZscoreOutlierRate.nonEmpty || config.maxIqrOutlierRate.nonEmpty) outlierRates(a.df, a.quants)
      else Map.empty[String, OutlierRates]
    val metrics = (quantMetricsOf(a, withSpearman) ++ qualitativeMetricsFromHist(a.qualHist, a.quals))
      .values.toVector
      .map(m => assocOverride.get(m.name).fold(m)(a => m.copy(association = a)))
    val dropped = Vector.newBuilder[(FeatureRank, String)]
    val gated = metrics.filter { m =>
      val nanOk = m.nanFreq <= config.maxNanFreq
      val modeOk = m.modeFreq.isNaN || m.modeFreq <= config.maxModeFreq
      val cardOk = m.cardinality > 1
      val zOk = config.maxZscoreOutlierRate.forall(t =>
        outliers.get(m.name).forall(_.zscoreRate <= t))
      val iOk = config.maxIqrOutlierRate.forall(t =>
        outliers.get(m.name).forall(_.iqrRate <= t))
      if (!nanOk) dropped += ((m, f"nan_freq=${m.nanFreq}%.3f"))
      else if (!modeOk) dropped += ((m, f"mode_freq=${m.modeFreq}%.3f"))
      else if (!cardOk) dropped += ((m, "constant"))
      else if (!zOk) dropped += ((m, f"zscore_outliers=${outliers(m.name).zscoreRate}%.3f"))
      else if (!iOk) dropped += ((m, f"iqr_outliers=${outliers(m.name).iqrRate}%.3f"))
      nanOk && modeOk && cardOk && zOk && iOk
    }
    // pairwise association matrices over the gated survivors only, read
    // from the aggregates (no job)
    val assoc = a.corrMatrix(gated.filter(_.kind == "quantitative").map(_.name)) ++
      a.pairMatrix(gated.filter(_.kind == "categorical").map(_.name))

    // per-kind caps: either the flat nBest, or the largest-remainder split
    // of one total budget (F5)
    val budgets: Map[String, Int] = config.totalBudget match {
      case Some(tb) => splitBudget(tb, Seq("quantitative" -> a.quants.size, "categorical" -> a.quals.size))
      case None => Map("quantitative" -> config.nBest, "categorical" -> config.nBest)
    }
    val ranked = gated.sortBy(m => (-nz(m.association), m.name))
    val kept = mutable.ArrayBuffer.empty[FeatureRank]
    // redundancy drops keep their (correlated-with, value) for the report
    val redundancyInfo = mutable.Map.empty[String, (String, Double)]
    ranked.foreach { m =>
      val perKind = kept.count(_.kind == m.kind)
      if (perKind >= budgets.getOrElse(m.kind, config.nBest)) dropped += ((m, "budget"))
      else {
        val redundantWith = kept.find(k =>
          k.kind == m.kind && assoc.getOrElse((k.name, m.name), 0.0) > config.redundancyThreshold)
        redundantWith match {
          case Some(k) =>
            dropped += ((m, s"redundant_with=${k.name}"))
            redundancyInfo(m.name) = (k.name, assoc.getOrElse((k.name, m.name), 0.0))
          case None => kept += m
        }
      }
    }
    val droppedV = dropped.result()
    // uniform ranking table (reference format_ranked_features): every
    // feature keeps its gate values; per-kind association rank among gate
    // survivors; gated-out features have no rank
    val reasonOf = droppedV.map { case (m, r) => m.name -> r }.toMap
    val rankOf: Map[String, Int] = ranked.groupBy(_.kind).flatMap { case (_, ms) =>
      ms.zipWithIndex.map { case (m, i) => m.name -> (i + 1) }
    }
    val report = metrics.map { m =>
      val red = redundancyInfo.get(m.name)
      ReportRow(m.name, m.kind, m.nanFreq, m.modeFreq,
        measureNames.getOrElse(m.kind, ""), m.association,
        rankOf.get(m.name),
        red.map(_ => "Redundancy"), red.map(_._2), red.map(_._1),
        kept = !reasonOf.contains(m.name), reason = reasonOf.getOrElse(m.name, ""))
    }
    Selection(kept.toVector, droppedV, report)
  }

  private def nz(d: Double): Double = if (d.isNaN) Double.NegativeInfinity else d
}
