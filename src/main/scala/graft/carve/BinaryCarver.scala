package graft.carve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Supervised optimal discretization of numeric + categorical features
  * against a binary target — the Spark-native re-expression of the
  * reference's BinaryCarver (`carvers/binary_carver.py`,
  * `carvers/utils/base_carver.py:456-577`).
  *
  * Cluster/driver split (SURVEY.md §3.1): fit makes ONE pass over the
  * train table below the cell budget — the sketch job also returns the
  * `(feature, value, y[, fold]) → count` cells ([[Crosstab.pass]]) — and
  * else the sketch plus the crosstab pass `groupBy(feature,
  * value).agg(count, sum(y))` in long form; and one over the dev table.
  * The collected per-value histograms
  * (bounded by column cardinality, not row count) feed every driver-side
  * algorithm: the pre-binning ([[Prebin.prep]] under the summed target
  * view [[Prebin.Summed]]: quantile prebins at min_freq/2, rare quantile
  * merge, categorical rare→__OTHER__ + target-rate sort, declared-ordinal
  * and nested kinds), then the progressive top-K chi² DP search with
  * Wilson/distinct/rank-order vetoes.
  * Transform is a pure projection (no shuffle): binary-searched bucketize
  * for numerics, broadcast map for categoricals.
  *
  * High-cardinality note (the 10¹²-row path): the exact histogram collect
  * is guarded by `maxHistogramRows`; columns beyond it need the sketch
  * path (approxQuantile pre-bin + second prebin-level aggregation pass) —
  * see SURVEY.md §7.4 "quantile parity at scale".
  */
object BinaryCarver {
  val NanLabel = "__NAN__"
  val OtherLabel = "__OTHER__"

  /** Feature declaration. `kind` is "quantitative" | "categorical" |
    * "ordinal"; an ordinal feature (reference OrdinalFeature,
    * `features/qualitatives/ordinal_feature.py:17-36`) carries the
    * user-declared total value order in `ordinalOrder` — rare values merge
    * only with their declared neighbours, and the DP search groups only
    * consecutive declared values.
    */
  final case class FeatureSpec(name: String, kind: String, ordinalOrder: Seq[String] = Nil,
      // nested features: parent columns nearest→coarsest (P6/X4)
      parents: Seq[String] = Nil)

  final case class FittedFeature(
      name: String,
      kind: String,
      prebinEdges: Vector[Double],        // quantitative: ascending, no +inf cap
      prebinToBin: Vector[Int],           // quantitative: prebin idx -> final bin
      valueToBin: Map[String, Int],       // categorical: raw value -> final bin
      nanBin: Int,                        // final bin of NaN (-1 if none observed)
      otherBin: Int,                      // categorical default bucket (-1 if none)
      hasNan: Boolean,
      hasDefault: Boolean,
      binLabels: Vector[String],
      cramerv: Double,
      tschuprowt: Double,
      rates: Vector[Search.RateRow],
      dropped: Boolean,
      droppedReason: String,
      // continuous carver only: per-bin sample std (ddof=1) of y — the
      // Welch-drift reference for stability monitoring (M4)
      stds: Vector[Double] = Vector.empty,
      // user-declared ordinal features: the declared total value order —
      // needed by the manual-override contiguity check
      ordinalOrder: Vector[String] = Vector.empty,
      // nested features: parent columns nearest→coarsest — the X4 unseen
      // walk at transform time reads them from the scored frame
      parents: Vector[String] = Vector.empty,
      // nested features: surviving bucket LEADER -> bin. The X4 walk probes
      // parent values against leaders only (reference remap_nested_unseen
      // checks feature.values, never the full label_per_value)
      leaderToBin: Map[String, Int] = Map.empty,
      // per-candidate search history (evaluation order); not serialized
      history: Vector[Search.HistoryEntry] = Vector.empty,
      // fit-time Config.dropna (X3): the reference sets feature._dropna
      // False for EVERY feature fitted under ProcessingConfig(dropna=False)
      // (`base_discretizer.py:715-733` fillna path), and a reference-side
      // reload reads it to decide whether new NaNs are filled to the NaN
      // label or left raw — carried explicitly, never inferred from nanBin
      fitDropna: Boolean = true
  ) {
    def nBins: Int = binLabels.length
  }

  final case class Model(
      target: String,
      minFreq: Double,
      maxNMod: Int,
      sortBy: String,
      features: Vector[FittedFeature]
  ) {
    def kept: Vector[FittedFeature] = features.filterNot(_.dropped)

    /** Scoring path (reference `base_discretizer.transform`): replaces each
      * carved feature column with its ordinal bin code (IntegerType).
      * Pure projection — no shuffle, codegen-friendly chained conditions.
      * `checkValues` (X5 raise mode) fails the job on a categorical value
      * unseen at fit time when the feature has no default bucket.
      */
    def transform(df: DataFrame, keepOriginal: Boolean = false, checkValues: Boolean = false): DataFrame = {
      val present = df.columns.toSet
      kept.foldLeft(df) { (d, f) =>
        val binCol0 = transformColumn(f, col(f.name), present)
        val binCol =
          if (checkValues && f.kind == "categorical" && f.otherBin < 0)
            when(col(f.name).isNotNull && binCol0.isNull,
              raise_error(concat(lit(s"[check_values] unseen value for ${f.name}: "),
                col(f.name).cast("string"))))
              .otherwise(binCol0)
          else binCol0
        if (keepOriginal) d.withColumn(s"${f.name}_bin", binCol)
        else d.withColumn(f.name, binCol)
      }
    }

    /** Per-bin fit summary (reference `BaseCarver.summary`): one row per
      * kept-feature bin plus one row per dropped feature.
      */
    def summary(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val rows = features.flatMap { f =>
        if (f.dropped) Vector((f.name, f.kind, f.cramerv, f.tschuprowt, -1, "", Double.NaN, Double.NaN, 0L, true, f.droppedReason))
        else f.rates.zipWithIndex.map { case (r, i) =>
          (f.name, f.kind, f.cramerv, f.tschuprowt, i, f.binLabels(i), r.rate, r.frequency, math.round(r.count), false, "")
        }
      }
      rows.toDF("feature", "kind", "cramerv", "tschuprowt", "label", "content",
        "rate", "frequency", "count", "dropped", "dropped_reason")
    }

    /** X5 check-values as a frame: (feature, value, n) of categorical
      * values unseen at fit time, for kept features with no default bucket —
      * exactly the rows `transform(checkValues = true)` would raise on.
      * One explode-aggregate pass through the same compiled MapLookup probe
      * the scoring path uses; shuffle bounded by unseen-value cardinality.
      */
    def unexpectedValues(df: DataFrame): DataFrame = {
      val present = df.columns.toSet
      val checked = kept.filter(f =>
        f.kind == "categorical" && f.otherBin < 0 && present.contains(f.name))
      val entries = checked.map { f =>
        struct(
          lit(f.name).as("feature"),
          when(col(f.name).isNotNull && transformColumn(f, col(f.name), present).isNull,
            categoricalStringExpr(col(f.name))).as("value"))
      }
      if (entries.isEmpty)
        df.sparkSession.emptyDataFrame
          .select(lit("").as("feature"), lit("").as("value"), lit(0L).as("n"))
          .limit(0)
      else
        df.select(explode(array(entries: _*)).as("e"))
          .filter(col("e.value").isNotNull)
          .groupBy(col("e.feature").as("feature"), col("e.value").as("value"))
          .agg(count(lit(1)).as("n"))
    }

    /** Human-readable label variant of transform. */
    def transformLabels(df: DataFrame): DataFrame = {
      val present = df.columns.toSet
      kept.foldLeft(df) { (d, f) =>
        val labels = f.binLabels
        val codes = transformColumn(f, col(f.name), present)
        val labelExpr = element_at(typedlit(labels), codes + 1)
        d.withColumn(s"${f.name}_label", labelExpr)
      }
    }

    private def transformColumn(f: FittedFeature, c: Column, present: Set[String] = Set.empty): Column =
      if (f.kind == "quantitative") quantitativeBinExpr(f, c)
      else if (f.kind == "nested") nestedBinExpr(f, c, present)
      else categoricalBinExpr(f, c)

    /** Manual override (reference Features group/update surface): merge
      * bin `source` into bin `target` of one feature, renumbering bins
      * compactly and recombining labels/rates (count-weighted).
      */
    def groupBins(featureName: String, target: Int, source: Int): Model = {
      require(target != source, "target and source bins must differ")
      val f = features.find(_.name == featureName)
        .getOrElse(throw new IllegalArgumentException(s"no feature $featureName"))
      require(!f.dropped, s"$featureName was dropped")
      require(target >= 0 && target < f.nBins && source >= 0 && source < f.nBins,
        s"bins out of range for $featureName (${f.nBins} bins)")
      // old bin id -> new bin id (source joins target, higher ids shift down)
      def remap(b: Int): Int = {
        val merged = if (b == source) target else b
        if (merged > source) merged - 1 else merged
      }
      val keepOrder = (0 until f.nBins).filterNot(_ == source)
      val newLabels = keepOrder.map { b =>
        if (b == target) {
          val parts = Seq(f.binLabels(math.min(target, source)), f.binLabels(math.max(target, source)))
          parts.mkString(" | ")
        } else f.binLabels(b)
      }.toVector
      val total = f.rates.map(_.count).sum
      val newRates = keepOrder.map { b =>
        if (b == target) {
          val a = f.rates(target); val c = f.rates(source)
          val n = a.count + c.count
          Search.RateRow(a.label, (a.rate * a.count + c.rate * c.count) / n, n / total, n)
        } else f.rates(b)
      }.toVector
      val nf = f.copy(
        prebinToBin = f.prebinToBin.map(b => if (b < 0) b else remap(b)),
        valueToBin = f.valueToBin.view.mapValues(remap).toMap,
        nanBin = if (f.nanBin < 0) f.nanBin else remap(f.nanBin),
        otherBin = if (f.otherBin < 0) f.otherBin else remap(f.otherBin),
        binLabels = newLabels,
        rates = newRates)
      // the reference's qualitative group() only merges adjacent ordinal
      // groups — validate here so moveValue's whole-bin shortcut (which
      // delegates straight to this method) can't leave a non-contiguous bin
      checkOrdinalContiguity(featureName, nf)
      copy(features = features.map(x => if (x.name == featureName) nf else x))
    }

    // ------------------------------------------------------------------
    // manual override surface beyond groupBins (reference
    // `qualitative_feature.py:88-129`, `quantitative_feature.py:46-126`,
    // `base_feature.py:274-303`): statistics of bins touched by a PARTIAL
    // former bin become NaN — their true split is unknowable without a
    // refit — while whole-bin moves aggregate exactly.
    // ------------------------------------------------------------------

    private def withFeature(featureName: String)(edit: FittedFeature => FittedFeature): Model = {
      val f = features.find(_.name == featureName)
        .getOrElse(throw new IllegalArgumentException(s"no feature $featureName"))
      require(!f.dropped, s"$featureName was dropped")
      copy(features = features.map(x => if (x.name == featureName) edit(x) else x))
    }

    private def nanRate(label: String): Search.RateRow =
      Search.RateRow(label, Double.NaN, Double.NaN, Double.NaN)

    /** Members (raw values) of a categorical bin, in bin-label order. */
    private def membersOf(f: FittedFeature, bin: Int): Vector[String] =
      f.binLabels(bin).split(", ").toVector.filter(m => f.valueToBin.get(m).contains(bin))

    /** Moves ONE raw modality into the bin `toBin` (reference
      * `qualitative_feature.move`). A value that was alone in its bin is a
      * whole-bin merge (exact count-weighted statistics via groupBins);
      * otherwise both touched bins' statistics become NaN. For ordinal
      * features both bins must stay contiguous in the declared order.
      */
    def moveValue(featureName: String, value: String, toBin: Int): Model = withFeature(featureName) { f =>
      require(f.kind != "quantitative", s"$featureName is quantitative — use splitBin/setBinBoundary")
      val source = f.valueToBin.getOrElse(value,
        throw new IllegalArgumentException(s"[$featureName] unknown value $value"))
      require(toBin >= 0 && toBin < f.nBins, s"bin $toBin out of range (${f.nBins} bins)")
      if (source == toBin) f
      else if (f.valueToBin.count(_._2 == source) == 1 && f.nanBin != source && f.otherBin != source) {
        // whole-bin move: delegate to the exact-aggregate merge
        return groupBins(featureName, toBin, source)
      } else {
        val newLabels = f.binLabels.zipWithIndex.map {
          case (l, b) if b == source => membersOf(f, b).filterNot(_ == value).mkString(", ")
          case (l, b) if b == toBin => (membersOf(f, b) :+ value).mkString(", ")
          case (l, _) => l
        }
        val nf = f.copy(
          valueToBin = f.valueToBin.updated(value, toBin),
          binLabels = newLabels,
          rates = f.rates.zipWithIndex.map { case (r, b) =>
            if (b == source || b == toBin) nanRate(r.label) else r
          })
        checkOrdinalContiguity(featureName, nf)
        nf
      }
    }

    /** Extracts one raw modality into its own NEW bin, appended after the
      * existing bins (reference `qualitative_feature.ungroup`). No-op when
      * the value is already alone; the former bin and the new singleton get
      * NaN statistics (partial split).
      */
    def ungroupValue(featureName: String, value: String): Model = withFeature(featureName) { f =>
      require(f.kind != "quantitative", s"$featureName is quantitative — use splitBin")
      val source = f.valueToBin.getOrElse(value,
        throw new IllegalArgumentException(s"[$featureName] unknown value $value"))
      if (f.valueToBin.count(_._2 == source) == 1 && f.nanBin != source && f.otherBin != source) f
      else {
        val newBin = f.nBins
        val nf = f.copy(
          valueToBin = f.valueToBin.updated(value, newBin),
          binLabels = f.binLabels.zipWithIndex.map {
            case (l, b) if b == source => membersOf(f, b).filterNot(_ == value).mkString(", ")
            case (l, _) => l
          } :+ value,
          rates = f.rates.zipWithIndex.map { case (r, b) =>
            if (b == source) nanRate(r.label) else r
          } :+ nanRate(value))
        checkOrdinalContiguity(featureName, nf)
        nf
      }
    }

    /** Splits a quantitative interval bin in two at `at` (reference
      * `quantitative_feature.split`): `at` must lie strictly inside the
      * bin; the lower half keeps index `bin`, the upper half is inserted at
      * `bin+1` (later bins shift up); both halves' statistics are NaN.
      */
    def splitBin(featureName: String, bin: Int, at: Double): Model = withFeature(featureName) { f =>
      require(f.kind == "quantitative", s"$featureName is not quantitative")
      require(bin >= 0 && bin < f.nBins && bin != f.nanBin, s"bin $bin out of range or the NaN bin")
      val (lo, hi) = quantBounds(f, bin)
      require(lo < at && at < hi, s"[$featureName] split point $at must lie strictly inside ($lo, $hi]")
      // insert the new edge; prebins below `at` that mapped to `bin` stay at
      // `bin` (lower half), the rest of the bin moves to bin+1; bins after
      // shift up one
      val insertPos = f.prebinEdges.indexWhere(_ >= at) match {
        case -1 => f.prebinEdges.length
        case p => p
      }
      val already = f.prebinEdges.lift(insertPos).contains(at)
      val newEdges = if (already) f.prebinEdges
        else (f.prebinEdges.take(insertPos) :+ at) ++ f.prebinEdges.drop(insertPos)
      def shift(b: Int): Int = if (b > bin) b + 1 else b
      // prebin p covers (edge(p-1), edge(p)] in the NEW edge space
      val oldAssign = f.prebinToBin
      val newAssign = Vector.tabulate(newEdges.length + 1) { p =>
        val oldP = if (already || p <= insertPos) math.min(p, oldAssign.length - 1)
          else p - 1
        val b = oldAssign(oldP)
        if (b != bin) shift(b)
        else {
          val upper = newEdges.lift(p).getOrElse(Double.PositiveInfinity)
          if (upper <= at) bin else bin + 1
        }
      }
      val nf = f.copy(
        prebinEdges = newEdges,
        prebinToBin = newAssign,
        nanBin = if (f.nanBin < 0) f.nanBin else shift(f.nanBin),
        binLabels = Vector.tabulate(f.nBins + 1)(b => quantLabelOf(newEdges, newAssign, b, if (f.nanBin < 0) -1 else shift(f.nanBin))),
        rates = f.rates.patch(bin, Seq(
          nanRate(quantLabelOf(newEdges, newAssign, bin, if (f.nanBin < 0) -1 else shift(f.nanBin))),
          nanRate(quantLabelOf(newEdges, newAssign, bin + 1, if (f.nanBin < 0) -1 else shift(f.nanBin)))), 1))
      nf
    }

    /** Moves the upper boundary of bin `bin` to `at` (reference
      * `quantitative_feature.set_boundary`): shrinks or grows against the
      * NEXT bin; not allowed on the last (+inf) bin; both touched bins'
      * statistics become NaN.
      */
    def setBinBoundary(featureName: String, bin: Int, at: Double): Model = withFeature(featureName) { f =>
      require(f.kind == "quantitative", s"$featureName is not quantitative")
      require(bin >= 0 && bin < f.nBins && bin != f.nanBin, s"bin $bin out of range or the NaN bin")
      val (lo, hi) = quantBounds(f, bin)
      require(!hi.isPosInfinity, s"[$featureName] cannot move the +inf upper bound of the last bin")
      if (at == hi) f
      else {
        // the next interval bin (skip the NaN bin if it sits between)
        val next = (bin + 1 until f.nBins).find(b => b != f.nanBin && f.prebinToBin.contains(b))
          .getOrElse(throw new IllegalArgumentException(s"[$featureName] no bin above $bin"))
        val (_, nextHi) = quantBounds(f, next)
        require(lo < at && at < nextHi,
          s"[$featureName] new boundary $at must lie in ($lo, $nextHi)")
        val insertPos = f.prebinEdges.indexWhere(_ >= at) match {
          case -1 => f.prebinEdges.length
          case p => p
        }
        val already = f.prebinEdges.lift(insertPos).contains(at)
        val newEdges = if (already) f.prebinEdges
          else (f.prebinEdges.take(insertPos) :+ at) ++ f.prebinEdges.drop(insertPos)
        val oldAssign = f.prebinToBin
        val newAssign = Vector.tabulate(newEdges.length + 1) { p =>
          val oldP = if (already || p <= insertPos) math.min(p, oldAssign.length - 1) else p - 1
          val b = oldAssign(oldP)
          if (b != bin && b != next) b
          else {
            val upper = newEdges.lift(p).getOrElse(Double.PositiveInfinity)
            if (upper <= at) bin else next
          }
        }
        f.copy(
          prebinEdges = newEdges,
          prebinToBin = newAssign,
          binLabels = Vector.tabulate(f.nBins)(b => quantLabelOf(newEdges, newAssign, b, f.nanBin)),
          rates = f.rates.zipWithIndex.map { case (r, b) =>
            if (b == bin || b == next) nanRate(quantLabelOf(newEdges, newAssign, b, f.nanBin)) else r
          })
      }
    }

    /** (lo, hi] bounds of a quantitative bin from its prebin assignment. */
    private def quantBounds(f: FittedFeature, bin: Int): (Double, Double) = {
      val idxs = f.prebinToBin.zipWithIndex.collect { case (b, p) if b == bin => p }
      require(idxs.nonEmpty, s"bin $bin holds no interval")
      val lo = if (idxs.min == 0) Double.NegativeInfinity else f.prebinEdges(idxs.min - 1)
      val hi = if (idxs.max >= f.prebinEdges.length) Double.PositiveInfinity else f.prebinEdges(idxs.max)
      (lo, hi)
    }

    private def quantLabelOf(edges: Vector[Double], assign: Vector[Int], bin: Int, nanBin: Int): String = {
      val idxs = assign.zipWithIndex.collect { case (b, p) if b == bin => p }
      if (idxs.isEmpty) return if (bin == nanBin) NanLabel else ""
      val lo = if (idxs.min == 0) "-inf" else fmt(edges(idxs.min - 1))
      val hi = if (idxs.max >= edges.length) "+inf" else fmt(edges(idxs.max))
      val base = s"($lo, $hi]"
      if (bin == nanBin) s"$base or $NanLabel" else base
    }

    /** Ordinal features: every bin's member set must stay contiguous in the
      * user-declared order (reference `_check_contiguity`).
      */
    private def checkOrdinalContiguity(featureName: String, f: FittedFeature): Unit = {
      if (f.kind != "ordinal" || f.ordinalOrder.isEmpty) return
      val pos = f.ordinalOrder.zipWithIndex.toMap
      f.valueToBin.groupBy(_._2).foreach { case (bin, kvs) =>
        val ps = kvs.keys.flatMap(pos.get).toVector.sorted
        if (ps.nonEmpty && ps.last - ps.head + 1 != ps.length)
          throw new IllegalArgumentException(
            s"[$featureName] bin $bin is no longer contiguous in the declared ordinal order")
      }
    }

    /** Search history as a frame (reference `feature.history`): one row per
      * TESTED candidate combination, in evaluation order per feature.
      */
    def history(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      features.flatMap(f => f.history.zipWithIndex.map { case (h, i) =>
        (f.name, i, h.combination.map(_.mkString("[", ", ", "]")).mkString(" | "),
          h.cramerv, h.tschuprowt, h.measure, h.value, h.nMod, h.viable, h.minFreqOk,
          h.distinctOk, h.orderingOk, h.withNan, h.info)
      }).toDF("feature", "rank", "combination", "cramerv", "tschuprowt", "measure",
        "value", "n_mod", "viable", "min_freq_ok", "distinct_rates_ok", "ordering_ok",
        "dropna", "info")
    }

    def toJson: String = Json.writeModel(this)
    def save(path: String): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), toJson)
      ()
    }
  }

  def load(path: String): Model =
    Json.readModel(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** searchsorted(edges, x, side='left') + final-bin lookup via the custom
    * codegen'd binary-search expression (graft.transform.BinarySearchBucketize):
    * O(log E) per row and a constant-size generated method, vs the O(E)
    * chained-when tree whose analysis+Janino cost grows with edge count.
    */
  private def quantitativeBinExpr(f: FittedFeature, c: Column): Column =
    graft.transform.BinarySearchBucketize.column(c, f.prebinEdges, f.prebinToBin, f.nanBin)

  /** Nested scoring (X4, reference `remap_nested_unseen`,
    * `base_discretizer.py:676-712`): a seen finest value maps directly; an
    * unseen one walks the row's parent columns nearest→coarsest to the
    * first value that is a surviving bucket LEADER, then falls back to the
    * default bucket (null when the fit pooled nothing into __OTHER__).
    * Parent columns absent from the scoring frame are skipped, like the
    * reference. All probes are O(1) compiled hash lookups; still a pure
    * projection — no shuffle.
    */
  private def nestedBinExpr(f: FittedFeature, c: Column, present: Set[String]): Column = {
    val nanCase = if (f.nanBin >= 0) lit(f.nanBin) else lit(null).cast("int")
    val miss = graft.transform.MapLookup.NullMiss
    val direct =
      if (f.valueToBin.isEmpty) lit(null).cast("int")
      else graft.transform.MapLookup.column(categoricalStringExpr(c), f.valueToBin, miss)
    val parentHits = f.parents.filter(present.contains).map { p =>
      if (f.leaderToBin.isEmpty) lit(null).cast("int")
      else graft.transform.MapLookup.column(categoricalStringExpr(col(p)), f.leaderToBin, miss)
    }
    val fallback = if (f.otherBin >= 0) lit(f.otherBin) else lit(null).cast("int")
    when(c.isNull, nanCase)
      .otherwise(coalesce(direct +: parentHits :+ fallback: _*))
      .cast("int")
  }

  private def categoricalBinExpr(f: FittedFeature, c: Column): Column = {
    val nanCase = if (f.nanBin >= 0) lit(f.nanBin) else lit(null).cast("int")
    val unseen = if (f.otherBin >= 0) lit(f.otherBin) else lit(null).cast("int")
    // O(1) compiled hash probe — `element_at` on a map literal is a LINEAR
    // scan of the key array per row (GetMapValue over ArrayBasedMapData),
    // quadratic pain for 10^5-modality vocabularies on the scoring path
    val mapped =
      if (f.valueToBin.isEmpty) unseen
      else graft.transform.MapLookup.column(categoricalStringExpr(c), f.valueToBin,
        if (f.otherBin >= 0) f.otherBin else graft.transform.MapLookup.NullMiss)
    when(c.isNull, nanCase).otherwise(mapped).cast("int")
  }

  /** Categorical stringification matching the reference's StringDiscretizer
    * (`discretizers/utils/type_discretizers.py`, T1): integral numerics lose
    * the ".0" ("7.0" -> "7"); strings pass through.
    */
  def categoricalStringExpr(c: Column): Column =
    // pure string rewrite (no numeric cast: ANSI mode throws on 'abc'):
    // an integral decimal rendering loses its ".0"
    regexp_replace(c.cast("string"), "^(-?\\d+)\\.0$", "$1")

  /** Infer feature kinds from the schema (reference `infer_feature_kind`). */
  def inferSpecs(df: DataFrame, exclude: Seq[String]): Seq[FeatureSpec] = {
    import org.apache.spark.sql.types._
    df.schema.fields.collect {
      case f if !exclude.contains(f.name) =>
        f.dataType match {
          case _: NumericType => Some(FeatureSpec(f.name, "quantitative"))
          case StringType | BooleanType => Some(FeatureSpec(f.name, "categorical"))
          case _ => None
        }
    }.flatten.toSeq
  }

  /** Input audit as a frame (S1+T2 oracle surface): runs [[validateInputs]]
    * (the reference's schema checks, `base_carver._prepare_samples`), then
    * profiles each declared feature in ONE explode-aggregate pass over the
    * SAME long-form encoding the fit histogram uses — so the T1
    * stringification and NaN routing exercised here are the fit's own.
    * `detected_kind` is [[inferSpecs]]' schema inference (T2,
    * reference `infer_feature_kind`).
    */
  def auditFrame(df: DataFrame, target: String, specs: Seq[FeatureSpec]): DataFrame = {
    validateInputs(df, target, specs)
    val declared = specs.map(s => s.name -> s.kind).toMap
    val detected = inferSpecs(df, exclude = Seq(target)).map(s => s.name -> s.kind).toMap
    val long = df.select(explode(array(histEntries(specs, Map.empty): _*)).as("e"))
    val v = coalesce(col("e.sv"), col("e.dv").cast("string"))
    long
      .groupBy(col("e.fid").as("feature"))
      .agg(
        count(when(v.isNull, 1)).as("n_null"),
        countDistinct(v).as("n_distinct"))
      .withColumn("kind", element_at(typedlit(declared), col("feature")))
      .withColumn("detected_kind", element_at(typedlit(detected), col("feature")))
      .select(col("feature"), col("kind"), col("detected_kind"), col("n_null"), col("n_distinct"))
  }

  /** Full input audit (S1, reference `base_carver._prepare_samples` +
    * `dataframe_sample.check_features`): declared columns present, no
    * duplicate declarations, target not declared as a feature, dtypes
    * compatible with the declared kind. Pure schema checks — O(1), no job.
    */
  /** The reference's leaked-target guard (`base_carver.py:440-453`,
    * `tests/carvers/test_target_guard.py`): a feature declaration named
    * like the target (a from_dataframe-style "declare every column" flow
    * maps the target too; in this engine the target is declared by column
    * name, so same name == same column) is WARNED about and DROPPED, never
    * an error. Every family's fit routes through this before validation.
    */
  def guardTarget(target: String, specs: Seq[FeatureSpec]): Seq[FeatureSpec] = {
    val (leaked, kept) = specs.partition(_.name == target)
    if (leaked.nonEmpty)
      Console.err.println(s"[carver] dropping target column '$target' from features")
    kept
  }

  def validateInputs(df: DataFrame, target: String, specs: Seq[FeatureSpec]): Unit = {
    import org.apache.spark.sql.types._
    val schema = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(specs.nonEmpty, "no features to carve")
    val dupes = specs.groupBy(_.name).collect { case (n, ss) if ss.length > 1 => n }
    require(dupes.isEmpty, s"duplicate feature declarations: ${dupes.mkString(", ")}")
    require(schema.contains(target), s"target column '$target' not in frame")
    specs.foreach { s =>
      val dt = schema.getOrElse(s.name,
        throw new IllegalArgumentException(s"feature column '${s.name}' not in frame"))
      s.kind match {
        case "quantitative" => require(dt.isInstanceOf[NumericType],
          s"quantitative feature '${s.name}' has non-numeric type ${dt.simpleString}")
        case "categorical" | "ordinal" | "nested" => require(
          dt.isInstanceOf[StringType] || dt.isInstanceOf[NumericType] || dt.isInstanceOf[BooleanType],
          s"${s.kind} feature '${s.name}' has unsupported type ${dt.simpleString}")
        case other => throw new IllegalArgumentException(
          s"feature '${s.name}': unknown kind '$other' (quantitative | categorical | ordinal | nested)")
      }
      if (s.kind == "ordinal")
        require(s.ordinalOrder.nonEmpty, s"ordinal feature '${s.name}' needs a declared value order")
      if (s.kind == "nested") {
        require(s.parents.nonEmpty, s"nested feature '${s.name}' needs at least one parent column")
        require(!s.parents.contains(s.name), s"nested feature '${s.name}' can't be its own parent")
        s.parents.foreach(p => require(schema.contains(p),
          s"nested feature '${s.name}': parent column '$p' not in frame"))
      }
    }
  }

  // ------------------------------------------------------------------- fit

  final case class Config(
      minFreq: Double = 0.02,
      maxNMod: Int = 5,
      sortBy: String = "tschuprowt",
      minFreqAlpha: Double = 0.05,
      topKInitial: Int = 2000,
      // reference carver default: stop at the initial top-K (the standalone
      // evaluator defaults to exhaustive ×4 escalation instead)
      escalate: Boolean = false,
      maxHistogramRows: Long = 5000000L,
      // viability rate strategy (R1/R2/R3): target_mean | odds_ratio | woe
      rateStrategy: String = "target_mean",
      // cross-validation folds (C4): deterministic pmod(hash(features,y), cv)
      // assignment; each held-out fold is an extra robustness view
      cv: Int = 0,
      // user-supplied fold assignment (the reference accepts any sklearn
      // splitter / iterable of index pairs via check_cv,
      // `base_carver.py:607-628`): name of an existing integer column with
      // values in [0, cv) — external fold assignments (StratifiedKFold,
      // group folds, ...) replay exactly. Requires cv = fold count; null
      // keeps the deterministic hash key.
      foldCol: String = null,
      // rescue-rare rerun (C13): when nothing is viable at min_freq and a
      // validation view exists, rerun with the min_freq veto waived
      rescue: Boolean = false,
      // sketch prebin path (SURVEY.md §7.4): quantitative columns whose
      // approx distinct count exceeds this are pre-bucketized scan-side into
      // their approxQuantile(q) buckets, so the collected histogram stays
      // O(q) regardless of raw cardinality (the 10^12-row path). 0 disables.
      sketchCardinalityThreshold: Long = 2000000L,
      sketchRelativeError: Double = 0.0001,
      // per-candidate search history (reference `_historize_combination`) —
      // driver-side bookkeeping, bounded by the number of TESTED candidates
      // (the walk stops at the first viable one)
      history: Boolean = true,
      // reference ProcessingConfig.dropna (carver default true): false keeps
      // NaN OUT of every bin — the all-values-vs-NaN split is still tested
      // for viability when the non-NaN search finds nothing (informative
      // missingness, `tests/carvers/test_nan_vs_values.py`), but transform
      // leaves NaN raw (null bin code, the reference's unfillna)
      dropna: Boolean = true,
      // continuous target_median rate (R4) cardinality gate: the exact
      // per-(modality, y) histogram collect is O(distinct-y) on the driver
      // — for a genuinely continuous y at web scale that is the dataset.
      // Above this distinct-y count the median switches to a fixed
      // percentile_approx grid per modality (survey §2.5 R4's sanctioned
      // deviation): bounded by modalities × grid size regardless of y's
      // cardinality, mergeable across adjacent bins like the exact one.
      medianExactMaxDistinctY: Long = 100000L
  ) {
    // max_n_mod=1 would carve every feature into one constant modality: no
    // combination viable, everything dropped (`base_carver.py:300`)
    require(maxNMod >= 2, s"max_n_mod must be >= 2, got $maxNMod")
    // sklearn check_cv raises for a single split; 0 disables CV here
    require(cv == 0 || cv >= 2, s"cv=1 is not enough splits for k-fold cross-validation; use cv >= 2 (or 0 to disable), got $cv")
  }

  def fit(
      train: DataFrame,
      target: String,
      specs: Seq[FeatureSpec],
      dev: Option[DataFrame] = None,
      config: Config = Config()
  ): Model = {
    val guarded = guardTarget(target, specs)
    if (guarded.length != specs.length) return fit(train, target, guarded, dev, config)
    validateInputs(train, target, specs)
    // one pass below the cell budget (the sketch job returns the cells);
    // cv>1 shares it between the train histogram and all fold views
    val (hist, sketched) = Crosstab.fitStage(train, target, specs, config, Crosstab.Summed(requireBinaryY = true),
      Crosstab.folds(config.cv, config.foldCol), "BinaryCarver")(Crosstab.summed)
    val devHist = dev.map(d => histogram(d, target, specs, sketched, requireBinaryY = true))
    fitFromHistograms(hist.total, devHist, target, specs, config, hist.folds)
  }

  /** Sketch path for high-cardinality quantitative columns, in ONE cluster
    * job: the same aggregation computes every column's
    * `approx_count_distinct` (the gate) AND its `percentile_approx` edges
    * (the same Greenwald-Khanna QuantileSummaries sketch that backs
    * `approxQuantile`, as an aggregate expression) — no second scan of the
    * (possibly expensive) scan-side projection. The histogram pass
    * substitutes a gated column with its bucket's representative value
    * (the bucket's upper edge — via the codegen'd binary-search
    * bucketize), so the collected histogram carries at most q+1 distinct
    * values per sketched feature and the downstream driver prebin
    * (findQuantiles over the weighted representatives) reproduces the
    * sketched edges. Returns feature -> ascending distinct edges.
    */
  def sketchHighCardinality(df: DataFrame, specs: Seq[FeatureSpec], config: Config): Map[String, Vector[Double]] =
    sketchWithExtras(df, specs, config, Nil)._1

  /** [[sketchHighCardinality]] with caller-supplied extra aggregate columns
    * riding the SAME job (guide §2.3 "aggregate before you shuffle" /
    * fewer passes): the crosstab cells of [[Crosstab.pass]] (the fit's only
    * pass below the cell budget), and the continuous carver's distinct-y
    * median gate and NaN-y count. Extras must be pre-aliased; the returned
    * Row (when any aggregation ran) carries them by those aliases.
    */
  def sketchWithExtras(df: DataFrame, specs: Seq[FeatureSpec], config: Config,
      extras: Seq[org.apache.spark.sql.Column]): (Map[String, Vector[Double]], Option[org.apache.spark.sql.Row]) = {
    val quants =
      if (config.sketchCardinalityThreshold <= 0) Nil
      else specs.filter(_.kind == "quantitative")
    val q = math.rint(2.0 / config.minFreq).toInt // = round(1/halfMinFreq)
    val probs = (1 until q).map(_.toDouble / q).toArray
    val accuracy = math.min(math.rint(1.0 / config.sketchRelativeError), 100000.0).toInt
    val quantAggs = quants.flatMap { s =>
      Seq(
        approx_count_distinct(col(s.name)).as(s"${s.name}__acd"),
        percentile_approx(col(s.name).cast("double"), typedlit(probs), lit(accuracy))
          .as(s"${s.name}__pq"))
    }
    val aggs = quantAggs ++ extras
    if (aggs.isEmpty) return (Map.empty, None)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val sketched = quants.flatMap { s =>
      if (row.getAs[Long](s"${s.name}__acd") <= config.sketchCardinalityThreshold) None
      else Option(row.getSeq[Double](row.fieldIndex(s"${s.name}__pq"))).map { edges =>
        s.name -> edges.filterNot(_.isNaN).distinct.sorted.toVector
      }
    }.toMap
    (sketched, Some(row))
  }

  /** Deterministic CV fold key (C4): `pmod(xxhash64(features..., y), cv)` —
    * rows with identical content share a fold, and the assignment is
    * independent of partitioning/parallelism.
    */
  def foldKeyExpr(specs: Seq[FeatureSpec], target: String, cv: Int): Column =
    pmod(xxhash64(specs.map(s => col(s.name)) :+ col(target): _*), lit(cv))

  /** Fold key for a fit: the user-supplied fold column when configured
    * (replaying external sklearn-style assignments exactly —
    * `base_carver.py:607-628` accepts any splitter via check_cv), else the
    * deterministic hash key. Shared by every carver family's fold pass.
    */
  def foldExpr(specs: Seq[FeatureSpec], target: String, cv: Int, foldCol: Option[String]): Column =
    foldCol match {
      case Some(c) => col(c).cast("long")
      case None => foldKeyExpr(specs, target, cv)
    }

  /** Driver-only fit from collected histograms — the resumable second
    * stage (E6): the histogram is the only cluster product, so a
    * checkpointed histogram makes the whole fit replayable without
    * touching the data.
    */
  def fitFromHistograms(
      trainHist: Map[String, Array[HistRow]],
      devHist: Option[Map[String, Array[HistRow]]],
      target: String,
      specs: Seq[FeatureSpec],
      config: Config = Config(),
      foldHists: Seq[Map[String, Array[HistRow]]] = Nil
  ): Model = {
    require(specs.nonEmpty, "no features to carve")
    val prep = Prebin.prepAll(specs, trainHist, Prebin.Summed, config.minFreq, config.minFreqAlpha,
      config.rescue, config.maxHistogramRows)
    val fitted = Prebin.fitEach(specs, prep, Prebin.Summed, devHist, foldHists)(searchFeature(_, _, _, _, config))
    Model(target, config.minFreq, config.maxNMod, config.sortBy, fitted)
  }

  /** One histogram row: raw value (numeric or string; null = NaN bucket). */
  final case class HistRow(dv: Double, sv: String, isNull: Boolean, count: Long, sumY: Double)
      extends Crosstab.Cell

  // nested sv encoding: level values joined by \u0001, nulls as \u0002 —
  // control characters no extracted web-text value carries (the reference's
  // StringDiscretizer output is printable); lets the nested rollup ride the
  // SAME one-pass histogram scan as every other feature kind
  private[carve] val NestedSep = "\u0001"
  private[carve] val NestedNull = "\u0002"

  private[carve] def decodeNestedSv(sv: String, nLevels: Int): Vector[String] = {
    val parts = sv.split(NestedSep, -1)
    Vector.tabulate(nLevels)(i => if (i < parts.length && parts(i) != NestedNull) parts(i) else null)
  }

  /** Long-form (fid, dv, sv) entry structs — the explode payload shared by
    * the [[Crosstab]] stage and the input audit. Nested features encode
    * their whole (finest, parents...) tuple into sv so the rollup
    * needs no second scan; a null finest value is the NaN bucket regardless
    * of parents.
    */
  def histEntries(specs: Seq[FeatureSpec], sketched: Map[String, Vector[Double]]): Seq[Column] =
    specs.map { s =>
      if (s.kind == "quantitative")
        struct(lit(s.name).as("fid"), quantValueExpr(s.name, sketched).as("dv"),
          lit(null).cast("string").as("sv"))
      else if (s.kind == "nested") {
        val levels = (s.name +: s.parents).map(c =>
          coalesce(categoricalStringExpr(col(c)), lit(NestedNull)))
        val sv = when(col(s.name).isNull, lit(null).cast("string"))
          .otherwise(concat_ws(NestedSep, levels: _*))
        struct(lit(s.name).as("fid"), lit(null).cast("double").as("dv"), sv.as("sv"))
      } else
        struct(lit(s.name).as("fid"), lit(null).cast("double").as("dv"),
          categoricalStringExpr(col(s.name)).as("sv"))
    }

  /** The binary projection of the [[Crosstab]] stage: count + sum(y) per
    * (feature, value), without folds.
    */
  def histogram(df: DataFrame, target: String, specs: Seq[FeatureSpec],
      sketched: Map[String, Vector[Double]] = Map.empty,
      requireBinaryY: Boolean = false): Map[String, Array[HistRow]] =
    Crosstab.stage(df, target, specs, sketched, Crosstab.Summed(requireBinaryY), None)(Crosstab.summed).total

  /** Raw value, or — for sketched high-cardinality columns — the bucket's
    * representative value (upper edge; last bucket -> last edge + 1). Null
    * and NaN both become null (the NaN bucket), as in `transform`.
    */
  private[carve] def quantValueExpr(name: String, sketched: Map[String, Vector[Double]]): Column =
    sketched.get(name).filter(_.nonEmpty) match {
      case None =>
        val c = col(name).cast("double")
        when(!isnan(c), c)
      case Some(edges) =>
        val reps = edges :+ (edges.last + 1.0)
        val bucket = graft.transform.BinarySearchBucketize.column(
          col(name), edges, edges.indices.toVector :+ edges.length, nanBin = -1)
        element_at(typedlit(reps), bucket + 1).cast("double")
    }

  /** Driver-side bin layout of one prepped feature, shared by every carver
    * family: how raw values map to search labels, and all that
    * [[assembleFitted]] needs besides the chosen combination.
    */
  final case class Layout(
      kind: String,
      prebinEdges: Vector[Double],
      // maps a raw value to its search label ("m####" leader for quantitative
      // prebins after rare-merge; value/OTHER for categorical)
      prebinLeader: Vector[String],     // quantitative: prebin idx -> leader label
      valueToRaw: Map[String, String],  // categorical: raw value -> raw label
      rawOrder: Vector[String],         // search label order (without NaN)
      hasNan: Boolean,
      hasDefault: Boolean,
      // ordinal, nested: search label -> its pre-merged raw members in
      // declared order (bin labels list every member, not just the leader)
      members: Map[String, Vector[String]] = Map.empty
  ) {
    /** The searched labels: the search order, then NaN when present. */
    def labels: Vector[String] = if (hasNan) rawOrder :+ NanLabel else rawOrder

    /** Search label of one crosstab value of a validation view (dev or
      * fold); null when an unseen value has no bucket to fall into.
      */
    def labelOf(spec: FeatureSpec, dv: Double, sv: String, isNull: Boolean): String =
      if (isNull) NanLabel
      else if (kind == "quantitative") prebinLeader(searchsortedLeft(prebinEdges, dv))
      else if (kind == "nested") {
        // X4 on the validation view: unseen finest values walk the tuple's
        // parent values nearest→coarsest to the first surviving bucket
        val levels = decodeNestedSv(sv, spec.parents.length + 1)
        valueToRaw.get(levels.head) match {
          case Some(lbl) => lbl
          case None =>
            val buckets = rawOrder.toSet
            levels.tail.find(v => v != null && buckets.contains(v))
              .getOrElse(if (buckets.contains(OtherLabel)) OtherLabel else null)
        }
      }
      else valueToRaw.getOrElse(sv, if (hasDefault) OtherLabel else null)
  }

  /** Search-ready feature state of the summed-target families. */
  type Prep = Prebin.Prep[Search.Xagg]

  private def searchFeature(spec: FeatureSpec, p: Prep, devXagg: Option[Search.Xagg], folds: Seq[Search.Xagg],
      config: Config): FittedFeature = {
    val ev = Search.Evaluator(config.maxNMod, config.minFreq, config.minFreqAlpha, config.topKInitial,
      config.escalate, config.rescue, config.history, config.dropna)
    val (best0, history) =
      ev.search(Search.Chi2Measure(config.sortBy, config.rateStrategy), p.xagg, devXagg, folds, p.layout.hasNan)
    // dropna=false: the NaN group (the all-vs-NaN rescue's second half) and
    // the NaN rate row never materialize as a bin — NaN stays raw at
    // transform time (`Features.unfillna`); the split was only the
    // viability vehicle. The NaN group, when present, is last, so the
    // surviving bin indices are unchanged.
    val best =
      if (config.dropna || !p.layout.hasNan) best0
      else best0.map(b => b.copy(
        combination = b.combination.filterNot(_ == Vector(NanLabel)),
        rates = b.rates.filterNot(_.label == NanLabel)))
    best match {
      case None => assembleFitted(spec, p.layout, Vector.empty, Vector.empty, Double.NaN, Double.NaN,
        history, config.dropna)
      case Some(b) => assembleFitted(spec, p.layout, b.combination, b.rates, b.best.cramerv, b.best.tschuprowt,
        history, config.dropna)
    }
  }

  /** The fitted feature for a chosen combination of search labels — one
    * assembly for every carver family. An empty combination (nothing
    * viable) gives the dropped feature.
    */
  private[carve] def assembleFitted(spec: FeatureSpec, l: Layout, combination: Vector[Vector[String]],
      rates: Vector[Search.RateRow], cramerv: Double, tschuprowt: Double,
      history: Vector[Search.HistoryEntry], fitDropna: Boolean = true): FittedFeature = {
    if (combination.isEmpty)
      return FittedFeature(spec.name, l.kind, l.prebinEdges, Vector.empty, Map.empty,
        -1, -1, l.hasNan, l.hasDefault, Vector.empty, Double.NaN, Double.NaN,
        Vector.empty, dropped = true, droppedReason = "no viable combination",
        history = history, fitDropna = fitDropna)
    // final bin index per search label
    val labelToBin: Map[String, Int] =
      combination.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val nanBin = labelToBin.getOrElse(NanLabel, -1)
    if (l.kind == "quantitative")
      return FittedFeature(spec.name, l.kind, l.prebinEdges, l.prebinLeader.map(labelToBin.getOrElse(_, -1)),
        Map.empty, nanBin, -1, l.hasNan, l.hasDefault, quantBinLabels(combination, l, nanBin),
        cramerv, tschuprowt, rates, dropped = false, droppedReason = "",
        history = history, fitDropna = fitDropna)
    val valueToBin = l.valueToRaw.collect {
      case (v, raw) if labelToBin.contains(raw) => v -> labelToBin(raw)
    }
    // nested features ALWAYS have a default bucket (the reference's
    // has_default setter appends a zero-mass __OTHER__ as the LAST
    // modality when no terminal pooling created one — verified by
    // executing it: unresolved unseen values land in the last bin)
    val nested = l.kind == "nested"
    val otherBin = labelToBin.getOrElse(OtherLabel, if (nested) combination.length - 1 else -1)
    // ordinal: a search label may stand for several pre-merged raw
    // members — the bin label lists them all (declared order)
    val binLabels0 = combination.map(g => g.flatMap(x => l.members.getOrElse(x, Vector(x))).mkString(", "))
    // ...and the appended zero-mass default joins the last bin's member
    // list, mirroring the reference's GroupedList content
    val binLabels =
      if (nested && !labelToBin.contains(OtherLabel))
        binLabels0.updated(otherBin, binLabels0(otherBin) + s", $OtherLabel")
      else binLabels0
    FittedFeature(spec.name, l.kind, Vector.empty, Vector.empty, valueToBin,
      nanBin, otherBin, l.hasNan, l.hasDefault, binLabels, cramerv, tschuprowt,
      rates, dropped = false, droppedReason = "",
      ordinalOrder = if (l.kind == "ordinal") spec.ordinalOrder.toVector else Vector.empty,
      parents = if (nested) spec.parents.toVector else Vector.empty,
      // nested: bucket leaders get their own map for the X4 parent walk
      // (parent values are only ever matched against LEADERS)
      leaderToBin =
        if (nested) labelToBin.filterNot { case (x, _) => x == NanLabel || x == OtherLabel }
        else Map.empty,
      history = history, fitDropna = fitDropna)
  }

  private def quantBinLabels(combination: Vector[Vector[String]], p: Layout, nanBin: Int): Vector[String] = {
    combination.zipWithIndex.map { case (g, i) =>
      val idxs = g.filterNot(_ == NanLabel).flatMap(l =>
        p.prebinLeader.zipWithIndex.collect { case (leader, pi) if leader == l => pi })
      val base =
        if (idxs.isEmpty) ""
        else {
          val lo = idxs.min
          val hi = idxs.max
          val loStr = if (lo == 0) "-inf" else fmt(p.prebinEdges(lo - 1))
          val hiStr = if (hi >= p.prebinEdges.length) "+inf" else fmt(p.prebinEdges(hi))
          s"($loStr, $hiStr]"
        }
      if (i == nanBin && base.nonEmpty) s"$base or $NanLabel"
      else if (i == nanBin) NanLabel
      else base
    }
  }

  private def fmt(d: Double): String = {
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else f"$d%.6g"
  }

  /** numpy searchsorted(edges, x, side='left'): count of edges < x …
    * actually: first index i with edges(i) >= x (bin = (prev, edges(i)]).
    */
  def searchsortedLeft(edges: Vector[Double], x: Double): Int = {
    var lo = 0
    var hi = edges.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (edges(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}
