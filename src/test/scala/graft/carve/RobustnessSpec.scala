package graft.carve

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** CV folds (C4), rescue-rare (C13), datetime features (T3) and the
  * R2/R3 target-rate strategies.
  */
class RobustnessSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = {
    val rows = (0 until 4000).map { i =>
      val x = (i % 100).toDouble
      val noise = (i * 2654435761L % 97) / 97.0
      val y = if (x / 100.0 * 0.8 + noise * 0.4 > 0.7) 1 else 0
      (i.toLong, x, y)
    }
    rows.toDF("id", "x", "y")
  }

  test("rate strategies: odds_ratio and woe transform the mean rate") {
    val x = Search.Xagg(Vector("a", "b"), Array(60.0, 20.0), Array(40.0, 80.0))
    val mean = Search.rates(x, "target_mean").map(_.rate)
    val odds = Search.rates(x, "odds_ratio").map(_.rate)
    val woe = Search.rates(x, "woe").map(_.rate)
    assert(mean == Vector(0.4, 0.8))
    assert(odds.zip(mean.map(r => r / (1 - r))).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // woe = ln(mean1/mean0) = ln(n1/n0)
    assert(math.abs(woe(0) - math.log(40.0 / 60.0)) < 1e-12)
    assert(math.abs(woe(1) - math.log(80.0 / 20.0)) < 1e-12)
    intercept[IllegalArgumentException](Search.rates(x, "nope"))
  }

  test("carver fit with woe rate strategy still finds monotone bins") {
    val m = BinaryCarver.fit(df, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative")),
      config = BinaryCarver.Config(rateStrategy = "woe"))
    val f = m.kept.head
    assert(f.nBins >= 2)
    // woe rates monotone in the same direction as mean rates
    val rates = f.rates.map(_.rate)
    assert(rates == rates.sorted, rates.toString)
  }

  test("cv folds: deterministic assignment, viable fit unchanged on strong signal") {
    val m0 = BinaryCarver.fit(df, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative")))
    val m5 = BinaryCarver.fit(df, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative")),
      config = BinaryCarver.Config(cv = 5))
    // a strong monotone signal survives every fold: same bins chosen
    assert(m5.kept.nonEmpty)
    assert(m0.kept.head.prebinToBin == m5.kept.head.prebinToBin)
  }

  test("user-supplied fold column replays an external assignment exactly") {
    val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"))
    // materialize the hash assignment as a plain column: a fit reading it
    // back via foldCol must see byte-identical fold histograms, proving an
    // EXTERNAL (sklearn-style) assignment routes through unchanged
    val withFold = df.withColumn("__fold", BinaryCarver.foldKeyExpr(specs, "y", 5))
    val viaHash = Crosstab.stage(df, "y", specs, Map.empty, Crosstab.Summed(),
      Some(Crosstab.Folds(5)))(Crosstab.summed)
    val viaCol = Crosstab.stage(withFold, "y", specs, Map.empty, Crosstab.Summed(),
      Some(Crosstab.Folds(5, foldCol = Some("__fold"))))(Crosstab.summed)
    def canon(h: Seq[Map[String, Array[BinaryCarver.HistRow]]]) =
      h.map(_.view.mapValues(_.sortBy(r => (r.dv, r.count)).toVector).toMap)
    assert(canon(viaHash.folds) == canon(viaCol.folds))
    // and a full fit through Config.foldCol matches the hash-cv fit
    val mHash = BinaryCarver.fit(df, "y", specs, config = BinaryCarver.Config(cv = 5))
    val mCol = BinaryCarver.fit(withFold, "y", specs,
      config = BinaryCarver.Config(cv = 5, foldCol = "__fold"))
    assert(mHash.kept.head.prebinToBin == mCol.kept.head.prebinToBin)
    // a different external assignment is honored (id-round-robin), still fits
    val rr = df.withColumn("__fold", pmod(col("id"), lit(5)))
    val mRR = BinaryCarver.fit(rr, "y", specs,
      config = BinaryCarver.Config(cv = 5, foldCol = "__fold"))
    assert(mRR.kept.nonEmpty)
    // out-of-range fold ids fail fast instead of corrupting fold views
    val bad = df.withColumn("__fold", pmod(col("id"), lit(9)))
    val e = intercept[Exception] {
      BinaryCarver.fit(bad, "y", specs, config = BinaryCarver.Config(cv = 5, foldCol = "__fold"))
    }
    assert(e.getMessage.contains("outside [0, 5)"), e.getMessage)
  }

  test("foldCol validation is shared by the multiclass and ordinal fold loops") {
    // the same null / out-of-range contract as the binary family — a bad
    // user fold column raises the typed error, never an NPE or a silently
    // truncated array index
    val mdf = df.withColumn("k", (col("y") + pmod(col("id"), lit(2))).cast("string"))
    val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"))
    val badRange = mdf.withColumn("__fold", pmod(col("id"), lit(9)))
    val e1 = intercept[Exception] {
      MulticlassCarver.fit(badRange, "k", specs,
        config = MulticlassCarver.Config(cv = 3, foldCol = "__fold"))
    }
    assert(e1.getMessage.contains("outside [0, 3)"), e1.getMessage)
    val badNull = mdf.withColumn("__fold",
      when(col("id") % 100 === 0, lit(null)).otherwise(pmod(col("id"), lit(3))))
    val e2 = intercept[Exception] {
      MulticlassCarver.fit(badNull, "k", specs,
        config = MulticlassCarver.Config(cv = 3, foldCol = "__fold"))
    }
    assert(e2.getMessage.contains("fold column carries nulls"), e2.getMessage)
    val e3 = intercept[Exception] {
      OrdinalCarver.fit(badRange.withColumn("lvl", (col("y") * 2 + pmod(col("id"), lit(2))).cast("int")),
        "lvl", specs, config = OrdinalCarver.Config(cv = 3, foldCol = "__fold"))
    }
    assert(e3.getMessage.contains("outside [0, 3)"), e3.getMessage)
    // a valid external assignment still fits in both families
    val ok = mdf.withColumn("__fold", pmod(col("id"), lit(3)))
    assert(MulticlassCarver.fit(ok, "k", specs,
      config = MulticlassCarver.Config(cv = 3, foldCol = "__fold")).features.nonEmpty)
    assert(OrdinalCarver.fit(ok.withColumn("lvl", (col("y") * 2 + pmod(col("id"), lit(2))).cast("int")),
      "lvl", specs, config = OrdinalCarver.Config(cv = 3, foldCol = "__fold")).features.nonEmpty)
  }

  test("cv folds are single-pass: a cv=5 fit launches no more cluster jobs than cv=0") {
    // the fold key is one more groupBy column in the ONE histogram scan —
    // a cv=5 fit must not scan the table per fold (round-2 scale-killer)
    val specs = Seq(BinaryCarver.FeatureSpec("x", "quantitative"))
    val kdf = df.withColumn("lvl", (col("y") * 2 + pmod(col("id"), lit(2))).cast("int"))
      .withColumn("k", (col("y") + pmod(col("id"), lit(2))).cast("string"))
    // family -> (cv folds, fit under that cv; 0 = no folds)
    val fits: Seq[(String, Int, Int => Unit)] = Seq(
      ("binary", 5, cv => BinaryCarver.fit(df, "y", specs, config = BinaryCarver.Config(cv = cv))),
      ("ordinal", 3, cv => OrdinalCarver.fit(kdf, "lvl", specs, config = OrdinalCarver.Config(cv = cv))),
      ("multiclass", 3, cv => MulticlassCarver.fit(kdf, "k", specs, config = MulticlassCarver.Config(cv = cv))),
      ("one-vs-rest", 3, cv => OneVsRestCarver.fit(kdf, "k", specs, config = BinaryCarver.Config(cv = cv))),
      ("continuous", 3, cv => ContinuousCarver.fit(kdf, "lvl", specs,
        config = BinaryCarver.Config(sortBy = "kruskal", cv = cv))))
    fits.foreach { case (family, cv, fit) =>
      val (plain, _) = countJobs()(fit(0))
      val (folded, _) = countJobs()(fit(cv))
      assert(folded <= plain + 1, s"$family: cv=$cv fit ran $folded jobs vs $plain without cv")
    }
  }

  test("a failing per-k DP run reaches the caller with its own exception type") {
    val e = intercept[IllegalArgumentException] {
      Dp.perKParallel(5) { k => require(k != 3, s"k-run $k failed"); k }
    }
    assert(e.getMessage.contains("k-run 3 failed"), e.getMessage)
    assert(Dp.perKParallel(5)(identity) == Vector(2, 3, 4, 5))
  }

  test("the DP pool stays bounded: a wide chi² fit never runs more graft-dp threads than cores") {
    // 8 features x 100 prebins at max_n_mod 8: 7 concurrent k-runs per
    // feature search, several feature searches at once
    val hist = (0 until 8).map { f =>
      s"x$f" -> Array.tabulate(2000)(v =>
        BinaryCarver.HistRow(v.toDouble, null, isNull = false, 5L, ((v * 7 + f * 13) % 6).min(5).toDouble))
    }.toMap
    val specs = hist.keys.toSeq.sorted.map(BinaryCarver.FeatureSpec(_, "quantitative"))
    def dpThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(t => t.getName == "graft-dp" && t.isAlive)
    @volatile var done = false
    @volatile var peak = 0
    val probe = new Thread(() => while (!done) { peak = math.max(peak, dpThreads); Thread.sleep(1) })
    probe.setDaemon(true)
    probe.start()
    try BinaryCarver.fitFromHistograms(hist, None, "y", specs,
      BinaryCarver.Config(minFreq = 0.02, maxNMod = 8))
    finally { done = true; probe.join() }
    assert(peak > 0, "the fit ran no per-k DP on the pool")
    assert(peak <= Dp.dpPoolSize, s"$peak graft-dp threads alive, bound ${Dp.dpPoolSize}")
  }

  test("cv folds veto an unstable split that train+dev alone accept") {
    // y flips sign across fold-correlated subgroups -> per-fold ordering differs
    val rows = (0 until 3000).map { i =>
      val x = (i % 10).toDouble
      // signal visible on full train, inverted on a content-defined subset
      val y = if ((i % 3) == 0) (if (x < 5) 1 else 0) else (if (x >= 5) 1 else 0)
      (x, (i % 3).toDouble, y)
    }
    val unstable = rows.toDF("x", "g", "y")
    val mcv = BinaryCarver.fit(unstable, "y",
      Seq(BinaryCarver.FeatureSpec("x", "quantitative")),
      config = BinaryCarver.Config(cv = 4))
    val m0 = BinaryCarver.fit(unstable, "y", Seq(BinaryCarver.FeatureSpec("x", "quantitative")))
    // cv cannot produce MORE viable fits than no-cv; on this construction the
    // machinery ran per-fold vetoes (either dropping or agreeing across folds)
    assert(m0.features.nonEmpty && mcv.features.nonEmpty)
    if (m0.kept.nonEmpty && mcv.kept.nonEmpty) {
      assert(mcv.kept.head.nBins <= m0.kept.head.nBins)
    }
  }

  test("rescue-rare: dominant-mode categorical (reference test_rescue_rare shape)") {
    // 99% "A" (rate 0.2) + 1% "B" (rate 0.9) — mirrors the reference's
    // _dominant_column(3960, 40, 0.2, 0.9) at min_freq=0.05
    def dominant(domRate: Double, rareRate: Double) = {
      val nDom = 3960; val nRare = 40
      val domPos = math.round(domRate * nDom).toInt
      val rarePos = math.round(rareRate * nRare).toInt
      val rows = (0 until nDom).map(i => ("A", if (i < domPos) 1 else 0)) ++
        (0 until nRare).map(i => ("B", if (i < rarePos) 1 else 0))
      rows.toDF("feature", "y")
    }
    val spec = Seq(BinaryCarver.FeatureSpec("feature", "categorical"))
    val cfg = BinaryCarver.Config(minFreq = 0.05, maxNMod = 4)
    // default: the frequency sanity gate (P7) raises on the 99% mode
    intercept[IllegalArgumentException] {
      BinaryCarver.fit(dominant(0.2, 0.9), "y", spec, config = cfg)
    }
    // rescue + dev, informative rare modality -> kept with 2 modalities
    val rescued = BinaryCarver.fit(dominant(0.2, 0.9), "y", spec,
      dev = Some(dominant(0.2, 0.9)), config = cfg.copy(rescue = true))
    assert(rescued.kept.nonEmpty, "expected rescue to waive min_freq")
    assert(rescued.kept.head.nBins == 2)
    // rescue + dev, NON-informative rare modality -> dropped (distinct-rates veto)
    val dropped = BinaryCarver.fit(dominant(0.2, 0.2), "y", spec,
      dev = Some(dominant(0.2, 0.2)), config = cfg.copy(rescue = true))
    assert(dropped.kept.isEmpty)
    // rescue without any validation view: gate is bypassed but min_freq is
    // NOT waived (no robustness evidence) -> dropped
    val noDev = BinaryCarver.fit(dominant(0.2, 0.9), "y", spec, config = cfg.copy(rescue = true))
    assert(noDev.kept.isEmpty)
  }

  test("continuous target_median rate (R4): median viability rates, monotone") {
    val rows = (0 until 3000).map { i =>
      val x = (i % 100).toDouble
      val noise = ((i * 2654435761L) % 97).toDouble / 97.0
      (x, x * 2.0 + noise * 10.0)
    }
    val cdf = rows.toDF("x", "yc")
    val m = ContinuousCarver.fit(cdf, "yc", Seq(BinaryCarver.FeatureSpec("x", "quantitative")),
      config = BinaryCarver.Config(sortBy = "kruskal", rateStrategy = "target_median"))
    val f = m.kept.head
    val rates = f.rates.map(_.rate)
    assert(rates == rates.sorted, rates.toString)
    // median of a bin differs from its mean on this skewed noise; sanity: the
    // first bin's median is within the bin's y range
    assert(rates.head >= 0.0 && rates.head <= 300.0)
    // median + cv folds: per-fold medians feed the vetoes (one extra job)
    val mcv = ContinuousCarver.fit(cdf, "yc", Seq(BinaryCarver.FeatureSpec("x", "quantitative")),
      config = BinaryCarver.Config(sortBy = "kruskal", rateStrategy = "target_median", cv = 3))
    assert(mcv.kept.nonEmpty)
    // weightedMedian matches numpy semantics on hand cases
    assert(Continuous.weightedMedian(Array((1.0, 1.0), (2.0, 1.0), (3.0, 1.0))) == 2.0)
    assert(Continuous.weightedMedian(Array((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (10.0, 1.0))) == 2.5)
    assert(Continuous.weightedMedian(Array((1.0, 3.0), (5.0, 1.0))) == 1.0)
    assert(Continuous.weightedMedian(Array((1.0, 2.0), (5.0, 2.0))) == 3.0)
  }

  test("datetime features: seconds since literal and since column; NaT -> null") {
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
      (2L, "2024-01-02 00:00:00", "2024-01-01 00:00:00"),
      (3L, null, "2024-01-01 00:00:00")
    ).toDF("id", "ts", "ref")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("ref", col("ref").cast("timestamp"))
    import DatetimeFeatures._
    val out = withTimedeltas(rows, Seq(
      DatetimeSpec("ts", "2024-01-01", as = "since_lit"),
      DatetimeSpec("ts", "ref", as = "since_col")))
    val got = out.select("id", "since_lit", "since_col").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got(1L) == (Some(0.0), Some(-60.0)))
    assert(got(2L) == (Some(86400.0), Some(86400.0)))
    assert(got(3L) == (None, None))
    intercept[IllegalArgumentException] {
      withTimedeltas(rows, Seq(DatetimeSpec("ts", "not_a_date_or_column")))
    }
  }

  test("datetime auto-reference resolution matches the reference (pinned by executing it)") {
    // _resolve_datetime_references on this exact fixture (executed via the
    // gen_ref_saved.py shims) returns {'a': 'b', 'b': '2023-12-31', 'c': 'b'}:
    // anchor = b (latest max), non-anchor columns (all-null c included) are
    // row-wise vs b, the anchor falls back to its own earliest DATE literal
    val rows = Seq(
      ("2024-01-05 10:00:00", "2023-12-31 23:59:59", null),
      ("2024-02-01 00:30:00", "2024-03-05 12:00:00", null),
      (null, "2024-01-01 00:00:00", null)
    ).toDF("a", "b", "c")
      .select(col("a").cast("timestamp"), col("b").cast("timestamp"), col("c").cast("timestamp"))
    import DatetimeFeatures._
    val specs = resolveReferences(rows, Seq("a", "b", "c"))
    assert(specs.map(s => s.name -> s.referenceDate) ==
      Seq("a" -> "b", "b" -> "2023-12-31", "c" -> "b"), specs.toString)
    // single column -> its own earliest date ({'a': '2024-01-05'})
    assert(resolveReferences(rows.select("a"), Seq("a")).head.referenceDate == "2024-01-05")
    // tie on the max -> FIRST column in list order wins (Python max semantics):
    // reference returns {'p': '2024-01-01', 'q': 'p'} and {'q': '2024-02-01', 'p': 'q'}
    val tie = Seq(
      ("2024-03-05 12:00:00", "2024-03-05 12:00:00"),
      ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    ).toDF("p", "q").select(col("p").cast("timestamp"), col("q").cast("timestamp"))
    assert(resolveReferences(tie, Seq("p", "q")).map(s => s.name -> s.referenceDate) ==
      Seq("p" -> "2024-01-01", "q" -> "p"))
    assert(resolveReferences(tie, Seq("q", "p")).map(s => s.name -> s.referenceDate) ==
      Seq("q" -> "2024-02-01", "p" -> "q"))
    // all-null column with no anchor anywhere -> NaT sentinel, null deltas
    val allNull = rows.select(col("c"))
    val nat = resolveReferences(allNull, Seq("c"))
    assert(nat.head.referenceDate == DatetimeFeatures.NaTReference)
    assert(withTimedeltas(allNull, nat).select("c").collect().forall(_.isNullAt(0)))
  }

  test("datetime feature carves as an ordinary quantitative (page pipeline shape)") {
    val rows = (0 until 2000).map { i =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 28}%02d 00:00:00")
      val y = if (i % 28 > 14) 1 else 0
      (ts, y)
    }
    val df2 = rows.toDF("warc_ts", "y")
    val withAge = DatetimeFeatures.withTimedeltas(df2,
      Seq(DatetimeFeatures.DatetimeSpec("warc_ts", "2024-01-01", as = "age_sec")))
    val m = BinaryCarver.fit(withAge, "y", DatetimeFeatures.featureSpecs(
      Seq(DatetimeFeatures.DatetimeSpec("warc_ts", "2024-01-01", as = "age_sec"))))
    assert(m.kept.nonEmpty)
    val rates = m.kept.head.rates.map(_.rate)
    assert(rates == rates.sorted, rates.toString)
  }
}
