package graft.select

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SelectorSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = {
    val rows = (0 until 2000).map { i =>
      val signal = (i % 100).toDouble
      val noise = ((i * 2654435761L) % 1000).toDouble / 1000.0
      val copy = signal * 2 + 1 // perfectly redundant with signal
      val cat = s"c${i % 4}"
      val catNoise = s"n${(i * 7919) % 5}"
      val constant = 1.0
      val y = if (signal / 100.0 + noise * 0.2 > 0.55) 1 else 0
      (i.toLong, signal, copy, noise, constant, cat, catNoise, y)
    }
    rows.toDF("id", "signal", "copy", "noise", "constant", "cat", "cat_noise", "y")
  }

  test("quantitative metrics: signal ranks above noise, constant gated") {
    val sel = Selector.select(df, "y",
      quants = Seq("signal", "copy", "noise", "constant"), quals = Nil,
      config = Selector.Config(nBest = 2))
    val keptNames = sel.kept.map(_.name)
    // signal and copy tie on |corr| (copy = 2*signal+1): exactly one survives,
    // the other is redundancy-dropped
    assert(keptNames.count(Set("signal", "copy")) == 1, sel.kept.toString)
    assert(!keptNames.contains("constant"))
    assert(sel.dropped.exists { case (m, r) => m.name == "constant" && r == "constant" })
    assert(sel.dropped.exists { case (m, r) =>
      Set("signal", "copy")(m.name) && r.startsWith("redundant_with")
    }, sel.dropped.toString)
  }

  test("ranked report mirrors format_ranked_features (uniform frame, ranks, redundancy)") {
    val sel = Selector.select(df, "y",
      quants = Seq("signal", "copy", "noise", "constant"), quals = Seq("cat"),
      config = Selector.Config(nBest = 2))
    val rows = sel.report
    assert(rows.map(_.feature).toSet == Set("signal", "copy", "noise", "constant", "cat"))
    // gate-dropped features keep their gate values but carry no rank
    val const = rows.find(_.feature == "constant").get
    assert(const.rank.isEmpty && !const.kept && const.reason == "constant")
    // the redundancy drop is NAMED with its correlated-with feature + value
    val red = rows.find(r => Set("signal", "copy")(r.feature) && !r.kept).get
    assert(red.filter.contains("Redundancy"), red.toString)
    assert(red.filteredWith.exists(Set("signal", "copy")), red.toString)
    assert(red.redundancy.exists(_ > 0.9), red.toString)
    // per-kind ranks are 1..n over gate survivors
    val quantRanks = rows.filter(r => r.kind == "quantitative" && r.rank.nonEmpty).flatMap(_.rank)
    assert(quantRanks.sorted == (1 to quantRanks.length).toVector, quantRanks.toString)
    assert(rows.find(_.feature == "cat").get.measure == "CramerV")
    // the frame sorts by rank with unranked last and carries snake_case cols
    val frame = sel.reportFrame(spark)
    assert(frame.columns.toSeq == Seq("feature", "kind", "nan_freq", "mode_freq", "measure",
      "association", "rank", "filter", "redundancy", "filtered_with", "kept", "reason"))
    val ordered = frame.select("feature").collect().map(_.getString(0))
    assert(ordered.last == "constant", ordered.mkString(","))
    // task presets rename the measure column
    val clsSel = Selector.selectTask(df, "y", Seq("signal", "noise"), Seq("cat"), "classification")
    assert(clsSel.report.find(_.feature == "signal").get.measure == "Kruskal")
    assert(clsSel.report.find(_.feature == "cat").get.measure == "TschuprowT")
  }

  test("qualitative metrics: associated categorical beats noise categorical") {
    val withSignalCat = df.withColumn("cat_sig", concat(lit("s"), col("y").cast("string")))
    val sel = Selector.select(withSignalCat, "y", quants = Nil,
      quals = Seq("cat", "cat_noise", "cat_sig"),
      config = Selector.Config(nBest = 1))
    assert(sel.kept.map(_.name) == Vector("cat_sig"), sel.kept.toString)
  }

  test("splitBudget: largest-remainder apportionment (F5)") {
    // 5 seats over 7 quant + 3 qual: exact 3.5/1.5 -> floors 3/1, one
    // leftover seat; fractional tie resolves by input order (reference's
    // stable sort over the insertion-ordered counts dict)
    val b = Selector.splitBudget(5, Seq("quantitative" -> 7, "categorical" -> 3))
    assert(b.values.sum == 5, b.toString)
    assert(b("quantitative") == 4 && b("categorical") == 1, b.toString)
    // budget >= total means no cap
    assert(Selector.splitBudget(20, Seq("quantitative" -> 7, "categorical" -> 3)) ==
      Map("quantitative" -> 7, "categorical" -> 3))
    // reference parity: split_budget(4, {"a": 5, "b": 5}) = {"a": 2, "b": 2}
    assert(Selector.splitBudget(4, Seq("a" -> 5, "b" -> 5)) == Map("a" -> 2, "b" -> 2))
  }

  test("total budget caps across kinds in select() (F5)") {
    val sel = Selector.select(df, "y",
      quants = Seq("signal", "noise"), quals = Seq("cat", "cat_noise"),
      config = Selector.Config(redundancyThreshold = 0.999, totalBudget = Some(2)))
    // 2 seats over 2+2 features -> one per kind
    assert(sel.kept.length == 2, sel.kept.toString)
    assert(sel.kept.map(_.kind).sorted == Vector("categorical", "quantitative"))
  }

  test("task presets (F6): classification vs regression pick different measures") {
    // classification on the binary target: signal ranked by Kruskal-eta2
    val cls = Selector.selectTask(df, "y", Seq("signal", "noise"), Seq("cat", "cat_noise"),
      task = "classification", config = Selector.Config(nBest = 1))
    assert(cls.kept.exists(_.name == "signal"), cls.kept.toString)
    // regression on a continuous target: spearman ranks quantitatives,
    // reversed-kruskal ranks qualitatives
    val withCont = df.withColumn("yc", col("signal") * 2 + col("noise"))
      .withColumn("cat_sig", concat(lit("s"), (col("signal") > 50).cast("int").cast("string")))
    val reg = Selector.selectTask(withCont, "yc", Seq("signal", "noise"),
      Seq("cat_sig", "cat_noise"), task = "regression", config = Selector.Config(nBest = 1))
    assert(reg.kept.exists(_.name == "signal"), reg.kept.toString)
    assert(reg.kept.exists(_.name == "cat_sig"), reg.kept.toString)
    intercept[IllegalArgumentException] {
      Selector.selectTask(df, "y", Seq("signal"), Nil, task = "nope")
    }
  }

  test("budget caps per kind and spearman is computed") {
    val m = Selector.quantitativeMetrics(df, "y", Seq("signal", "noise"))
    assert(m("signal").association > m("noise").association)
    assert(!m("signal").spearman.isNaN)
    val sel = Selector.select(df, "y", Seq("signal", "noise"), Nil,
      Selector.Config(nBest = 1, redundancyThreshold = 0.99))
    assert(sel.kept.length == 1)
    assert(sel.dropped.exists(_._2 == "budget"))
  }

  /** Spark jobs `body` launches, with AQE and auto-broadcast off so each
    * action is one job (as in DedupSpec's CC job-budget test).
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val bcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Thread.sleep(300) // let queued listener events drain
      (r, counter.get())
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastBefore)
    }
  }

  test("select runs the global aggregate and the grouped pass only: at most 3 jobs") {
    // one job for the global aggregate; the grouped pass's bounded collect
    // takes one shuffle partition first, then the other three (two jobs)
    val (sel, jobs) = jobsOf(Selector.select(df, "y",
      quants = Seq("signal", "copy", "noise", "constant"), quals = Seq("cat", "cat_noise"),
      config = Selector.Config(nBest = 2)))
    assert(jobs <= 3, s"ran $jobs jobs")
    assert(sel.kept.nonEmpty)
    val (_, taskJobs) = jobsOf(Selector.selectTask(df, "y", Seq("signal", "noise"),
      Seq("cat", "cat_noise"), task = "classification"))
    assert(taskJobs <= 3, s"selectTask ran $taskJobs jobs")
    // rank measures alone never run the global aggregate
    val (_, rankJobs) = jobsOf(Selector.kruskalByFeature(df, "y", Seq("signal", "noise")))
    assert(rankJobs <= 2, s"kruskalByFeature ran $rankJobs jobs")
  }

  test("driver ranks and bucketed-window ranks agree on both sides of the row bound") {
    // ties (few distinct values), NaN feature values and null-y rows
    val t = (0 until 1500).map { i =>
      val signal = if (i % 11 == 0) Double.NaN else (i % 40).toDouble
      val noise = ((i * 7919) % 13).toDouble
      val yc = if (i % 17 == 0) None else Some((i % 40) / 8 + (i * 31 % 3).toDouble)
      (signal, noise, s"c${i % 4}", s"n${(i * 7919) % 5}", yc)
    }.toDF("signal", "noise", "cat", "cat_noise", "yc")
    def measures(bound: Long) = {
      val a = new Selector.Aggregates(t, Some("yc"), Seq("signal", "noise"), Seq("cat", "cat_noise"),
        redundancy = true, bound = bound)
      try (a.spearman, a.kruskal, a.kruskalReversed, a.cardinality,
        a.qualHist.view.mapValues(_.toSeq.map(r => (r.sv, r.isNull, r.count, r.sumY))).toMap,
        a.pairMatrix(Seq("cat", "cat_noise")))
      finally a.release()
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val driver = measures(Long.MaxValue)
    val window = measures(0L)
    assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore, "grouped frame left persisted")
    def close(a: Double, b: Double) = (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(a))
    assert(driver._1.keySet == Set("signal", "noise") && driver._1.keySet == window._1.keySet)
    driver._1.foreach { case (n, v) => assert(close(v, window._1(n)), s"spearman $n: $v vs ${window._1(n)}") }
    Seq(driver._2 -> window._2, driver._3 -> window._3).foreach { case (d, w) =>
      assert(d.keySet == w.keySet && d.nonEmpty)
      d.foreach { case (n, k) =>
        val o = w(n)
        assert(close(k.h, o.h) && close(k.epsilonSq, o.epsilonSq) && close(k.etaSq, o.etaSq), s"kruskal $n: $k vs $o")
      }
    }
    assert(driver._4 == window._4 && driver._5 == window._5)
    assert(driver._6.forall { case (p, v) => close(v, window._6(p)) })
  }

  test("grouped-pass cardinality equals count_distinct over NaN, -0.0 and 0.0") {
    val t = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), Some(Double.NaN), Some(1.0), None, Some(-0.0), Some(2.5))
      .zipWithIndex.map { case (x, i) => (x, i % 2) }.toDF("x", "y")
    val expected = t.agg(count_distinct(col("x"))).head().getLong(0)
    assert(Selector.quantitativeMetrics(t, "y", Seq("x"))("x").cardinality == expected)
    val a = new Selector.Aggregates(t, Some("y"), Seq("x"), Nil, bound = 0L)
    try assert(a.cardinality("x") == expected) finally a.release()
  }
}
