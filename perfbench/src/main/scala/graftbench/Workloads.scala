package graftbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.carve.{BinaryCarver, ContinuousCarver, MulticlassCarver, OneVsRestCarver, OrdinalCarver}
import graft.dedup.Dedup
import graft.pages.{HistJson, PagePipeline}
import graft.select.Selector
import graft.tables.IcebergLite
import graft.temporal.Temporal

/** Shared helpers of the workloads. */
abstract class Base(spark: SparkSession, work: Path) extends Workload {
  protected val parts: Int = spark.sparkContext.defaultParallelism

  protected def dir(name: String): String = work.resolve(name).toString

  protected def fresh(name: String): String = {
    Probes.deleteTree(work.resolve(name))
    dir(name)
  }

  /** Bin codes of `scored` (which keeps raw columns next to `<f>_bin`)
    * recomputed on the driver from the model's edges and value maps.
    */
  protected def binFailures(model: BinaryCarver.Model, scored: Array[Row], what: String): Seq[String] = {
    val bad = for {
      r <- scored.toSeq
      f <- model.kept
      raw = r.get(r.fieldIndex(f.name))
      got = Option(r.get(r.fieldIndex(s"${f.name}_bin"))).map(_.asInstanceOf[Int])
      want = Reference.bin(f, raw)
      if got != want
    } yield s"$what: ${f.name}=$raw binned to $got, reference bin $want"
    bad.take(5) ++ (if (scored.isEmpty) Seq(s"$what: empty check sample") else Nil)
  }

  /** Clusters generated rows by crawl day, so a table write leaves one
    * file per day partition rather than one per generator task.
    */
  protected def byDay(df: DataFrame): DataFrame = df.repartition(to_date(col("warc_ts")))

  protected def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally sample(name, (System.nanoTime() - t0) / 1e9)
  }
}

/** North-rule job: zero-leakage checkpointed fit at an as-of cutoff from
  * an empty checkpoint namespace, then the scoring transform aggregated
  * over every page. With `given`, runs against an existing table.
  */
final class Pages(spark: SparkSession, trace: Trace, work: Path, seed: Long, given: Option[String])
    extends Base(spark, work) {
  val nUrls = 6000; val nHosts = 120; val days = 20
  val asOf = new Timestamp((Gen.Epoch0 + 16 * Gen.DaySec) * 1000L)
  var table: String = _
  var model: BinaryCarver.Model = _
  private var rows = 0L

  override def setupReps: Int = if (given.isDefined) 1 else 3

  def setup(rep: Int): Unit = {
    given match {
      case Some(t) =>
        table = t
        rows = IcebergLite.currentManifest(t).get.totalRows
      case None =>
        table = fresh(s"pages/t$rep")
        rows = IcebergLite.write(byDay(Gen.pages(spark, seed, nUrls, nHosts, days, parts)), table).totalRows
    }
    sample("pages.docs", rows.toDouble)
  }

  def sameDigestEveryOp = true

  def op(i: Int): OpOut = {
    Probes.deleteTree(work.resolve(table).resolve("checkpoints"))
    val (m, computed) = timed("pages.fit_s")(trace.span("pages.fit")(PagePipeline.fitCheckpointed(spark, table, asOf)))
    model = m
    val row = timed("pages.transform_s")(trace.span("pages.transform") {
      val out = PagePipeline.transform(spark, table, m)
      out.agg(count(lit(1)), m.kept.map(f => sum(col(f.name).cast("long"))): _*).head()
    })
    val fails = Seq(
      if (computed != Vector("hist", "model")) Some(s"fit from an empty namespace computed $computed") else None,
      if (row.getLong(0) != rows) Some(s"transform scored ${row.getLong(0)} of $rows pages") else None
    ).flatten
    OpOut(rows, Reference.md5(m.toJson + row.toSeq.mkString(",")), fails)
  }

  override def check(i: Int): Seq[String] =
    if (i > 0) Nil
    else {
      val sampleRows = PagePipeline.featureFrame(IcebergLite.read(spark, table))
        .filter(pmod(xxhash64(col("url")), lit(61)) === 0)
      binFailures(model, model.transform(sampleRows, keepOriginal = true).collect(), "pages")
    }

  /** The fit again, stage by stage, each stage in its own span; its model
    * must equal the one `fitCheckpointed` produced. Then a resume against
    * the checkpoints the last fit left, which must compute nothing.
    * `breakdown` is a copy of `PagePipeline.fitCheckpointed`'s stage
    * sequence (without the checkpoint JSON read-back and the scan-cache
    * option): a change to that sequence must be copied here, or the stage
    * figures keep measuring the old one while the model check still passes.
    */
  override def finish(): Seq[String] = if (given.isDefined) Nil else breakdown() ++ resume()

  private def resume(): Seq[String] = {
    val (m, computed) = timed("tables.resume_s")(trace.span("tables.resume")(
      PagePipeline.fitCheckpointed(spark, table, asOf)))
    Seq(
      if (computed.nonEmpty) Some(s"resume against present checkpoints recomputed $computed") else None,
      if (m.toJson != model.toJson) Some("resumed model differs from the fitted one") else None
    ).flatten
  }

  private def breakdown(): Seq[String] =
    if (!trace.enabled) Nil
    else trace.span("pages.fit_breakdown") {
      val cfg = BinaryCarver.Config()
      val pages = Temporal.leakageGuard(IcebergLite.read(spark, table), "warc_ts", asOf)
      val scan = PagePipeline.scanFrame(pages)
      val specs = PagePipeline.specs.filter(s => scan.columns.contains(s.name))
      val sketched = trace.span("carve.sketch")(BinaryCarver.sketchHighCardinality(scan, specs,
        cfg.copy(sketchCardinalityThreshold = math.min(cfg.sketchCardinalityThreshold, 100000L),
          sketchRelativeError = math.max(cfg.sketchRelativeError, 0.001))))
      val train = PagePipeline.featureFromScan(scan).withColumn("y", PagePipeline.label)
      val hist = trace.span("carve.histogram")(BinaryCarver.histogram(train, "y", PagePipeline.specs, sketched))
      trace.count("carve.hist_rows", hist.values.map(_.length).sum.toDouble)
      val ckpt = fresh("pages/breakdown")
      trace.span("tables.checkpoint_save")(IcebergLite.saveCheckpoint(ckpt,
        IcebergLite.Checkpoint("hist", 1L, "breakdown", HistJson.write(hist))))
      val m = trace.span("carve.dp")(BinaryCarver.fitFromHistograms(hist, None, "y", PagePipeline.specs, cfg))
      trace.count("carve.candidates_tested", m.features.map(_.history.length).sum.toDouble)
      if (m.toJson == model.toJson) Nil
      else Seq("the traced stage-by-stage fit produced another model than fitCheckpointed")
    }
}

/** Daily ingest cycle against a growing history: append a crawl day to the
  * live table, join it as-of against the url history (the crawl table plus
  * every earlier day), backfill by host, score with the model the pages
  * part fitted, append the features.
  */
final class Ingest(spark: SparkSession, trace: Trace, work: Path, seed: Long, pages: Pages)
    extends Base(spark, work) {
  val recrawl = 600; val freshUrls = 300
  private var day: DataFrame = _
  private var dayRows = 0L
  private var scored: DataFrame = _
  private var joined: DataFrame = _
  private var filled: DataFrame = _
  private var checkDigest = ""

  private def live = dir("ingest/live")
  private def features = dir("ingest/features")

  def setup(rep: Int): Unit = {
    Probes.deleteTree(work.resolve("ingest"))
  }

  def sameDigestEveryOp = false

  private def dayStart(i: Int) = new Timestamp((Gen.Epoch0 + (pages.days + i) * Gen.DaySec) * 1000L)

  override def prepare(i: Int): Unit = {
    day = Gen.crawlDay(spark, seed, pages.nUrls, pages.nHosts, pages.days + i, recrawl, freshUrls, parts).cache()
    dayRows = day.count()
  }

  private def history: DataFrame = IcebergLite.read(spark, pages.table).unionByName(IcebergLite.read(spark, live))

  def op(i: Int): OpOut = timed("ingest.cycle_s") {
    val model = pages.model
    trace.span("tables.append")(IcebergLite.write(day, live, mode = "append"))
    val before = history.filter(col("warc_ts") < lit(dayStart(i)))
      .select(col("url"), col("warc_ts").as("hist_ts"), length(col("text")).cast("double").as("hist_len"))
    joined = trace.span("temporal.asof_join")(materialize(
      Temporal.asOfJoin(PagePipeline.scanFrame(day), before, Seq("url"), "warc_ts", "hist_ts", Seq("hist_len"))))
    filled = trace.span("temporal.backfill")(materialize(
      Temporal.backfill(joined, Seq("host"), "warc_ts", Seq("hist_len"), Seq("url"))))
    scored = trace.span("carve.transform")(materialize(model.transform(
      filled.withColumn("text_len_lag1", coalesce(col("hist_len"), col("text_len"))), keepOriginal = true)))
    trace.span("tables.feature_write")(IcebergLite.write(
      scored.select((Seq("url", "warc_ts", "hist_len_filled") ++ model.kept.map(f => s"${f.name}_bin")).map(col): _*),
      features, mode = "append"))
    sample("ingest.cycle_rows", dayRows.toDouble)
    OpOut(dayRows, "")
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** As-of matches of a url sample against the latest preceding history
    * row computed on the driver, and bin codes against the model.
    */
  override def check(i: Int): Seq[String] = try {
    val pick = pmod(xxhash64(col("url")), lit(23)) === 0
    val got = joined.filter(pick).select("url", "warc_ts", "hist_len", "matched_ts").collect()
    val urls = got.map(_.getString(0)).toSet
    val histRows = history.filter(pick).select(col("url"), col("warc_ts"), length(col("text")).cast("double")).collect()
      .filter(r => urls(r.getString(0)))
    val asofFails = got.toSeq.flatMap { r =>
      val ts = r.getTimestamp(1)
      val prior = histRows.filter(h => h.getString(0) == r.getString(0) && h.getTimestamp(1).before(dayStart(i)) &&
        !h.getTimestamp(1).after(ts))
      val want = if (prior.isEmpty) None else Some(prior.maxBy(_.getTimestamp(1).getTime))
      val gotTs = Option(r.getTimestamp(3))
      if (want.map(_.getTimestamp(1)) != gotTs || want.map(_.getDouble(2)) != Option(r.get(2)).map(_.asInstanceOf[Double]))
        Some(s"as-of join for ${r.getString(0)} at $ts matched $gotTs, reference ${want.map(_.getTimestamp(1))}")
      else None
    }.take(5)
    val sampleScored = scored.filter(pick).collect()
    val digestRows = sampleScored.map(_.toSeq.mkString(",")).sorted
    checkDigest = Reference.md5(digestRows.mkString("\n"))
    asofFails ++ (if (got.isEmpty) Seq("as-of check sample is empty") else Nil) ++
      binFailures(pages.model, sampleScored, "ingest")
  } finally {
    Seq(scored, filled, joined, day).foreach(d => if (d != null) d.unpersist())
  }

  override def digestAfterCheck(opDigest: String): String = checkDigest

  override def finish(): Seq[String] = {
    val tableBytes = Probes.bytesUnder(work.resolve(s"$live/data")) +
      Probes.bytesUnder(work.resolve(s"${pages.table}/data"))
    val tableRows = IcebergLite.currentManifest(live).get.totalRows +
      IcebergLite.currentManifest(pages.table).get.totalRows
    sample("tables.bytes_per_row", tableBytes.toDouble / tableRows)
    sample("tables.table_bytes", tableBytes.toDouble)
    Nil
  }
}

/** Feature selection over the crawl's page features against the pages
  * part's label: gates, ranking and the redundancy walk.
  */
final class PageSelect(spark: SparkSession, trace: Trace, work: Path, pages: Pages)
    extends Base(spark, work) {
  def setup(rep: Int): Unit = ()
  def sameDigestEveryOp = true

  def op(i: Int): OpOut = {
    val df = PagePipeline.scanFrame(IcebergLite.read(spark, pages.table)).withColumn("y", PagePipeline.label)
    val sel = timed("select.select_s")(trace.span("select.select")(Selector.select(df, "y",
      quants = Seq("text_len", "warc_age_sec"), quals = Seq("lang", "host"))))
    OpOut(0L, Reference.md5(sel.kept.map(_.name).mkString(",")),
      if (sel.kept.isEmpty) Seq("selector kept no feature") else Nil)
  }
}

/** Driver-heavy carve sequence over tabular frames: binary with cv folds,
  * target-median continuous on both sides of the exact-median gate,
  * ordinal, multiclass and one-vs-rest. Every fit reads its own freshly
  * generated input, so no stage result can be reused across fits or
  * operations.
  */
final class Carve(spark: SparkSession, trace: Trace, work: Path, seed: Long) extends Base(spark, work) {
  val rows = 4000
  // 40 prebins per quantitative feature: the default 0.02 (100 prebins)
  // makes one fit sequence outlast a whole run on a 4-core host
  val minFreq = 0.05
  private val fitNames = Seq("binary", "median_exact", "median_grid", "ordinal", "multiclass", "ovr")
  // The binary, ordinal, multiclass and one-vs-rest fits count a
  // `Double.NaN` value into a value bin, while `transform` sends it to the
  // missing-value bin, so their inputs hold null as the only missing value;
  // the NaN probe in `finish` measures that defect on every run.
  private val nanFits = Set("median_exact", "median_grid")
  private var frames: Map[String, DataFrame] = Map.empty
  private var models: Seq[(String, String, BinaryCarver.Model)] = Nil // (fit, json, model)

  private val specs = Gen.carveQuants.map(BinaryCarver.FeatureSpec(_, "quantitative")) ++
    Gen.carveQuals.map(BinaryCarver.FeatureSpec(_, "categorical"))

  /** Set-up writes the inputs of the first operation. */
  def setup(rep: Int): Unit = write(0, s"carve/setup$rep")

  /** All inputs of operation `i` in one write, partitioned by fit. */
  private def write(i: Int, name: String): Unit = {
    val root = fresh(name)
    Gen.carveFrame(spark, seed, i, fitNames, rows, parts, nanFits).write.partitionBy("fit").parquet(root)
    val all = spark.read.parquet(root)
    frames = fitNames.map(f => f -> all.filter(col("fit") === f).drop("fit")).toMap
  }

  override def prepare(i: Int): Unit = if (i > 0) {
    Probes.deleteTree(work.resolve(s"carve/op${i - 1}"))
    write(i, s"carve/op$i")
  }

  def sameDigestEveryOp = false

  def op(i: Int): OpOut = timed("carve.total_s") {
    val binary = BinaryCarver.Config(minFreq = minFreq)
    val bin = trace.span("carve.binary_fit")(
      BinaryCarver.fit(frames("binary"), "y", specs, config = binary.copy(cv = 3)))
    val median = binary.copy(sortBy = "kruskal", rateStrategy = "target_median")
    val (medExact, medGrid) = trace.span("carve.median_fit")((
      ContinuousCarver.fit(frames("median_exact"), "y_int", specs, config = median),
      ContinuousCarver.fit(frames("median_grid"), "y_cont", specs, config = median)))
    val ord = trace.span("carve.ordinal_fit")(
      OrdinalCarver.fit(frames("ordinal"), "y_ord", specs, config = OrdinalCarver.Config(minFreq = minFreq)))
    val mc = trace.span("carve.multiclass_fit")(
      MulticlassCarver.fit(frames("multiclass"), "y_class", specs, config = MulticlassCarver.Config(minFreq = minFreq)))
    val ovr = trace.span("carve.ovr_fit")(OneVsRestCarver.fit(frames("ovr"), "y_class", specs, config = binary))
    val fitted: Seq[(String, BinaryCarver.Model)] = Seq("binary" -> bin, "median_exact" -> medExact,
      "median_grid" -> medGrid, "ordinal" -> ord.binaryView, "multiclass" -> mc.binaryView) ++
      ovr.classes.map(c => "ovr" -> ovr.perClass(c))
    models = fitted.map { case (f, m) => (f, m.toJson, m) }
    trace.count("carve.candidates_tested", models.map(_._3.features.map(_.history.length).sum).sum.toDouble)
    OpOut(rows.toLong * fitNames.length, Reference.md5(models.map(_._2).mkString("|")))
  }

  /** Each model's JSON must read back to the same model, and each kept
    * bin must meet min_freq on the rows it was fitted on.
    */
  override def check(i: Int): Seq[String] = {
    val roundTrip = models.collect {
      case (f, json, _) if graft.carve.Json.readModel(json).toJson != json => s"$f model JSON does not round-trip"
    }
    val minFreq = models.groupBy(_._1).toSeq.flatMap { case (f, ms) =>
      val cols = specs.map(_.name)
      val data = frames(f).select(cols.map(col): _*).collect()
      for {
        (_, _, m) <- ms
        feat <- m.kept
        fail <- Reference.minFreqFailures(feat, m.minFreq, data.map(r => r.get(r.fieldIndex(feat.name))).toSeq)
      } yield s"$f: $fail"
    }
    roundTrip ++ minFreq.take(5)
  }

  /** Known-defect probe, counted and not gated: a binary fit on a frame
    * whose missing values are half `Double.NaN`, and the summed
    * difference between its bin counts and the reference's, which counts
    * NaN as missing. 0 once the fit treats NaN as missing.
    */
  override def finish(): Seq[String] = {
    val root = fresh("carve/nan_probe")
    Gen.carveFrame(spark, seed, -1, Seq("nan_probe"), rows, parts, Set("nan_probe")).drop("fit").write.parquet(root)
    val df = spark.read.parquet(root)
    val m = BinaryCarver.fit(df, "y", specs, config = BinaryCarver.Config(minFreq = minFreq))
    val data = df.select(specs.map(s => col(s.name)): _*).collect()
    sample("probe.nan_bin_count_diff",
      m.kept.map(f => Reference.binCountDiff(f, data.map(r => r.get(r.fieldIndex(f.name))).toSeq)).sum)
    Nil
  }
}

/** Near-duplicate pipeline: MinHash-LSH candidates, exact Jaccard
  * verification, connected components; recall against planted clusters.
  * Every operation reads its own freshly generated corpus, so signatures
  * an earlier call left persisted cannot serve it.
  */
final class Neardup(spark: SparkSession, trace: Trace, work: Path, seed: Long) extends Base(spark, work) {
  val corpusShape = Gen.Corpus(units = 2000, boiler = 300, maxCluster = 6)
  val maxBucket = 100
  val minJaccard = 0.6
  private var docs: DataFrame = _
  private var nDocs = 0L
  private var planted: Seq[Seq[Long]] = Nil
  private var cands: DataFrame = _
  private var verified: DataFrame = _
  private var comps: Map[Long, Long] = Map.empty

  /** Set-up writes the corpus of the first operation. */
  def setup(rep: Int): Unit = write(0, s"neardup/setup$rep")

  private def write(i: Int, name: String): Unit = {
    val path = fresh(name)
    val s = Gen.opSeed(seed, i)
    Gen.corpus(spark, s, corpusShape, parts).write.parquet(path)
    docs = spark.read.parquet(path)
    nDocs = docs.count()
    planted = Gen.plantedClusters(s, corpusShape)
  }

  override def prepare(i: Int): Unit = if (i > 0) {
    Probes.deleteTree(work.resolve(s"neardup/op${i - 1}"))
    write(i, s"neardup/op$i")
  }

  def sameDigestEveryOp = false

  def op(i: Int): OpOut = timed("neardup.pipeline_s") {
    cands = trace.span("dedup.candidates") {
      val c = Dedup.minhashCandidatePairs(docs, "doc_id", "text", maxBucket = maxBucket)
        .select("id_a", "id_b").persist()
      trace.count("dedup.candidate_pairs", c.count().toDouble)
      c
    }
    verified = trace.span("dedup.verify") {
      val v = Dedup.verifyPairsJaccard(cands, docs, "doc_id", "text").filter(col("jaccard") >= minJaccard).persist()
      trace.count("dedup.verified_pairs", v.count().toDouble)
      v
    }
    comps = trace.span("dedup.components")(Dedup.connectedComponents(docs.select("doc_id"),
      verified.select("id_a", "id_b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val hits = planted.map(c => c.combinations(2).count { case Seq(a, b) => comps.get(a) == comps.get(b) }).sum
    val total = planted.map(c => c.length * (c.length - 1) / 2).sum
    sample("dedup.recall", hits.toDouble / total)
    sample("neardup.op_docs", nDocs.toDouble)
    val digest = Reference.md5(comps.toSeq.sorted.mkString(","))
    OpOut(nDocs, digest, if (comps.size != nDocs) Seq(s"components cover ${comps.size} of $nDocs documents") else Nil)
  }

  /** Reported Jaccard of a pair sample against exact shingle sets, and
    * components against a driver-side union-find over the verified edges
    * (a document on no edge is its own component).
    */
  override def check(i: Int): Seq[String] = try {
    val edges = verified.select("id_a", "id_b", "jaccard").collect()
    val want = Reference.components(edges.map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    val compFails = comps.collect { case (id, c) if want.getOrElse(id, id) != c =>
      s"document $id in component $c, reference ${want.getOrElse(id, id)}"
    }.take(5)
    val pick = edges.filter(r => Gen.mix(r.getLong(0) * 31 + r.getLong(1)) % 50 == 0).take(400)
    val ids = pick.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val texts = docs.filter(col("doc_id").isin(ids.toSeq: _*)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val jacFails = pick.toSeq.flatMap { r =>
      val exact = Reference.jaccard(Reference.shingles(texts(r.getLong(0)), 5), Reference.shingles(texts(r.getLong(1)), 5))
      if (math.abs(exact - r.getDouble(2)) > 1.5e-6)
        Some(s"pair (${r.getLong(0)}, ${r.getLong(1)}) reported Jaccard ${r.getDouble(2)}, exact $exact")
      else None
    }.take(5)
    compFails.toSeq ++ jacFails ++ (if (pick.isEmpty) Seq("Jaccard check sample is empty") else Nil)
  } finally {
    Seq(verified, cands).foreach(d => if (d != null) d.unpersist())
  }
}

/** Runs its parts one after another as one operation: their items add up,
  * their digests concatenate, and a part whose output must not change
  * between operations is held to its first operation's digest.
  */
final class Composite(parts: Seq[Workload]) extends Workload {
  private var outs: Seq[OpOut] = Nil
  private var digest = ""
  private val first = scala.collection.mutable.Map.empty[Int, String]

  override def setupReps: Int = parts.map(_.setupReps).max
  def setup(rep: Int): Unit = parts.foreach(_.setup(rep))
  override def prepare(i: Int): Unit = parts.foreach(_.prepare(i))

  def op(i: Int): OpOut = {
    outs = parts.map(_.op(i))
    OpOut(outs.map(_.items).sum, "", outs.flatMap(_.failures))
  }

  override def check(i: Int): Seq[String] = {
    val fails = parts.flatMap(_.check(i))
    val ds = parts.zip(outs).map { case (p, o) => p.digestAfterCheck(o.digest) }
    digest = ds.mkString("+")
    fails ++ parts.indices.collect {
      case k if parts(k).sameDigestEveryOp && first.getOrElseUpdate(k, ds(k)) != ds(k) =>
        s"operation $i: part $k output differs from the first operation's"
    }
  }

  override def digestAfterCheck(opDigest: String): String = digest
  def sameDigestEveryOp = false
  override def digestOps: Int = 2
  override def finish(): Seq[String] = parts.flatMap(_.finish())
  override def close(): Unit = parts.foreach(_.close())
}
