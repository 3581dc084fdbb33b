package graft.pages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.carve.BinaryCarver
import graft.tables.IcebergLite
import graft.temporal.Temporal
import graft.text.TextOps

/** The flagship end-to-end pipeline over the Common-Crawl-style page table
  * (BASELINE north_rule): temporal features (lag, backfill, sessionize by
  * url host) + zero-leakage carver fit at an as-of cutoff + checkpointed
  * stages resumable from Iceberg-style metadata.
  */
object PagePipeline {

  /** Scan-side projection (no shuffle): every text/time-derived scalar,
    * heavy payload columns dropped — the window exchanges must never carry
    * the html/text bytes (at 100 TB the payload dominates shuffle volume).
    */
  def scanFrame(pages: DataFrame): DataFrame =
    graft.carve.DatetimeFeatures.withTimedeltas(
      pages
        .withColumn("host", substring_index(substring_index(col("url"), "/", 3), "/", -1))
        .withColumn("text_len", length(col("text")).cast("double"))
        .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("double")),
      Seq(graft.carve.DatetimeFeatures.DatetimeSpec("warc_ts", "2024-01-01", as = "warc_age_sec")))
      .drop("html", "text")

  def featureFrame(pages: DataFrame): DataFrame = featureFromScan(scanFrame(pages))

  /** Temporal features over an ALREADY-projected scan frame — split out so
    * the fit path can persist the narrow projection once and feed both the
    * sketch pass and this window stage from it (the projection is ~0.5% of
    * the input bytes at corpus scale; re-deriving it means paying the
    * html/text parquet decode + tokenization a second time).
    */
  def featureFromScan(base: DataFrame): DataFrame = {
    val lagged = Temporal.lagLead(base, Seq("url"), Seq("warc_ts"), "text_len", lags = Seq(1), leads = Nil)
    Temporal
      .sessionize(lagged, Seq("host"), "warc_ts", gapSeconds = 14L * 24 * 3600, orderTieBreak = Seq("url"))
      .withColumn("text_len_lag1", coalesce(col("text_len_lag1"), col("text_len")))
  }

  /** Deterministic binary label (content-derived, no external data). */
  def label: org.apache.spark.sql.Column =
    when(col("text_len") > 400, lit(1)).otherwise(lit(0))

  val specs: Seq[BinaryCarver.FeatureSpec] = Seq(
    BinaryCarver.FeatureSpec("text_len", "quantitative"),
    BinaryCarver.FeatureSpec("text_len_lag1", "quantitative"),
    BinaryCarver.FeatureSpec("n_tokens", "quantitative"),
    BinaryCarver.FeatureSpec("warc_age_sec", "quantitative"), // datetime T3
    BinaryCarver.FeatureSpec("lang", "categorical"),
    BinaryCarver.FeatureSpec("host", "categorical")
  )

  /** Zero-leakage fit at `asOf` with per-stage checkpoints in the table's
    * metadata (E5 + E6):
    *
    *  - stage `hist`: the one cluster pass (feature histograms), keyed by
    *    (snapshot id, config+asOf hash) — a resumed run skips the scan;
    *  - stage `model`: the fitted model JSON.
    *
    * Returns (model, stagesComputed) so tests can assert resume behavior.
    */
  def fitCheckpointed(
      spark: SparkSession,
      table: String,
      asOf: Timestamp,
      config: BinaryCarver.Config = BinaryCarver.Config()
  ): (BinaryCarver.Model, Vector[String]) = {
    val manifest = IcebergLite.currentManifest(table)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $table"))
    // version suffix invalidates checkpoints when the feature set changes
    val cfgHash = IcebergLite.configHash(s"$config|$asOf|v3-sketch")
    val computed = Vector.newBuilder[String]

    val histJson = IcebergLite.loadCheckpoint(table, "hist", manifest.snapshotId, cfgHash).getOrElse {
      computed += "hist"
      val pages = IcebergLite.read(spark, table)
      val guarded = Temporal.leakageGuard(pages, "warc_ts", asOf)
      // high-cardinality features (warc_age_sec has ~one distinct value per
      // row) go through the sketch prebin: the collected histogram stays
      // O(quantiles), not O(distinct values). The sketch is one job (the
      // distinct-count gate and the quantile edges are aggregates of the
      // same pass) over the cheap scan-side projection — no window
      // shuffle, just the parquet scan. So the narrow projection is
      // scanned TWICE (sketch pass, then the window/histogram pass). `spark.graft.pages.cacheScan` persists it
      // (MEMORY_AND_DISK — ~0.5% of input bytes at corpus scale) so the
      // html/text decode + tokenization runs once: worth it when decode
      // dominates the scan (real web corpora). Default OFF: a 4-core A/B on
      // the synthetic 2.3M-page table measured no fit win (15.45 s vs
      // 15.34 s) and a ~1.5 s transform regression from cache-block memory
      // pressure — the synthetic decode is too cheap to amortize the cache
      // write at this scale.
      val cacheScan = spark.conf.getOption("spark.graft.pages.cacheScan").exists(_.toBoolean)
      val scanOnly0 = scanFrame(guarded)
      val scanOnly = if (cacheScan)
        scanOnly0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else scanOnly0
      val sketchSpecs = specs.filter(s => scanOnly.columns.contains(s.name))
      // sketch accuracy: the prebin only needs quantile edges well inside a
      // min_freq/2 = 1% bucket; eps=1e-3 is 10x finer than needed and keeps
      // the per-partition GK sketches ~100x smaller than the 1e-4 default —
      // at 1e-4 the single-task sketch MERGE dominated and ANTI-scaled with
      // cluster width (more scan splits = more partials to merge)
      val sketched = BinaryCarver.sketchHighCardinality(scanOnly, sketchSpecs,
        config.copy(sketchCardinalityThreshold = math.min(config.sketchCardinalityThreshold, 100000L),
          sketchRelativeError = math.max(config.sketchRelativeError, 0.001)))
      val train = featureFromScan(scanOnly).withColumn("y", label)
      val hist = BinaryCarver.histogram(train, "y", specs, sketched)
      if (cacheScan) scanOnly.unpersist()
      val json = HistJson.write(hist)
      IcebergLite.saveCheckpoint(table, IcebergLite.Checkpoint("hist", manifest.snapshotId, cfgHash, json))
      json
    }

    val modelJson = IcebergLite.loadCheckpoint(table, "model", manifest.snapshotId, cfgHash).getOrElse {
      computed += "model"
      val model = BinaryCarver.fitFromHistograms(HistJson.read(histJson), None, "y", specs, config)
      val json = model.toJson
      IcebergLite.saveCheckpoint(table, IcebergLite.Checkpoint("model", manifest.snapshotId, cfgHash, json))
      json
    }

    (graft.carve.Json.readModel(modelJson), computed.result())
  }

  /** Scoring path: features + model.transform, pure projection after one
    * window shuffle.
    */
  def transform(spark: SparkSession, table: String, model: BinaryCarver.Model): DataFrame =
    model.transform(featureFrame(IcebergLite.read(spark, table)))
}

/** JSON codec for the histogram checkpoint (stage `hist` payload). */
object HistJson {
  import org.json4s._
  import org.json4s.jackson.JsonMethods
  import org.json4s.JsonDSL._

  def write(h: Map[String, Array[BinaryCarver.HistRow]]): String = {
    val j: JValue = JObject(h.toList.sortBy(_._1).map { case (fid, rows) =>
      fid -> JArray(rows.toList.map { r =>
        val jv: JValue =
          ("dv" -> (if (r.dv.isNaN) JNull else JDouble(r.dv))) ~
          ("sv" -> Option(r.sv)) ~
          ("nul" -> r.isNull) ~ ("n" -> r.count) ~ ("sy" -> r.sumY)
        jv
      })
    })
    JsonMethods.compact(JsonMethods.render(j))
  }

  def read(s: String): Map[String, Array[BinaryCarver.HistRow]] = {
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(s) match {
      case JObject(fields) => fields.map { case (fid, JArray(rows)) =>
        fid -> rows.map { r =>
          BinaryCarver.HistRow(
            (r \ "dv") match { case JDouble(d) => d; case JInt(i) => i.toDouble; case _ => Double.NaN },
            (r \ "sv") match { case JString(x) => x; case _ => null },
            (r \ "nul").extract[Boolean],
            (r \ "n").extract[Long],
            (r \ "sy").extract[Double]
          )
        }.toArray
      case (fid, _) => fid -> Array.empty[BinaryCarver.HistRow]
      }.toMap
      case _ => Map.empty
    }
  }
}
