package graft.cli

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

import graft.carve.{BinaryCarver, ContinuousCarver, DatetimeFeatures, LlmQualifier,
  MulticlassCarver, OneVsRestCarver, OrdinalCarver, RefJson}
import graft.stability.Stability

/** The reference MCP server's qualify-and-carve workflow (S4,
  * `AutoCarver/mcp/server.py:34-108` / `mcp/session.py`) as a Spark-backed
  * session: the same 13 tool verbs over the same state machine (dataset →
  * inspection → feature draft → carve → save/stability), with every
  * data-touching verb running as Spark aggregations instead of pandas.
  *
  * Transport-agnostic by design, like the reference's `CarverSession`
  * (FastMCP there, [[graft.Cli]]'s JSON-lines REPL here — an MCP stdio
  * binding would wrap these methods one-to-one).
  *
  * Scale notes: inspection verbs are each ONE aggregation job over the
  * frame (`approx_count_distinct` for cardinalities — exact counting a
  * 100 TB column to answer "roughly how many distinct" is the wrong
  * trade); profile/distribution verbs bound their output with `top_n`.
  */
final class CarverSession(spark: SparkSession) {

  private var dfOpt: Option[DataFrame] = None
  private var target: Option[String] = None
  private val draft = mutable.LinkedHashMap.empty[String, JObject]
  private var fitted: Option[FittedCarver] = None

  /** family-tagged fitted model (the 5 carver families of the engine) */
  sealed trait FittedCarver { def task: String }
  private case class FitBinary(m: BinaryCarver.Model, task: String) extends FittedCarver
  private case class FitOrdinal(m: OrdinalCarver.Model) extends FittedCarver { def task = "ordinal" }
  private case class FitMulticlass(m: MulticlassCarver.Model) extends FittedCarver { def task = "multiclass" }
  private case class FitOneVsRest(m: OneVsRestCarver.Model) extends FittedCarver { def task = "one_vs_rest" }

  private def frame: DataFrame =
    dfOpt.getOrElse(throw new IllegalStateException(
      "[session] no dataset loaded; call load_dataset first."))

  // ------------------------------------------------------------ data loading

  /** Loads `.parquet`/`.csv` (header, inferred schema) or an IcebergLite
    * table directory as the session dataset; resets the draft.
    */
  def loadDataset(path: String, targetOpt: Option[String]): JValue = {
    val df = readFrame(path)
    targetOpt.foreach { t =>
      require(df.columns.contains(t),
        s"[session] target '$t' not found in columns ${df.columns.toList}.")
    }
    dfOpt = Some(df)
    target = targetOpt
    draft.clear()
    fitted = None
    ("rows" -> df.count()) ~ ("columns" -> df.columns.toList) ~ ("target" -> targetOpt)
  }

  private def readFrame(path: String): DataFrame = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p) &&
        graft.tables.IcebergLite.currentManifest(path).nonEmpty)
      graft.tables.IcebergLite.read(spark, path)
    else if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (path.endsWith(".parquet") || path.endsWith(".pq") ||
             java.nio.file.Files.isDirectory(p))
      spark.read.parquet(path)
    else throw new IllegalArgumentException(
      s"[session] unsupported file type for '$path'; use .csv, .parquet or an IcebergLite table dir.")
  }

  // ------------------------------------------------------------- inspection

  private def suggestedKind(dt: DataType): String = dt match {
    case _: NumericType => "numerical"
    case TimestampType | DateType | TimestampNTZType => "datetime"
    case _ => "categorical"
  }

  /** Per-column dtype, approx cardinality, missingness, suggested kind —
    * ONE aggregation job over all columns.
    */
  def listColumns(): JValue = {
    val df = frame
    val n = math.max(df.count(), 1L)
    val aggs = df.schema.fields.flatMap(f => Seq(
      approx_count_distinct(col(f.name)).as(s"${f.name}__card"),
      sum(col(f.name).isNull.cast("long")).as(s"${f.name}__nulls")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    JArray(df.schema.fields.toList.map { f =>
      ("column" -> f.name) ~ ("dtype" -> f.dataType.simpleString) ~
        ("cardinality" -> row.getAs[Long](s"${f.name}__card")) ~
        ("missing_pct" -> r6(100.0 * row.getAs[Long](s"${f.name}__nulls") / n)) ~
        ("suggested" -> (if (target.contains(f.name)) "target" else suggestedKind(f.dataType)))
    })
  }

  /** One column in detail: numeric → quantile spread; else top modalities. */
  def profileColumn(column: String, topN: Int): JValue = {
    val df = frame
    requireColumn(df, column)
    val dt = df.schema(column).dataType
    val base = df.agg(
      count(lit(1)).as("n"),
      sum(col(column).isNull.cast("long")).as("nulls"),
      approx_count_distinct(col(column)).as("card")).head()
    val common: JObject = ("column" -> column) ~ ("dtype" -> dt.simpleString) ~
      ("rows" -> base.getLong(0)) ~ ("missing" -> base.getLong(1)) ~
      ("cardinality" -> base.getLong(2))
    dt match {
      case _: NumericType =>
        val q = df.stat.approxQuantile(column, Array(0.0, 0.25, 0.5, 0.75, 1.0), 1e-4)
        // an all-null (or empty) numeric column yields an empty quantile
        // array — the reference emits an empty quantiles dict there
        val quant: JObject =
          if (q.length < 5) JObject()
          else ("min" -> q(0)) ~ ("q25" -> q(1)) ~ ("q50" -> q(2)) ~
            ("q75" -> q(3)) ~ ("max" -> q(4))
        common ~ ("quantiles" -> quant)
      case _ =>
        val top = df.groupBy(col(column).cast("string").as("v"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("v").asc).limit(topN).collect()
        common ~ ("top_modalities" -> JArray(top.toList.map(r =>
          ("value" -> Option(r.getString(0))) ~ ("count" -> r.getLong(1)): JValue)))
    }
  }

  /** Modality distribution with target rate and rare flags — the
    * reference's inspection helper semantics (`mcp/inspection.py:76-112`):
    * frequency over NON-NULL observations, `rare` = Wilson upper bound of
    * the proportion strictly below `min_freq` (`frequency_ci.py`,
    * alpha=0.05 — the same rule the carvers use for rarity), and the null
    * modality reported with neither `rare` nor `target_rate`.
    */
  def featureDistribution(column: String, minFreq: Option[Double], topN: Int): JValue = {
    val df = frame
    requireColumn(df, column)
    val withY = target.map(t => df.withColumn("__y", col(t).cast("double"))).getOrElse(df)
    val aggs = Seq(count(lit(1)).as("c")) ++
      (if (target.isDefined) Seq(avg(col("__y")).as("rate")) else Nil)
    // nobs over the WHOLE column (reference `inspection.py`:
    // `series.notna().sum()`), not the collected top-N slice — when
    // cardinality > topN the sliced sum undercounts n, inflating every
    // frequency and running the Wilson rare test against the wrong
    // denominator (exactly the high-cardinality case min_freq flags)
    val nobs = df.agg(coalesce(sum(col(column).isNotNull.cast("long")), lit(0L)))
      .head().getLong(0)
    val rows = withY.groupBy(col(column).cast("string").as("v"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("c").desc, col("v").asc).limit(topN).collect()
    JArray(rows.toList.map { r =>
      val isNullMod = r.getString(0) == null
      val o: JObject = ("value" -> Option(r.getString(0))) ~ ("count" -> r.getLong(1)) ~
        ("frequency" -> (if (nobs > 0) r6(r.getLong(1).toDouble / nobs) else 0.0)) ~
        ("rare" -> minFreq.filter(_ => !isNullMod).map(mf =>
          graft.carve.Stats.isSignificantlyBelow(r.getLong(1).toDouble, nobs, mf, 0.05)))
      if (target.isDefined && !isNullMod && !r.isNullAt(2))
        o ~ ("target_rate" -> r6(r.getDouble(2)))
      else o
    })
  }

  /** Checks `child` rolls many-to-one through `parents` — the reference's
    * CONSECUTIVE level-pair walk (`mcp/inspection.py:114-140`): for each
    * (finer, coarser) pair of `child :: parents`, null pairs dropped, a
    * finer modality spread over >1 coarser modality is a violation.
    */
  def validateNesting(child: String, parents: Seq[String]): JValue = {
    val df = frame
    val levels = child +: parents
    levels.foreach(requireColumn(df, _))
    val perPair = levels.zip(levels.tail).map { case (finer, coarser) =>
      val bad = df.filter(col(finer).isNotNull && col(coarser).isNotNull)
        .groupBy(col(finer)).agg(countDistinct(col(coarser)).as("np"))
        .filter(col("np") > 1)
      val examples = bad.limit(5).collect().map(_.get(0)).map(String.valueOf).toList
      val nBad = bad.count()
      ("finer" -> finer) ~ ("coarser" -> coarser) ~ ("valid" -> (nBad == 0L)) ~
        ("violations" -> nBad) ~ ("example_modalities" -> examples): JValue
    }
    ("child" -> child) ~ ("valid" -> perPair.forall(j => (j \ "valid") == JBool(true))) ~
      ("levels" -> JArray(perPair.toList))
  }

  /** Datetime columns with span + coverage — the anchor-picking aid. */
  def datetimeReferenceCandidates(): JValue = {
    val df = frame
    val dts = df.schema.fields.filter(f => suggestedKind(f.dataType) == "datetime").map(_.name)
    if (dts.isEmpty) return JArray(Nil)
    val n = math.max(df.count(), 1L).toDouble
    val aggs = dts.flatMap(c => Seq(
      min(col(c).cast("timestamp")).as(s"${c}__min"),
      max(col(c).cast("timestamp")).as(s"${c}__max"),
      sum(col(c).isNotNull.cast("long")).as(s"${c}__nn")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    JArray(dts.toList.map { c =>
      ("column" -> c) ~
        ("min" -> Option(row.getAs[Any](s"${c}__min")).map(String.valueOf)) ~
        ("max" -> Option(row.getAs[Any](s"${c}__max")).map(String.valueOf)) ~
        ("coverage_pct" -> r6(100.0 * row.getAs[Long](s"${c}__nn") / n))
    })
  }

  // --------------------------------------------------------------- drafting

  /** Fills the draft with dtype suggestions; datetime references resolved
    * with the engine's auto-anchor rule (same as the reference's
    * `Features.from_dataframe`). Overwrites the draft; skips the target.
    */
  def suggestFeatures(): JValue = {
    val df = frame
    val cols = df.schema.fields.filterNot(f => target.contains(f.name))
    val dtCols = cols.filter(f => suggestedKind(f.dataType) == "datetime").map(_.name).toSeq
    val dtRefs: Map[String, String] =
      if (dtCols.isEmpty) Map.empty
      else DatetimeFeatures.resolveReferences(df, dtCols).map(s => s.name -> s.referenceDate).toMap
    draft.clear()
    cols.foreach { f =>
      draft(f.name) = suggestedKind(f.dataType) match {
        case "datetime" => ("type" -> "datetime") ~ ("reference" -> dtRefs(f.name))
        case k => JObject("type" -> JString(k))
      }
    }
    previewFeatures()
  }

  /** Sets/overrides one column's draft spec — the reference's kind +
    * requirement validation verbatim (`mcp/session.py:100-133`).
    */
  def setFeature(column: String, kind: String, values: Seq[String],
      reference: Option[String], parents: Seq[String]): JValue = {
    requireColumn(frame, column)
    val spec: JObject = kind match {
      case "ordinal" =>
        require(values.nonEmpty, "[session] ordinal requires 'values' (ordered).")
        ("type" -> "ordinal") ~ ("values" -> values.toList)
      case "datetime" =>
        require(reference.exists(_.nonEmpty),
          "[session] datetime requires 'reference' (column name or date literal).")
        ("type" -> "datetime") ~ ("reference" -> reference.get)
      case "nested" =>
        require(parents.nonEmpty, "[session] nested requires 'parents'.")
        ("type" -> "nested") ~ ("parents" -> parents.toList)
      case "numerical" | "categorical" | "ignore" => JObject("type" -> JString(kind))
      case other => throw new IllegalArgumentException(s"[session] unknown kind '$other'.")
    }
    draft(column) = spec
    previewFeatures()
  }

  def dropFeature(column: String): JValue = {
    draft.remove(column)
    previewFeatures()
  }

  def previewFeatures(): JValue = JObject(draft.toList.map { case (k, v) => k -> (v: JValue) })

  // ---------------------------------------------------------------- carving

  /** Builds FeatureSpecs from the draft; datetime columns are converted to
    * seconds-since-reference first (dependents before their reference
    * columns, in draft order — the reference's in-place conversion order).
    * Routing is the shared single source of truth with the LLM qualifier
    * (the reference shares `specs_to_features_kwargs` the same way).
    */
  private def prepared(df: DataFrame): (DataFrame, Seq[BinaryCarver.FeatureSpec]) =
    LlmQualifier.route(draft.toList.map { case (k, v) => k -> (v: JValue) }).prepare(df)

  /** `auto` resolution — the reference's rule (`mcp/session.py:212-227`):
    * 2 distinct target values → binary; float dtype with >10 distinct →
    * continuous; else multiclass. `ordinal` / `one_vs_rest` only on
    * explicit request.
    */
  private def resolveTask(task: String, df: DataFrame, t: String): String = task match {
    case "binary" | "continuous" | "multiclass" | "ordinal" | "one_vs_rest" => task
    case "auto" =>
      val uniques = df.select(col(t)).na.drop().agg(countDistinct(col(t))).head().getLong(0)
      val isFloat = df.schema(t).dataType match {
        case DoubleType | FloatType => true
        case _ => false
      }
      if (uniques == 2L) "binary"
      else if (isFloat && uniques > 10L) "continuous"
      else "multiclass"
    case other => throw new IllegalArgumentException(
      s"[session] unknown task '$other'; use auto/binary/continuous/multiclass/ordinal/one_vs_rest.")
  }

  def runCarver(task: String, minFreq: Double, maxNMod: Int): JValue = {
    val t = target.getOrElse(throw new IllegalStateException(
      "[session] no target set; reload the dataset with a target to carve."))
    require(draft.nonEmpty,
      "[session] draft is empty; call suggest_features or set_feature first.")
    val (df, specs) = prepared(frame)
    val resolved = resolveTask(task, df, t)
    val cfg = BinaryCarver.Config(minFreq = minFreq, maxNMod = maxNMod)
    fitted = Some(resolved match {
      case "binary" => FitBinary(BinaryCarver.fit(df, t, specs, config = cfg), "binary")
      case "continuous" =>
        FitBinary(ContinuousCarver.fit(df, t, specs,
          config = cfg.copy(sortBy = "kruskal")), "continuous")
      case "ordinal" => FitOrdinal(OrdinalCarver.fit(df, t, specs,
        config = OrdinalCarver.Config(minFreq = minFreq, maxNMod = maxNMod)))
      case "multiclass" => FitMulticlass(MulticlassCarver.fit(df, t, specs,
        config = MulticlassCarver.Config(minFreq = minFreq, maxNMod = maxNMod)))
      case "one_vs_rest" => FitOneVsRest(OneVsRestCarver.fit(df, t, specs, config = cfg))
    })
    val (keptF, droppedF) = keptDropped
    ("task" -> resolved) ~
      ("kept_features" -> keptF.map(_.name)) ~
      ("dropped_features" -> droppedF.map(f => s"${f.name}: ${f.droppedReason}")) ~
      ("content" -> JObject(keptF.map(f =>
        f.name -> (JObject(f.binLabels.zipWithIndex.map { case (l, i) =>
          i.toString -> (JString(l): JValue)
        }.toList): JValue)).toList)) ~
      ("summary" -> JArray(keptF.flatMap(f => f.rates.zipWithIndex.map { case (r, i) =>
        ("feature" -> f.name) ~ ("bin" -> i) ~ ("label" -> f.binLabels(i)) ~
          ("rate" -> r6(r.rate)) ~ ("count" -> math.round(r.count)): JValue
      }).toList))
  }

  /** kept/dropped FittedFeatures across families (OvR: per-class versions) */
  private def keptDropped: (Vector[BinaryCarver.FittedFeature], Vector[BinaryCarver.FittedFeature]) =
    fitted.get match {
      case FitBinary(m, _) => (m.kept, m.features.filter(_.dropped))
      case FitOrdinal(m) => (m.kept.map(_.feature), m.features.map(_.feature).filter(_.dropped))
      case FitMulticlass(m) => (m.kept.map(_.feature), m.features.map(_.feature).filter(_.dropped))
      case FitOneVsRest(m) =>
        val all = m.classes.flatMap(c => m.perClass(c).features.map(f =>
          f.copy(name = m.versionName(f.name, c))))
        (all.filterNot(_.dropped), all.filter(_.dropped))
    }

  /** Saves the fitted carver in the REFERENCE's JSON schema (S3 interop —
    * the file loads with the reference's own `BaseCarver.load`).
    */
  def saveCarver(path: String): JValue = {
    val f = fitted.getOrElse(throw new IllegalStateException(
      "[session] no fitted carver; call run_carver first."))
    val json = f match {
      case FitBinary(m, "continuous") => RefJson.writeContinuous(m)
      case FitBinary(m, _) => RefJson.write(m)
      case FitOrdinal(m) => RefJson.writeOrdinal(m)
      case FitMulticlass(m) => RefJson.writeMulticlass(m)
      case FitOneVsRest(m) => RefJson.writeOneVsRest(m)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    ("saved" -> path) ~ ("features" -> keptDropped._1.map(_.name))
  }

  /** Stability of a new sample against the fitted carver: full M4 report
    * when the target is present; frequency-only (PSI) when the extract is
    * unlabelled. An EXPLICITLY named target that is missing is an error,
    * not a silent downgrade (`mcp/session.py:188-210`).
    */
  def evaluateStability(path: String, targetOpt: Option[String]): JValue = {
    val f = fitted.getOrElse(throw new IllegalStateException(
      "[session] no fitted carver; call run_carver first."))
    val newDf = readFrame(path)
    targetOpt.foreach { t =>
      require(newDf.columns.contains(t),
        s"[session] target '$t' not found in columns ${newDf.columns.toList}.")
    }
    val yCol = targetOpt.orElse(target).filter(newDf.columns.contains)
    yCol match {
      case Some(t) =>
        val report = f match {
          case FitBinary(m, "continuous") => Stability.evaluateContinuous(m, newDf, t)
          case FitBinary(m, _) => Stability.evaluate(m, newDf, t)
          case FitOrdinal(m) => Stability.evaluateOrdinal(m, newDf, t)
          case FitMulticlass(m) => Stability.evaluateMulticlass(m, newDf, t)
          case FitOneVsRest(m) =>
            // per-class binary reports, feature names versioned
            Stability.Report(m.classes.flatMap { c =>
              val bin = newDf.withColumn("__y_ovr",
                (col(t).cast("string") === c).cast("int"))
              Stability.evaluate(m.perClass(c), bin, "__y_ovr").features
                .map(fs => fs.copy(name = m.versionName(fs.name, c)))
            })
        }
        JArray(report.features.toList.map(fs =>
          ("feature" -> fs.name) ~ ("psi" -> r6(fs.psiValue)) ~
            ("chi2" -> r6(fs.chi2Stat)) ~ ("chi2_pvalue" -> r6(fs.chi2P)) ~
            ("cramerv" -> r6(fs.cramerv)) ~ ("viable" -> fs.viableAsDev) ~
            ("unstable" -> fs.unstable) ~ ("reasons" -> fs.reasons.toList): JValue))
      case None =>
        // unlabelled extract: PSI from the transform's bin frequencies only
        val (kept, _) = keptDropped
        val binary = f match {
          case FitBinary(m, _) => m
          case FitOrdinal(m) => m.binaryView
          case FitMulticlass(m) => m.binaryView
          case FitOneVsRest(m) =>
            throw new IllegalArgumentException(
              "[session] one_vs_rest stability needs a labelled extract (per-class binarization).")
        }
        val binned = binary.transform(newDf, keepOriginal = true).cache()
        // per-feature bin histograms (small K; one cached transform shared,
        // released when the report is built)
        try JArray(kept.toList.map { x =>
          val rows = binned.groupBy(col(s"${x.name}_bin").as("b"))
            .agg(count(lit(1)).as("c")).collect()
          // transform emits a NULL bin code for categorical values unseen at
          // fit when the feature has no default bucket (unexpectedValues'
          // contract) — a drifted extract is this verb's main use case, so
          // the null group joins the denominator (deflating every known
          // bin's frequency, which PSI then sees) and is reported explicitly
          val unseen = rows.filter(_.isNullAt(0)).map(_.getLong(1)).sum
          val hist = rows.filterNot(_.isNullAt(0))
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val newFreq = x.rates.indices.map(i => hist.getOrElse(i, 0L).toDouble).toArray
          val refFreq = x.rates.map(_.frequency).toArray
          val tot = math.max(newFreq.sum + unseen, 1.0)
          val (p, _) = Stability.psi(refFreq, newFreq.map(_ / tot))
          ("feature" -> x.name) ~ ("psi" -> r6(p)) ~ ("labelled" -> false) ~
            ("unseen_count" -> unseen): JValue
        })
        finally binned.unpersist()
    }
  }

  // -------------------------------------------------------------- internals

  private def requireColumn(df: DataFrame, c: String): Unit =
    require(df.columns.contains(c), s"[session] column '$c' not found.")

  private def r6(x: Double): Double =
    if (java.lang.Double.isFinite(x))
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    else x
}
