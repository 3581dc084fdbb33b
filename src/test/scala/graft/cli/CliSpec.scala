package graft.cli

import graft.SparkSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The 13 MCP tool verbs (S4) driven end-to-end through Cli.dispatch —
  * the same state machine the reference's `mcp/server.py` exposes.
  */
class CliSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def call(s: CarverSession, tool: String, args: (String, JValue)*): JValue =
    Cli.dispatch(s, tool, JObject(args.toList))

  test("full qualify-and-carve workflow: load -> inspect -> draft -> carve -> save -> stability") {
    val s = new CarverSession(spark)

    // load_dataset with target
    val loaded = call(s, "load_dataset",
      "path" -> JString(s"$sfDir/documents.parquet"), "target" -> JString("n_chars"))
    assert((loaded \ "rows") != JNothing)

    // list_columns suggests kinds and tags the target
    val cols = call(s, "list_columns").asInstanceOf[JArray].arr
    assert(cols.exists(c => (c \ "column") == JString("lang") && (c \ "suggested") == JString("categorical")))
    assert(cols.exists(c => (c \ "column") == JString("n_chars") && (c \ "suggested") == JString("target")))

    // profile_column: numeric quantiles and categorical top modalities
    val pNum = call(s, "profile_column", "column" -> JString("doc_id"))
    assert((pNum \ "quantiles" \ "min") != JNothing)
    val pCat = call(s, "profile_column", "column" -> JString("lang"), "top_n" -> JInt(3))
    assert((pCat \ "top_modalities").asInstanceOf[JArray].arr.length <= 3)

    // feature_distribution with rare flags against the target
    val dist = call(s, "feature_distribution",
      "column" -> JString("lang"), "min_freq" -> JDouble(0.3)).asInstanceOf[JArray].arr
    assert(dist.nonEmpty && dist.forall(d => (d \ "target_rate") != JNothing))
    assert(dist.exists(d => (d \ "rare") == JBool(true))) // small langs are rare at 30%

    // validate_nesting: a fine column rolls into source, not into lang
    val sLoad = call(s, "load_dataset",
      "path" -> JString(s"$sfDir/documents.parquet"), "target" -> JString("n_chars"))
    assert((sLoad \ "target") == JString("n_chars"))
    val nest = call(s, "validate_nesting",
      "child" -> JString("doc_id"), "parents" -> JArray(List(JString("source"))))
    assert((nest \ "valid") == JBool(true)) // doc_id -> source is many-to-one
    // CONSECUTIVE pair walk (inspection.py:114-140): doc_id -> source holds,
    // but the next pair source -> lang spreads, so the chain is invalid —
    // a child->each-parent check would wrongly pass (doc_id -> lang is 1:1)
    val chain = call(s, "validate_nesting",
      "child" -> JString("doc_id"),
      "parents" -> JArray(List(JString("source"), JString("lang"))))
    assert((chain \ "valid") == JBool(false))
    val pairs = (chain \ "levels").asInstanceOf[JArray].arr
    assert(pairs.exists(p => (p \ "finer") == JString("source") && (p \ "valid") == JBool(false)))
    assert(pairs.exists(p => (p \ "finer") == JString("doc_id") && (p \ "valid") == JBool(true)))

    // suggest_features fills the draft (target skipped)
    val draft = call(s, "suggest_features").asInstanceOf[JObject].obj.toMap
    assert(draft.contains("lang") && draft.contains("doc_id") && !draft.contains("n_chars"))

    // set_feature validation rules
    intercept[Exception](call(s, "set_feature", "column" -> JString("lang"), "kind" -> JString("ordinal")))
    intercept[Exception](call(s, "set_feature", "column" -> JString("lang"), "kind" -> JString("bogus")))
    call(s, "set_feature", "column" -> JString("doc_id"), "kind" -> JString("ignore"))
    call(s, "set_feature", "column" -> JString("text"), "kind" -> JString("ignore"))
    val preview = call(s, "preview_features").asInstanceOf[JObject].obj.toMap
    assert((preview("doc_id") \ "type") == JString("ignore"))

    // drop_feature removes from the draft
    call(s, "drop_feature", "column" -> JString("text"))
    assert(!call(s, "preview_features").asInstanceOf[JObject].obj.toMap.contains("text"))

    // run_carver: auto resolves to CONTINUOUS here (float-ish? n_chars is
    // long -> not float, >10 uniques -> multiclass would be wrong; ask
    // binary explicitly over a derived binary target instead)
    val s2 = new CarverSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val labelled = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("y", org.apache.spark.sql.functions.expr("CAST(n_chars > 300 AS INT)"))
    labelled.write.mode("overwrite").parquet(s"$tmp/docs_y.parquet")
    call(s2, "load_dataset", "path" -> JString(s"$tmp/docs_y.parquet"), "target" -> JString("y"))
    call(s2, "suggest_features")
    call(s2, "drop_feature", "column" -> JString("text"))
    call(s2, "drop_feature", "column" -> JString("doc_id"))
    val run = call(s2, "run_carver", "task" -> JString("auto"), "min_freq" -> JDouble(0.02))
    assert((run \ "task") == JString("binary")) // auto: 2 distinct target values
    val kept = (run \ "kept_features").asInstanceOf[JArray].arr.collect { case JString(x) => x }
    assert(kept.contains("n_chars"))
    assert((run \ "summary").asInstanceOf[JArray].arr.nonEmpty)

    // save_carver writes reference-schema JSON that the engine reloads
    val out = s"$tmp/carver.json"
    call(s2, "save_carver", "path" -> JString(out))
    val reloaded = graft.carve.RefJson.load(out)
    assert(reloaded.kept.map(_.name).toSet == kept.toSet)

    // evaluate_stability: labelled extract -> full report
    val st = call(s2, "evaluate_stability", "path" -> JString(s"$tmp/docs_y.parquet"))
      .asInstanceOf[JArray].arr
    assert(st.nonEmpty && st.forall(r => (r \ "psi") != JNothing))
    // same-sample stability: psi ~ 0
    st.foreach { r =>
      val JDouble(p) = (r \ "psi"): @unchecked
      assert(p < 0.01, s"same-sample psi should be ~0: $r")
    }

    // unlabelled extract -> frequency-only PSI
    labelled.drop("y").write.mode("overwrite").parquet(s"$tmp/docs_unlabelled.parquet")
    val stU = call(s2, "evaluate_stability", "path" -> JString(s"$tmp/docs_unlabelled.parquet"))
      .asInstanceOf[JArray].arr
    assert(stU.nonEmpty && stU.forall(r => (r \ "labelled") == JBool(false)))

    // explicit missing target is an error, not a silent downgrade
    intercept[Exception](call(s2, "evaluate_stability",
      "path" -> JString(s"$tmp/docs_unlabelled.parquet"), "target" -> JString("y")))

    // datetime_reference_candidates over events
    val s3 = new CarverSession(spark)
    call(s3, "load_dataset", "path" -> JString(s"$sfDir/events.parquet"))
    val cands = call(s3, "datetime_reference_candidates").asInstanceOf[JArray].arr
    assert(cands.exists(c => (c \ "column") == JString("ts")))

    // unknown tool errors with the verb list
    val e = intercept[Exception](call(s, "nope"))
    assert(e.getMessage.contains("13 verbs"))
  }

  test("inspection: frequencies use full-column nobs; all-null quantiles are empty") {
    import spark.implicits._
    val s = new CarverSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_inspect").toString
    (0 until 100).map(i => (s"v${i % 5}", i.toLong))
      .toDF("m", "i")
      .withColumn("num_null", org.apache.spark.sql.functions.lit(null).cast("double"))
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    call(s, "load_dataset", "path" -> JString(s"$tmp/t.parquet"))
    // top_n slices the DISPLAY, not the denominator: each of the 5 equal
    // modalities is 20/100 of the column even when only 2 rows are shown
    // (reference inspection.py: nobs = series.notna().sum())
    val dist = call(s, "feature_distribution",
      "column" -> JString("m"), "min_freq" -> JDouble(0.3), "top_n" -> JInt(2))
      .asInstanceOf[JArray].arr
    assert(dist.length == 2)
    dist.foreach { d =>
      assert((d \ "frequency") == JDouble(0.2), s"sliced-denominator frequency: $d")
      // 20/100 IS significantly below 30% -> rare, which the inflated
      // 20/40=0.5 denominator would have missed
      assert((d \ "rare") == JBool(true), d.toString)
    }
    // all-null numeric column: empty quantiles dict, not an ArrayIndexOOB
    val p = call(s, "profile_column", "column" -> JString("num_null"))
    assert((p \ "quantiles") == JObject(), p.toString)
    assert((p \ "missing") == JInt(100))
  }

  test("unlabelled stability tolerates drifted (unseen) categorical values") {
    import spark.implicits._
    val s = new CarverSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_drift").toString
    val rows = (0 until 400).map { i =>
      val v = if (i < 200) "a" else "b"
      val y = if (v == "a") { if (i % 10 < 8) 1 else 0 } else { if (i % 10 < 2) 1 else 0 }
      (v, y)
    }
    rows.toDF("cat", "y").write.mode("overwrite").parquet(s"$tmp/train.parquet")
    call(s, "load_dataset", "path" -> JString(s"$tmp/train.parquet"), "target" -> JString("y"))
    call(s, "suggest_features")
    val run = call(s, "run_carver", "task" -> JString("binary"), "min_freq" -> JDouble(0.1))
    assert((run \ "kept_features").asInstanceOf[JArray].arr.contains(JString("cat")))
    // drifted unlabelled extract: 'c' was never seen at fit and the feature
    // has no default bucket -> transform emits null bin codes; the verb must
    // report the drift (deflated known-bin frequencies + explicit count),
    // not NPE on the null group
    (Seq.fill(100)("a") ++ Seq.fill(100)("c")).toDF("cat")
      .write.mode("overwrite").parquet(s"$tmp/drift.parquet")
    val st = call(s, "evaluate_stability", "path" -> JString(s"$tmp/drift.parquet"))
      .asInstanceOf[JArray].arr
    val row = st.find(r => (r \ "feature") == JString("cat")).get
    assert((row \ "unseen_count") == JInt(100), row.toString)
    val JDouble(p) = (row \ "psi"): @unchecked
    assert(p > 0.1, s"half the mass drifted out of the fitted bins: psi=$p")
  }

  test("unlabelled stability releases the transformed extract it caches") {
    import spark.implicits._
    val s = new CarverSession(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_unpersist").toString
    (0 until 400).map(i => if (i < 200) ("a", if (i % 10 < 8) 1 else 0) else ("b", if (i % 10 < 2) 1 else 0))
      .toDF("cat", "y")
      .write.mode("overwrite").parquet(s"$tmp/train.parquet")
    call(s, "load_dataset", "path" -> JString(s"$tmp/train.parquet"), "target" -> JString("y"))
    call(s, "suggest_features")
    call(s, "run_carver", "task" -> JString("binary"), "min_freq" -> JDouble(0.1))
    Seq.fill(50)("a").toDF("cat").write.mode("overwrite").parquet(s"$tmp/extract.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val st = call(s, "evaluate_stability", "path" -> JString(s"$tmp/extract.parquet"))
    assert(st.asInstanceOf[JArray].arr.nonEmpty, st.toString)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before, "the stability verb left a frame persisted")
  }

  test("Cli REPL line protocol: ok/error envelopes") {
    val s = new CarverSession(spark)
    def roundtrip(line: String): JValue = {
      val req = JsonMethods.parse(line)
      val JString(tool) = (req \ "tool"): @unchecked
      try JObject("ok" -> JBool(true), "result" -> Cli.dispatch(s, tool, req \ "args"))
      catch { case e: Throwable => JObject("ok" -> JBool(false), "error" -> JString(e.getMessage)) }
    }
    val bad = roundtrip("""{"tool":"list_columns"}""")
    assert((bad \ "ok") == JBool(false)) // no dataset loaded yet
    val good = roundtrip(s"""{"tool":"load_dataset","args":{"path":"$sfDir/documents.parquet"}}""")
    assert((good \ "ok") == JBool(true))
    assert((roundtrip("""{"tool":"list_columns"}""") \ "ok") == JBool(true))
  }
}
