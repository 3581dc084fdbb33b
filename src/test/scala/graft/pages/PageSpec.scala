package graft.pages

import graft.SparkSuite
import graft.tables.IcebergLite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class PageSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tableDir = {
    val dir = java.nio.file.Files.createTempDirectory("pages_test").toString
    IcebergLite.write(PageGen.pages(spark, nUrls = 2000, nHosts = 50), dir)
    dir
  }

  test("page generation is deterministic and byte-identical under re-extraction (E8)") {
    val p1 = PageGen.pages(spark, 500, 50).orderBy("url", "warc_ts").collect()
    val p2 = PageGen.pages(spark, 500, 50).orderBy("url", "warc_ts").collect()
    assert(p1.length == p2.length && p1.length > 500) // multiple crawls per url
    p1.zip(p2).foreach { case (a, b) => assert(a == b) }
    // the per-row invariant: extract(html) == text, byte for byte
    p1.foreach { r =>
      val html = r.getAs[Array[Byte]]("html")
      val text = r.getAs[String]("text")
      val extracted = TextExtract.extract(html)
      assert(extracted == text)
      assert(extracted.getBytes("UTF-8").sameElements(text.getBytes("UTF-8")))
    }
  }

  test("host distribution is skewed (exercises salting) and langs have a rare tail") {
    val pages = PageGen.pages(spark, 5000, 50)
    val hostCounts = pages.groupBy(regexp_extract($"url", "https://([^/]+)/", 1))
      .count().orderBy(desc("count")).as[(String, Long)].collect()
    val total = hostCounts.map(_._2).sum.toDouble
    assert(hostCounts.head._2 / total > 0.05, "top host should dominate")
    assert(hostCounts.length > 30)
    val langs = pages.select("lang").distinct().as[String].collect()
    assert(langs.exists(_.startsWith("rare")))
    assert(langs.contains("en"))
  }

  test("iceberg-lite: snapshot manifest, partition stats, pointer flip") {
    val m = IcebergLite.currentManifest(tableDir).get
    assert(m.totalRows > 2000)
    assert(m.partitions.nonEmpty && m.partitions.map(_.rows).sum == m.totalRows)
    val read = IcebergLite.read(spark, tableDir)
    assert(read.count() == m.totalRows)
    assert(read.columns.toSet == Set("url", "warc_ts", "html", "text", "lang"))
    // append creates a new snapshot with parent pointer
    val m2 = IcebergLite.write(PageGen.pages(spark, 100, 50, seed = 43L), tableDir, mode = "append")
    assert(m2.snapshotId == m.snapshotId + 1 && m2.parentId == m.snapshotId)
    assert(m2.totalRows > m.totalRows)
  }

  test("date filter is pushed into the parquet reader for row-group skipping") {
    val read = IcebergLite.read(spark, s"$tableDir")
    val plan = read.filter(col("warc_ts") < lit(Timestamp.valueOf("2024-01-05 00:00:00")))
      .queryExecution.executedPlan.toString
    assert(read.count() > 0)
    // a warc_ts filter is not a part_ts filter: no directory is pruned, the
    // reader skips row groups by their warc_ts statistics
    val pushed = "PushedFilters: \\[[^\\]]*".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("LessThan(warc_ts,"), plan.take(800))
  }

  test("checkpointed fit: second run resumes from metadata, equal model (E6)") {
    val dir = java.nio.file.Files.createTempDirectory("pages_ckpt").toString
    IcebergLite.write(PageGen.pages(spark, 3000, 50), dir)
    val asOf = Timestamp.valueOf("2024-06-01 00:00:00")
    val (m1, stages1) = PagePipeline.fitCheckpointed(spark, dir, asOf)
    assert(stages1 == Vector("hist", "model"), s"first run computes all stages: $stages1")
    val (m2, stages2) = PagePipeline.fitCheckpointed(spark, dir, asOf)
    assert(stages2.isEmpty, s"resumed run must load from checkpoints: $stages2")
    assert(m1.toJson == m2.toJson)
    // kill-between-stages: drop the model checkpoint, keep hist → only model recomputes
    val ckpts = IcebergLite.listCheckpoints(dir)
    assert(ckpts.exists(_.startsWith("hist")) && ckpts.exists(_.startsWith("model")))
    val modelCkpt = ckpts.find(_.startsWith("model")).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "checkpoints", modelCkpt))
    val (m3, stages3) = PagePipeline.fitCheckpointed(spark, dir, asOf)
    assert(stages3 == Vector("model"), s"mid-fit resume recomputes only the lost stage: $stages3")
    assert(m3.toJson == m1.toJson)
    // a different as-of cutoff must NOT reuse the checkpoints (config hash)
    val (_, stages4) = PagePipeline.fitCheckpointed(spark, dir, Timestamp.valueOf("2024-03-01 00:00:00"))
    assert(stages4 == Vector("hist", "model"))
  }

  test("zero temporal leakage: checkpointed fit equals fit on the sliced table") {
    val asOf = Timestamp.valueOf("2024-04-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("pages_leak").toString
    IcebergLite.write(PageGen.pages(spark, 3000, 50), dir)
    val (model, _) = PagePipeline.fitCheckpointed(spark, dir, asOf)
    // manual slice + direct fit (no checkpoint machinery)
    val sliced = PagePipeline.featureFrame(
      IcebergLite.read(spark, dir).filter(col("warc_ts") <= lit(asOf))
    ).withColumn("y", PagePipeline.label)
    val direct = graft.carve.BinaryCarver.fit(sliced, "y", PagePipeline.specs)
    assert(model.toJson == direct.toJson)
  }

  test("pipeline transform bins every page") {
    val asOf = Timestamp.valueOf("2024-06-01 00:00:00")
    val (model, _) = PagePipeline.fitCheckpointed(spark, tableDir, asOf)
    val out = PagePipeline.transform(spark, tableDir, model)
    assert(model.kept.nonEmpty)
    val binCols = model.kept.map(_.name)
    assert(out.count() == IcebergLite.currentManifest(tableDir).get.totalRows)
    binCols.foreach { c =>
      assert(out.filter(col(c).isNull).count() == 0, s"unbinned rows in $c")
    }
  }
}
