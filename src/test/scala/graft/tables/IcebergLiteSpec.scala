package graft.tables

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class IcebergLiteSpec extends SparkSuite {

  private val DayMicros = 86400L * 1000000L

  /** `n` rows, one every 7 hours from `startDay` (days since the epoch). */
  private def frame(n: Long, startDay: Long = 19723L): DataFrame =
    spark.range(n).select(
      col("id"),
      timestamp_micros(lit(startDay * DayMicros) + col("id") * lit(7L * 3600L * 1000000L)).as("warc_ts"),
      concat(lit("u"), col("id").cast("string")).as("url"))

  private def freshTable(): String = Files.createTempDirectory("iceberg_lite").toString

  /** Every regular file under `dir`, relative to it. */
  private def files(dir: String): Set[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => root.relativize(p).toString).toSet
      finally s.close()
    }
  }

  private def scannedStats(table: String): Vector[IcebergLite.PartitionStat] =
    spark.read.parquet(s"$table/data")
      .groupBy(col("part_ts").cast("string"))
      .count()
      .collect()
      .map(r => IcebergLite.PartitionStat(Option(r.getString(0)), r.getLong(1)))
      .toVector
      .sortBy(s => (s.partition.isEmpty, s.partition.getOrElse("")))

  test("manifest stats equal a scan of the table after an overwrite and two appends") {
    val t = freshTable()
    val m1 = IcebergLite.write(frame(40), t)
    assert(m1.partitions == scannedStats(t) && m1.totalRows == 40)
    // the second frame overlaps the first's last days and adds new ones
    val m2 = IcebergLite.write(frame(30, startDay = 19730L), t, mode = "append")
    assert(m2.partitions == scannedStats(t) && m2.totalRows == 70 && m2.parentId == m1.snapshotId)
    val m3 = IcebergLite.write(frame(5, startDay = 19700L), t, mode = "append")
    assert(m3.partitions == scannedStats(t) && m3.totalRows == 75)
    assert(IcebergLite.currentManifest(t).get == m3)
    // an overwrite replaces the stats, it does not add to them
    val m4 = IcebergLite.write(frame(8), t)
    assert(m4.partitions == scannedStats(t) && m4.totalRows == 8)
    assert(IcebergLite.read(spark, t).count() == 8)
  }

  test("read runs no Spark job before an action, and reads the manifest's columns") {
    val t = freshTable()
    IcebergLite.write(frame(40), t)
    val (jobs, df) = countJobs()(IcebergLite.read(spark, t))
    assert(jobs == 0, s"read ran $jobs jobs")
    assert(df.columns.toSeq == Seq("id", "warc_ts", "url"))
    assert(df.count() == 40)
  }

  test("write runs the jobs of the bare partitioned parquet write, and leaves no staging directory") {
    val df = frame(40)
    val bare = Files.createTempDirectory("bare_write").toString
    val (bareJobs, _) = countJobs(SparkSuite.OneJobPerAction: _*)(
      df.withColumn("part_ts", date_format(col("warc_ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("part_ts").parquet(bare))
    val t = freshTable()
    val (writeJobs, _) = countJobs(SparkSuite.OneJobPerAction: _*)(IcebergLite.write(df, t))
    val (appendJobs, _) = countJobs(SparkSuite.OneJobPerAction: _*)(IcebergLite.write(df, t, mode = "append"))
    assert(writeJobs == bareJobs && appendJobs == bareJobs, s"bare $bareJobs, write $writeJobs, append $appendJobs")
    val data = Paths.get(t, "data")
    val names = Files.list(data).iterator().asScala.map(_.getFileName.toString).toVector
    assert(names.nonEmpty && names.forall(_.startsWith("part_ts=")), names)
  }

  test("an append with another schema raises before anything is written") {
    val t = freshTable()
    val m1 = IcebergLite.write(frame(40), t)
    val before = files(t)
    val mismatched = Seq(
      frame(10).withColumn("extra", lit(1)),
      frame(10).withColumn("id", col("id").cast("int")),
      frame(10).select("url", "warc_ts", "id"),
      frame(10).withColumnRenamed("url", "uri"))
    mismatched.foreach { df =>
      intercept[IllegalArgumentException](IcebergLite.write(df, t, mode = "append"))
      assert(files(t) == before)
      assert(IcebergLite.currentManifest(t).get == m1)
    }
    // nullability alone is not a mismatch
    val nullable = frame(10).withColumn("url", when(col("id") >= 0, col("url")))
    assert(nullable.schema("url").nullable != frame(10).schema("url").nullable)
    assert(IcebergLite.write(nullable, t, mode = "append").totalRows == 50)
  }

  test("a null timestamp lands in the null partition, sorted last") {
    val t = freshTable()
    val df = frame(20).withColumn("warc_ts", when(col("id") === 3, lit(null)).otherwise(col("warc_ts")))
    val m = IcebergLite.write(df, t)
    assert(m.partitions.last == IcebergLite.PartitionStat(None, 1L))
    assert(m.partitions.init.forall(_.partition.nonEmpty))
    assert(m.partitions == scannedStats(t) && m.totalRows == 20)
    assert(IcebergLite.read(spark, t).count() == 20)
    val json = JsonMethods.parse(Files.readString(Paths.get(t, "metadata", s"manifest-${m.snapshotId}.json")))
    val JArray(parts) = json \ "partitions": @unchecked
    assert(parts.last \ "partition" == JNull)
    // appending more null-timestamp rows adds to that partition
    val m2 = IcebergLite.write(df.filter(col("warc_ts").isNull), t, mode = "append")
    assert(m2.partitions.last == IcebergLite.PartitionStat(None, 2L) && m2.totalRows == 21)
  }

  test("an empty frame commits a 0-row snapshot that reads back with its columns") {
    val t = freshTable()
    val empty = frame(20).filter(lit(false))
    val m = IcebergLite.write(empty, t)
    assert(m.totalRows == 0 && m.partitions.isEmpty)
    val back = IcebergLite.read(spark, t)
    assert(back.count() == 0)
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq ==
      empty.schema.fields.map(f => f.name -> f.dataType).toSeq)
    val m2 = IcebergLite.write(frame(20), t, mode = "append")
    val m3 = IcebergLite.write(empty, t, mode = "append")
    assert(m3.partitions == m2.partitions && m3.totalRows == 20)
    assert(IcebergLite.read(spark, t).count() == 20)
  }

  test("cachedParquet regenerates after a produce under another config was killed") {
    val t = freshTable()
    def cached(config: String)(produce: String => Unit): DataFrame = IcebergLite.cachedParquet(spark, t, config)(produce)
    val a = spark.range(30).toDF("id")
    cached("a")(path => a.write.mode("overwrite").parquet(path))
    // "b" overwrites the data, then dies before stamping its marker
    intercept[IllegalStateException](cached("b") { path =>
      spark.range(100, 105).toDF("id").write.mode("overwrite").parquet(path)
      throw new IllegalStateException("killed mid-produce")
    })
    var produced = false
    val back = cached("a") { path => produced = true; a.write.mode("overwrite").parquet(path) }
    assert(produced && back.orderBy("id").collect().map(_.getLong(0)).toSeq == (0L until 30L))
  }
}
