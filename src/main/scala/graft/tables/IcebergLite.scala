package graft.tables

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-style table layer over Parquet (SURVEY.md §7.6 — no Iceberg
  * runtime jar ships with this Spark; coursier is offline).
  *
  * Layout:
  * ```
  * <table>/data/part_ts=YYYY-MM-DD/…parquet   — range-partitioned data
  * <table>/metadata/manifest-<n>.json          — schema + per-partition stats
  * <table>/metadata/current                    — pointer to live manifest
  * <table>/checkpoints/<stage>-<hash>.json     — per-stage lineage (E6)
  * ```
  * Snapshots are append-only: each write produces manifest-<n+1> with a
  * parent pointer, so readers pin a snapshot id and a killed writer never
  * corrupts the current snapshot (the pointer flips last, atomically via
  * temp-file + move). The API mirrors `spark.read` / `writeTo` semantics so
  * a real Iceberg catalog can be swapped in later.
  *
  * The manifest answers table-level questions without a Spark job: `read`
  * takes its schema from it, and `write` derives the new snapshot's
  * per-partition row counts from the parent's plus the Parquet footers of
  * the files this write added, never from a table scan.
  */
object IcebergLite {

  /** Rows under one `part_ts` directory. `None` is the null partition
    * (`__HIVE_DEFAULT_PARTITION__`, rows with a null timestamp); it sorts
    * last and is JSON `null` in the manifest.
    */
  final case class PartitionStat(partition: Option[String], rows: Long)
  final case class Manifest(
      snapshotId: Long,
      parentId: Long,
      schemaJson: String,
      partitionCol: String,
      partitions: Vector[PartitionStat],
      totalRows: Long
  ) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private val PartCol = "part_ts"
  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  private def metaDir(table: String): Path = Paths.get(table, "metadata")
  private def dataDir(table: String): String = s"$table/data"

  def currentManifest(table: String): Option[Manifest] = {
    val ptr = metaDir(table).resolve("current")
    if (!Files.exists(ptr)) None
    else Some(readManifest(metaDir(table).resolve(Files.readString(ptr).trim)))
  }

  private def readManifest(p: Path): Manifest = {
    val j = JsonMethods.parse(Files.readString(p))
    implicit val fmts: Formats = DefaultFormats
    Manifest(
      (j \ "snapshot_id").extract[Long],
      (j \ "parent_id").extract[Long],
      JsonMethods.compact(JsonMethods.render(j \ "schema")),
      (j \ "partition_col").extract[String],
      (j \ "partitions") match {
        case JArray(xs) => xs.map(x =>
          PartitionStat((x \ "partition").extractOpt[String], (x \ "rows").extract[Long])).toVector
        case _ => Vector.empty
      },
      (j \ "total_rows").extract[Long]
    )
  }

  /** Write (overwrite or append) a snapshot of `df` partitioned by the
    * date of `tsCol` (a null timestamp lands in the null partition).
    *
    * Spark writes into the hidden `data/_staging-<snapshot>` directory,
    * which readers skip, and the staged files then move into their
    * `part_ts=` directories. Only those files' footers are read for row
    * counts, so a write costs the Spark write's own jobs and driver work
    * proportional to the files it added, not to the table.
    *
    * An append must carry the table's schema (names and types in order;
    * nullability is ignored), or it raises `IllegalArgumentException`
    * before anything is written. That keeps every file readable with the
    * manifest's schema.
    */
  def write(df: DataFrame, table: String, tsCol: String = "warc_ts", mode: String = "overwrite"): Manifest = {
    require(mode == "overwrite" || mode == "append", s"mode must be overwrite or append, got '$mode'")
    val current = currentManifest(table)
    val parent = if (mode == "append") current else None
    parent.foreach { p =>
      if (shape(p.schema) != shape(df.schema)) throw new IllegalArgumentException(
        s"append schema ${df.schema.simpleString} differs from ${p.schema.simpleString}, the schema of $table")
    }
    val parentId = current.fold(0L)(_.snapshotId)
    val snapshotId = parentId + 1
    val data = Paths.get(dataDir(table))
    val staging = data.resolve(s"_staging-$snapshotId")
    df.withColumn(PartCol, date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy(PartCol).parquet(staging.toString)

    val partDirs = children(staging).filter(Files.isDirectory(_))
    val added = for (dir <- partDirs; f <- children(dir) if isDataFile(f)) yield
      PartitionStat(partitionOf(dir.getFileName.toString),
        Using.resource(ParquetFileReader.open(new LocalInputFile(f)))(_.getRecordCount))
    if (mode == "overwrite") children(data).filterNot(_ == staging).foreach(deleteTree)
    for (dir <- partDirs) {
      val target = Files.createDirectories(data.resolve(dir.getFileName))
      children(dir).foreach(f => Files.move(f, target.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    }
    deleteTree(staging)

    val stats = (parent.fold(Vector.empty[PartitionStat])(_.partitions) ++ added)
      .groupMapReduce(_.partition)(_.rows)(_ + _)
      .map { case (p, rows) => PartitionStat(p, rows) }
      .toVector
      .sortBy(s => (s.partition.isEmpty, s.partition.getOrElse("")))
    commit(table, Manifest(snapshotId, parentId, df.schema.json, PartCol, stats, stats.map(_.rows).sum))
  }

  private def commit(table: String, m: Manifest): Manifest = {
    Files.createDirectories(metaDir(table))
    val name = s"manifest-${m.snapshotId}.json"
    val json: JValue =
      ("snapshot_id" -> m.snapshotId) ~ ("parent_id" -> m.parentId) ~
      ("schema" -> JsonMethods.parse(m.schemaJson)) ~
      ("partition_col" -> m.partitionCol) ~
      ("partitions" -> m.partitions.map(p =>
        ("partition" -> p.partition.fold[JValue](JNull)(JString(_))) ~ ("rows" -> p.rows))) ~
      ("total_rows" -> m.totalRows)
    Files.writeString(metaDir(table).resolve(name), JsonMethods.pretty(JsonMethods.render(json)))
    // atomic pointer flip: temp + move
    val tmp = metaDir(table).resolve("current.tmp")
    Files.writeString(tmp, name)
    Files.move(tmp, metaDir(table).resolve("current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    m
  }

  /** Read the current snapshot with the schema its manifest records, so
    * Spark runs no schema-inference job. `part_ts` is discovered from the
    * directory names and dropped. A filter on the ts column is not a
    * `part_ts` filter, so it prunes no directory; it is pushed into the
    * Parquet reader, which skips row groups by their min/max statistics.
    */
  def read(spark: SparkSession, table: String): DataFrame = {
    val m = currentManifest(table).getOrElse(throw new IllegalArgumentException(s"no current snapshot in $table"))
    spark.read.schema(m.schema).parquet(dataDir(table)).drop(m.partitionCol)
  }

  /** A schema with every nullability flag and field metadata cleared:
    * what an append must match.
    */
  private def shape(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case m: MapType => MapType(shape(m.keyType), shape(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def partitionOf(dirName: String): Option[String] =
    Some(dirName.stripPrefix(s"$PartCol=")).filter(_ != NullPartition)

  /** Spark's readers skip `_`- and `.`-prefixed names (markers, checksums). */
  private def isDataFile(f: Path): Boolean = {
    val name = f.getFileName.toString
    Files.isRegularFile(f) && !name.startsWith("_") && !name.startsWith(".")
  }

  private def children(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else Using.resource(Files.list(dir))(_.iterator().asScala.toVector.sortBy(_.getFileName.toString))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))

  // -------------------------------------------------------- checkpoints (E6)

  /** Per-stage lineage record: content-addressed by (stage, snapshot,
    * config hash) so resume is only valid against identical inputs.
    */
  final case class Checkpoint(stage: String, snapshotId: Long, configHash: String, payload: String)

  private def ckptPath(table: String, stage: String, snapshotId: Long, configHash: String): Path =
    Paths.get(table, "checkpoints", s"$stage-$snapshotId-$configHash.json")

  def saveCheckpoint(table: String, c: Checkpoint): Unit = {
    val p = ckptPath(table, c.stage, c.snapshotId, c.configHash)
    Files.createDirectories(p.getParent)
    val json: JValue = ("stage" -> c.stage) ~ ("snapshot_id" -> c.snapshotId) ~
      ("config_hash" -> c.configHash) ~ ("payload" -> c.payload)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(json)))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def loadCheckpoint(table: String, stage: String, snapshotId: Long, configHash: String): Option[String] = {
    val p = ckptPath(table, stage, snapshotId, configHash)
    if (!Files.exists(p)) None
    else {
      val j = JsonMethods.parse(Files.readString(p))
      j \ "payload" match {
        case JString(s) => Some(s)
        case _ => None
      }
    }
  }

  def listCheckpoints(table: String): Vector[String] =
    children(Paths.get(table, "checkpoints")).map(_.getFileName.toString).filterNot(_.endsWith(".tmp"))

  def configHash(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Durable derived-frame cache: if `table` carries a marker matching
    * `config`'s hash AND its data directory exists, the cached parquet is
    * read back; otherwise the old marker is removed, `produce(dataPath)`
    * writes it and the marker is stamped AFTER the write (a crash
    * mid-produce leaves no marker, so the next run regenerates). Shared by
    * the minhash/embedding signature checkpoints — at corpus scale a
    * derived frame this size belongs in a table, not executor-local block
    * storage.
    *
    * INVALIDATION CONTRACT: freshness is decided by `config` ALONE — the
    * produced data is NOT fingerprinted (that is what makes resume cheap:
    * a rerun must not rescan the source to prove the cache valid). Callers
    * whose `produce` depends on input data must fold a dataset identity
    * (source path, snapshot id, row count, a caller tag) into `config`,
    * or use a distinct `table` per dataset.
    */
  def cachedParquet(spark: SparkSession, table: String, config: String)
      (produce: String => Unit): org.apache.spark.sql.DataFrame = {
    val hash = configHash(config)
    val dir = Paths.get(table)
    val marker = dir.resolve("_CKPT_CONFIG")
    val dataPath = s"$table/data"
    val fresh = Files.exists(marker) && Files.exists(Paths.get(dataPath)) &&
      Files.readString(marker).trim == hash
    if (!fresh) {
      Files.deleteIfExists(marker)
      produce(dataPath)
      Files.createDirectories(dir)
      Files.writeString(marker, hash)
    }
    spark.read.parquet(dataPath)
  }
}
