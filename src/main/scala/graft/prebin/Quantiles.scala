package graft.prebin

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.transform.BinarySearchBucketize

/** Exact distributed quantiles with the reference's `method='lower'`
  * semantics: quantile p of N sorted values is `sorted[floor(p*(N-1))]`
  * (AutoCarver `discretizers/quantitatives/continuous_discretizer.py:75-84`
  * uses numpy `method='lower'`).
  *
  * Strategy: a value-count histogram (`groupBy(value).count()`) sized by
  * the column's *cardinality*, then a range-bucketed two-pass cumulative
  * sum — approximate split points assign each distinct value a bucket
  * (exactness is unaffected: buckets only partition the cumsum), bucket
  * totals collect to the driver (P rows), and the within-bucket window is
  * partitioned by bucket. No global single-partition window anywhere, and
  * each target order statistic matches exactly one histogram row (the row
  * whose cumulative range [cum-cnt, cum-1] contains it), so the final
  * broadcast range-join emits q rows, not q×cardinality.
  */
object Quantiles {

  /** DataFrame of (p_idx, edge): the q-quantile edges p_idx/q for
    * p_idx = 1..q-1, lower-method. One cardinality-sized shuffle; all
    * windows partitioned.
    */
  def exactEdgesDF(df: DataFrame, valueCol: String, q: Int, buckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nonNull = df.select(col(valueCol).cast("double").as("v")).filter(col("v").isNotNull)
    val hist = nonNull.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // pass 1a: approximate range splits over the (already reduced) histogram
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits = hist.stat.approxQuantile("v", probs, 0.05).distinct.sorted
    val identity = Array.tabulate(splits.length + 1)(i => i)
    val bucketCol = BinarySearchBucketize.column(col("v"), splits.toVector, identity.toVector, nanBin = -1)
    val histB = hist.withColumn("bucket", bucketCol)

    // pass 1b: per-bucket totals -> driver-side exclusive prefix offsets
    val perBucket = histB.groupBy("bucket").agg(sum(col("cnt")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (perBucket.isEmpty) return Seq.empty[(Long, Double)].toDF("p_idx", "edge")
    val offsets = perBucket.scanLeft((0, 0L)) { case ((_, acc), (b, n)) => (b, acc + n) }
      .init.zip(perBucket).map { case ((_, off), (b, _)) => b -> off }.toMap
    val total = perBucket.map(_._2).sum
    val offsetExpr = element_at(
      map(offsets.toSeq.sortBy(_._1).flatMap { case (b, off) => Seq(lit(b), lit(off)) }: _*),
      col("bucket"))

    // pass 2: within-bucket cumsum (partitioned window) + bucket offset
    val w = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = histB.withColumn("cum", sum(col("cnt")).over(w) + offsetExpr)

    // each target index floor(p*(N-1)) lands in exactly one row's
    // [cum-cnt, cum-1] range; broadcast the q-1 tiny targets
    val targets = spark.range(1, q.toLong).select(
      col("id").as("p_idx"),
      floor(col("id").cast("double") / lit(q.toDouble) * lit((total - 1).toDouble)).cast("long").as("target"))
    cum
      .join(broadcast(targets), col("target") >= col("cum") - col("cnt") && col("target") < col("cum"))
      .select(col("p_idx"), col("v").as("edge"))
  }
}
