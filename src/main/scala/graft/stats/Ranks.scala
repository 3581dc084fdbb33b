package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.transform.BinarySearchBucketize

/** Average ranks of count cells: the one rank primitive behind the
  * selector's Kruskal-Wallis and Spearman measures, the continuous
  * carver's rank statistics and the exact quantile edges.
  *
  * Input: count cells `(key, value, n_1..n_m)`, one count per rank pool (a
  * pool is one population ranked on its own, e.g. "all rows" and "rows
  * outside the NaN modality"). Output, per cell and pool, in ascending
  * value order within the key (NaN last, as Spark sorts it): the exclusive
  * cumulative count `cum_i` and the average rank `cum_i + (n_i + 1) / 2`
  * (tied values share their mid rank); per key and pool, the total count
  * and the tie sum Σ(n³ − n). Counts are integers and ranks are multiples
  * of 0.5, so [[local]] and [[bucketed]] agree bit for bit. Tie sums are
  * exact integers (a single count of 2^21 already puts n³ past a Long).
  */
object Ranks {

  /** One key's pool: total count and tie sum Σ(n³ − n). */
  final case class Pool(n: Long, ties: BigInt) {
    /** Kruskal-Wallis tie correction `1 − Σ(t³ − t) / (n³ − n)`, 1 below two rows. */
    def tieCorrection: Double = if (n < 2) 1.0 else 1.0 - ties.toDouble / (n.toDouble * n * n - n)
  }

  /** One key's cells ranked on the driver: distinct `values` ascending (NaN
    * last) and, per pool p, the counts `n(p)` and exclusive cumulative
    * counts `cum(p)` aligned with them.
    */
  final class Table(val values: Array[Double], val n: Array[Array[Long]]) {
    val cum: Array[Array[Long]] = n.map(_.scanLeft(0L)(_ + _).init)
    def rank(p: Int, j: Int): Double = cum(p)(j) + (n(p)(j) + 1) / 2.0
    def pool(p: Int): Pool = Pool(n(p).sum, n(p).iterator.map(c => BigInt(c).pow(3) - c).sum)
  }

  /** [[Table]] of one key's `(value, counts per pool)` cells. Cells with the
    * same value merge; values compare by their bits (Spark's grouping has
    * already normalised NaN and -0.0).
    */
  def local(cells: Iterable[(Double, Array[Long])]): Table = {
    val merged = cells.groupMapReduce(c => java.lang.Double.doubleToLongBits(c._1))(_._2)(
      (a, b) => Array.tabulate(a.length)(p => a(p) + b(p))).toArray
      .map { case (bits, n) => (java.lang.Double.longBitsToDouble(bits), n) }
      .sortWith((a, b) => java.lang.Double.compare(a._1, b._1) < 0)
    val pools = merged.headOption.fold(0)(_._2.length)
    new Table(merged.map(_._1), Array.tabulate(pools)(p => merged.map(_._2(p))))
  }

  /** Approximate split probabilities and relative error of [[bucketed]]'s
    * value buckets. Exactness never depends on them: buckets only partition
    * the cumulative sum.
    */
  private val SplitProbs = (1 until 32).map(_ / 32.0).toArray
  private val SplitError = 0.05

  /** [[bucketed]]'s result: the cells with `cum_<n>` and `rank_<n>` added
    * for each count column `<n>` (lazy), and each key's pools in count
    * column order.
    */
  final case class Ranked[K](frame: DataFrame, pools: Map[K, IndexedSeq[Pool]])

  /** Ranks over a `(key, value, counts...)` cell frame without a window
    * partitioned by key alone (an id-like value would put ~|rows| rows
    * through one task): approximate splits bucket the value range, ONE
    * collect returns the per-(key, bucket) totals and tie sums, the driver
    * turns the totals into exclusive offsets, and the window runs within
    * (key, bucket). Runs two Spark actions, the split pass and the collect.
    * `K` is the key column's external type (`String` for a string column,
    * `Int` for an integer one); the pools are keyed by it.
    */
  def bucketed[K](cells: DataFrame, key: String, value: String, counts: Seq[String]): Ranked[K] = {
    val splits = cells.stat.approxQuantile(value, SplitProbs, SplitError).filterNot(_.isNaN).distinct.sorted
    val withBucket = cells.withColumn("__bucket", BinarySearchBucketize.column(
      col(value), splits.toVector, splits.indices.toVector :+ splits.length, nanBin = splits.length))
    val m = counts.length
    def tieSum(c: String) = { val d = col(c).cast("decimal(38,0)"); sum(d * d * d - d) }
    val aggs = counts.map(c => sum(col(c))) ++ counts.map(tieSum)
    val byKey = withBucket.groupBy(col(key), col("__bucket")).agg(aggs.head, aggs.tail: _*)
      .collect().groupBy(_.getAs[K](0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    val pools = byKey.view.mapValues(rows => (0 until m).map(p => Pool(rows.map(_.getLong(2 + p)).sum,
      rows.iterator.map(r => BigInt(r.getDecimal(2 + m + p).toBigInteger)).sum))).toMap
    val w = Window.partitionBy(col(key), col("__bucket")).orderBy(col(value))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frame = counts.zipWithIndex.foldLeft(withBucket) { case (f, (c, p)) =>
      val offsets = byKey.toSeq.flatMap { case (k, rows) =>
        rows.scanLeft(0L)(_ + _.getLong(2 + p)).zip(rows).map { case (off, r) => s"$k#${r.getInt(1)}" -> off }
      }.toMap
      val offset =
        if (offsets.isEmpty) lit(0L)
        else coalesce(element_at(typedlit(offsets), concat_ws("#", col(key), col("__bucket"))), lit(0L))
      f.withColumn(s"cum_$c", coalesce(sum(col(c)).over(w), lit(0L)) + offset)
        .withColumn(s"rank_$c", col(s"cum_$c") + (col(c) + 1) / 2.0)
    }
    Ranked(frame, pools)
  }
}
