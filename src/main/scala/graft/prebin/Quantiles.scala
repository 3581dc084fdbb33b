package graft.prebin

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.stats.Ranks

/** Exact distributed quantiles with the reference's `method='lower'`
  * semantics: quantile p of N sorted values is `sorted[floor(p*(N-1))]`
  * (AutoCarver `discretizers/quantitatives/continuous_discretizer.py:75-84`
  * uses numpy `method='lower'`).
  *
  * Strategy: a value-count histogram (`groupBy(value).count()`) sized by
  * the column's *cardinality*, ranked by [[Ranks.bucketed]] under one
  * constant key (no global single-partition window anywhere). Each target
  * order statistic falls in exactly one histogram row's range
  * [cum, cum+cnt), so a range filter collects at most q-1 rows, and the
  * persisted histogram is released before the edges are returned.
  */
object Quantiles {

  /** DataFrame of (p_idx, edge): the q-quantile edges p_idx/q for
    * p_idx = 1..q-1, lower-method. Null and NaN values are missing and
    * excluded, as in every carve fit.
    */
  def exactEdgesDF(df: DataFrame, valueCol: String, q: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val hist = df.filter(v.isNotNull && !isnan(v)).groupBy(v.as("v"))
      .agg(count(lit(1)).as("cnt")).withColumn("key", lit(0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ranked = Ranks.bucketed[Int](hist, "key", "v", Seq("cnt"))
      val total = ranked.pools.values.headOption.fold(0L)(_.head.n)
      // order statistic floor(p/q·(N-1)) per edge p
      val targets = (1 until q).map(p => p.toLong -> math.floor(p.toDouble / q * (total - 1).toDouble).toLong)
      val (cum, cnt) = (col("cum_cnt"), col("cnt"))
      val rows = if (total == 0) Array.empty[Row] else ranked.frame
        .filter(exists(typedlit(targets.map(_._2)), t => t >= cum && t < cum + cnt))
        .select(cum, cnt, col("v")).collect()
      targets.flatMap { case (p, t) =>
        rows.find(r => t >= r.getLong(0) && t < r.getLong(0) + r.getLong(1)).map(r => p -> r.getDouble(2))
      }.toDF("p_idx", "edge")
    } finally hist.unpersist()
  }
}
