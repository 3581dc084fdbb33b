package graft.prebin

import graft.SparkSuite

class QuantilesSpec extends SparkSuite {
  import spark.implicits._

  private def edges(df: org.apache.spark.sql.DataFrame, q: Int): Seq[(Long, Double)] =
    Quantiles.exactEdgesDF(df, "x", q).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)

  private val values = (0 until 97).map(i => (i * 37 % 97).toDouble)

  test("edges are the lower-method order statistics sorted[floor(p/q·(N-1))]") {
    val sorted = values.sorted
    val want = (1 until 4).map(p => p.toLong -> sorted(math.floor(p / 4.0 * (sorted.length - 1)).toInt))
    assert(edges(values.toDF("x"), 4) == want)
  }

  test("NaN rows are missing: they give the same edges as null rows") {
    val withNan = (values.map(Option(_)) ++ Seq.fill(20)(Some(Double.NaN))).toDF("x")
    val withNull = (values.map(Option(_)) ++ Seq.fill(20)(Option.empty[Double])).toDF("x")
    assert(edges(withNan, 4) == edges(withNull, 4))
    assert(edges(withNan, 4) == edges(values.toDF("x"), 4))
  }

  test("the value histogram is not left persisted once the edges are collected") {
    val before = spark.sparkContext.getPersistentRDDs.size
    edges(values.toDF("x"), 20)
    edges(Seq.empty[Double].toDF("x"), 20)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
