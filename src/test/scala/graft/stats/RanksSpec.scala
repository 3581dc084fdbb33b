package graft.stats

import graft.SparkSuite
import org.apache.spark.sql.functions._

class RanksSpec extends SparkSuite {
  import spark.implicits._

  // two keys, ties, a NaN value and a second pool that skips some cells
  private val cells = Seq(
    ("a", 3.0, 2L, 2L), ("a", 1.0, 1L, 0L), ("a", Double.NaN, 2L, 1L), ("a", 2.0, 3L, 3L),
    ("b", -1.0, 1L, 1L), ("b", 5.0, 4L, 0L), ("b", 0.5, 1L, 1L))

  test("local: ascending with NaN last, exclusive cums, mid ranks, totals and tie sums") {
    val t = Ranks.local(cells.filter(_._1 == "a").map(c => (c._2, Array(c._3, c._4))) :+ ((2.0, Array(1L, 0L))))
    assert(t.values.take(3).toSeq == Seq(1.0, 2.0, 3.0) && t.values(3).isNaN)
    assert(t.n(0).toSeq == Seq(1L, 4L, 2L, 2L), "equal values merge")
    assert(t.cum(0).toSeq == Seq(0L, 1L, 5L, 7L) && t.cum(1).toSeq == Seq(0L, 0L, 3L, 5L))
    assert(t.values.indices.map(t.rank(0, _)) == Seq(1.0, 3.5, 6.5, 8.5))
    assert(t.pool(0) == Ranks.Pool(9L, 0L + 60L + 6L + 6L) && t.pool(1) == Ranks.Pool(6L, 24L + 6L))
    assert(Ranks.Pool(1L, 0L).tieCorrection == 1.0 && Ranks.Pool(4L, 6L).tieCorrection == 1.0 - 6.0 / 60.0)
  }

  test("bucketed ranks equal local ranks for every cell, pool and key") {
    val df = cells.toDF("k", "v", "n1", "n2")
    val ranked = Ranks.bucketed[String](df, "k", "v", Seq("n1", "n2"))
    val got = ranked.frame.select("k", "v", "cum_n1", "rank_n1", "cum_n2", "rank_n2").collect()
      .map(r => (r.getString(0), java.lang.Double.doubleToLongBits(r.getDouble(1))) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))).toMap
    cells.groupBy(_._1).foreach { case (k, cs) =>
      val t = Ranks.local(cs.map(c => (c._2, Array(c._3, c._4))))
      t.values.indices.foreach { j =>
        assert(got((k, java.lang.Double.doubleToLongBits(t.values(j)))) ==
          ((t.cum(0)(j), t.rank(0, j), t.cum(1)(j), t.rank(1, j))), s"$k ${t.values(j)}")
      }
      assert(ranked.pools(k) == IndexedSeq(t.pool(0), t.pool(1)))
    }
    assert(got.size == cells.size)
  }

  test("bucketed ranks an integer key and a value range wider than one bucket") {
    val df = (0 until 600).map(i => (i % 3, (i * 7919 % 211).toDouble, 1L + i % 2)).toDF("fid", "x", "n")
      .groupBy("fid", "x").agg(sum("n").as("n"))
    val ranked = Ranks.bucketed[Int](df, "fid", "x", Seq("n"))
    val rows = ranked.frame.select("fid", "x", "rank_n").collect()
    rows.groupBy(_.getInt(0)).foreach { case (fid, rs) =>
      val t = Ranks.local(df.filter(col("fid") === fid).collect().map(r => (r.getDouble(1), Array(r.getLong(2)))))
      assert(rs.sortBy(_.getDouble(1)).map(_.getDouble(2)).toSeq == t.values.indices.map(t.rank(0, _)))
      assert(ranked.pools(fid) == IndexedSeq(t.pool(0)))
    }
  }

  test("tie sums stay exact when a count's cube passes Long.MaxValue") {
    // 3,000,000³ − 3,000,000 ≈ 2.7e19 > Long.MaxValue ≈ 9.2e18
    val big = Seq(("a", 1.0, 3000000L), ("a", 2.0, 1L), ("a", 3.0, 2L))
    val ranked = Ranks.bucketed[String](big.toDF("k", "v", "n"), "k", "v", Seq("n"))
    val t = Ranks.local(big.map(c => (c._2, Array(c._3))))
    val want = BigInt(3000000L).pow(3) - 3000000L + 6
    assert(t.pool(0) == Ranks.Pool(3000003L, want))
    assert(ranked.pools("a") == IndexedSeq(t.pool(0)))
    assert(ranked.frame.select("v", "rank_n").collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap ==
      t.values.indices.map(j => t.values(j) -> t.rank(0, j)).toMap)
    assert(t.pool(0).tieCorrection == 1.0 - want.toDouble / (3000003.0 * 3000003 * 3000003 - 3000003))
  }
}
