package graft.carve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Nested qualitative features (SURVEY.md P6/X4) — the reference's
  * NestedDiscretizer (`discretizers/qualitatives/nested_discretizer.py`):
  * columns of increasing granularity (finest ⊂ parent ⊂ ... ⊂ coarsest)
  * collapse into ONE robust output column by rolling rare finest modalities
  * up to their data-derived parent, level by level, until every surviving
  * bucket is frequent enough; buckets still rare at the coarsest level pool
  * into `__OTHER__`. Unseen finest values at transform time also fall back
  * to `__OTHER__` (X4).
  *
  * Cluster shape: ONE `groupBy(finest, parents...).count()` pass — the
  * shuffle is bounded by the finest column's cardinality (each child value
  * has exactly one parent in a clean hierarchy); all rollup iterations are
  * driver-side over those grouped counts.
  */
object Nested {

  final case class Model(
      column: String,
      parents: Seq[String],
      rawToBucket: Map[String, String],
      buckets: Vector[String] // surviving buckets, target-rate order when y given
  ) {
    /** Rolled-up column: raw finest value -> bucket; null passes through
      * (the carver's NaN machinery handles it). An UNSEEN finest value
      * walks the row's parent columns nearest→farthest to the first
      * ancestor that is a surviving bucket leader, falling back to
      * `__OTHER__` (X4, `base_discretizer.py:676-712`) — `usableParents`
      * restricts the walk to parent columns present in the frame.
      */
    def transformCol(usableParents: Seq[String] = parents): Column = {
      val c = col(column).cast("string")
      val bucketSet = buckets.filterNot(_ == BinaryCarver.OtherLabel)
      val parentHits = usableParents.map { p =>
        val pc = col(p).cast("string")
        when(pc.isInCollection(bucketSet), pc)
      }
      val unseen = coalesce(parentHits :+ lit(BinaryCarver.OtherLabel): _*)
      val mapped =
        if (rawToBucket.isEmpty) unseen
        else coalesce(element_at(typedlit(rawToBucket), c), unseen)
      when(c.isNull, lit(null).cast("string")).otherwise(mapped)
    }

    def transform(df: DataFrame, as: String = null): DataFrame = {
      val present = parents.filter(df.columns.contains)
      df.withColumn(if (as == null) column else as, transformCol(present))
    }
  }

  /** One grouped tuple of a nested hierarchy: level values finest-first
    * (nulls preserved), count, sum of y.
    */
  final case class Tup(values: Vector[String], cnt: Long, sy: Double)

  final case class RollupResult(
      rawToBucket: Map[String, String],
      order: Vector[String],                      // surviving buckets
      bucketStats: Map[String, (Double, Double)]  // bucket -> (count, sumY)
  )

  /** Driver-side rollup core over grouped (finest, parents..., cnt, sy)
    * tuples — shared by the standalone [[fit]] and the carver-integrated
    * nested FeatureSpec kind ([[Prebin.prep]]). Tuples with a
    * null finest value must already be excluded; `nobs` is the FULL row
    * count (null finest included — frequency denominators use it).
    */
  private[carve] def rollupCore(
      columns: Seq[String],
      tuples: Seq[Tup],
      nobs: Long,
      minFreq: Double,
      alpha: Double,
      sortByTarget: Boolean
  ): RollupResult = {
    // parent maps between consecutive levels, validated (clean hierarchy)
    val parentMaps: Seq[Map[String, String]] = (0 until columns.length - 1).map { lvl =>
      val m = mutable.Map.empty[String, String]
      tuples.foreach { t =>
        val child = t.values(lvl)
        val parent = t.values(lvl + 1)
        if (child != null && parent != null) {
          m.get(child) match {
            case Some(p) if p != parent =>
              throw new IllegalArgumentException(
                s"[Nested] modality '$child' of ${columns(lvl)} is nested within several " +
                  s"modalities ('$p', '$parent') of ${columns(lvl + 1)}; columns are not properly nested")
            case _ => m(child) = parent
          }
        }
      }
      m.toMap
    }

    // per-finest counts and the rollup walk
    val finestStats = tuples.groupBy(_.values.head).view
      .mapValues(ts => (ts.map(_.cnt).sum, ts.map(_.sy).sum)).toMap
    var current: Map[String, String] = finestStats.keys.map(v => v -> v).toMap

    def bucketCounts: Map[String, Long] =
      current.toSeq.groupBy(_._2).view.mapValues(_.map(kv => finestStats(kv._1)._1).sum).toMap
    def rareOf(counts: Map[String, Long]): Seq[String] =
      counts.collect { case (b, c) if Stats.isSignificantlyBelow(c.toDouble, nobs, minFreq, alpha) => b }.toSeq

    var lvl = 0
    var continue = true
    while (continue && lvl < parentMaps.length) {
      val rare = rareOf(bucketCounts).toSet
      if (rare.isEmpty) continue = false
      else {
        val pm = parentMaps(lvl)
        val relabel = rare.iterator.flatMap(b => pm.get(b).map(b -> _)).toMap
        if (relabel.isEmpty) continue = false
        else current = current.view.mapValues(b => relabel.getOrElse(b, b)).toMap
      }
      lvl += 1
    }
    // terminal pooling into __OTHER__
    val terminalRare = rareOf(bucketCounts).toSet
    if (terminalRare.nonEmpty)
      current = current.view.mapValues(b => if (terminalRare(b)) BinaryCarver.OtherLabel else b).toMap

    val stats = current.toSeq.groupBy(_._2).view.mapValues { kvs =>
      val c = kvs.map(kv => finestStats(kv._1)._1.toDouble).sum
      val s = kvs.map(kv => finestStats(kv._1)._2).sum
      (c, s)
    }.toMap

    // bucket order: target-rate ascending when y given (mirrors the
    // CategoricalDiscretizer sort), else first-appearance
    val order: Vector[String] =
      if (sortByTarget) Prebin.targetRateOrder(stats)
      else current.values.toVector.distinct
    RollupResult(current, order, stats)
  }

  /** Fits the rollup for one nested hierarchy. `columns` is finest-first
    * (output column, then its parents, coarsest last).
    */
  def fit(
      df: DataFrame,
      columns: Seq[String],
      minFreq: Double,
      alpha: Double = 0.05,
      target: Option[String] = None
  ): Model = {
    require(columns.length >= 2, "nested feature needs the output column plus at least one parent")
    val finest = columns.head

    // one cluster pass: counts (+ sum y for the target-rate sort) per tuple
    val cols = columns.map(c => col(c).cast("string"))
    val aggs = count(lit(1)).as("cnt") +:
      target.map(t => sum(col(t).cast("double")).as("sy")).toSeq
    val rows = df.groupBy(cols: _*).agg(aggs.head, aggs.tail: _*).collect()
    val nobs = rows.map(_.getLong(columns.length)).sum

    // tuples with non-null finest value
    val tuples = rows.flatMap { r =>
      val vs = columns.indices.map(i => if (r.isNullAt(i)) null else r.getString(i)).toVector
      if (vs.head == null) None
      else Some(Tup(vs, r.getLong(columns.length),
        if (target.isEmpty || r.isNullAt(columns.length + 1)) 0.0 else r.getDouble(columns.length + 1)))
    }

    val res = rollupCore(columns, tuples.toSeq, nobs, minFreq, alpha, sortByTarget = target.isDefined)
    Model(finest, columns.tail, res.rawToBucket, res.order)
  }
}
