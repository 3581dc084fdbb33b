package graftbench

import graft.carve.BinaryCarver.FittedFeature

/** Driver-side reference computations the benchmark checks the program's
  * outputs against. Written independently of the engine's own kernels
  * (linear scans and plain string sets), so a bug in a kernel cannot also
  * hide in its check.
  */
object Reference {

  /** Bin code of a raw value under a fitted feature: quantitative values go
    * to the first prebin whose upper edge is >= the value, categorical
    * values through the value map with the default bucket as fallback.
    * `None` is a null bin code.
    */
  def bin(f: FittedFeature, v: Any): Option[Int] = {
    val missing = v == null || (v match { case d: Double => d.isNaN; case _ => false })
    if (missing) { if (f.nanBin >= 0) Some(f.nanBin) else None }
    else if (f.kind == "quantitative") {
      val x = v match { case n: java.lang.Number => n.doubleValue(); case s => s.toString.toDouble }
      var i = 0
      while (i < f.prebinEdges.length && f.prebinEdges(i) < x) i += 1
      Some(f.prebinToBin(i))
    } else {
      val raw = v.toString
      val s = if (raw.matches("-?\\d+\\.0")) raw.dropRight(2) else raw
      f.valueToBin.get(s).orElse(if (f.otherBin >= 0) Some(f.otherBin) else None)
    }
  }

  /** Rows per bin of `values` under the fitted feature. */
  def binCounts(f: FittedFeature, values: Seq[Any]): Array[Long] = {
    val counts = new Array[Long](f.nBins)
    values.foreach(v => bin(f, v) match {
      case Some(b) if b >= 0 && b < counts.length => counts(b) += 1
      case _ => ()
    })
    counts
  }

  /** Summed difference, over the bins, between the rows the model counts
    * and the rows the reference counts.
    */
  def binCountDiff(f: FittedFeature, values: Seq[Any]): Double =
    binCounts(f, values).zipWithIndex.map { case (c, b) => math.abs(f.rates(b).count - c) }.sum

  /** Two-sided 95% Wilson score upper bound of count / n. */
  def wilsonUpper(count: Double, n: Long): Double = {
    if (n <= 0) return 1.0
    val z = 1.959963984540054
    val nn = n.toDouble
    val p = count / nn
    val denom = 1 + z * z / nn
    val center = (p + z * z / (2 * nn)) / denom
    val half = z / denom * math.sqrt(p * (1 - p) / nn + z * z / (4 * nn * nn))
    math.min(1.0, center + half)
  }

  /** Failures of the min-frequency rule for one kept feature over the
    * train values: every bin's share must not be significantly below
    * `minFreq`, and each bin's count must equal the one the model reports.
    */
  def minFreqFailures(f: FittedFeature, minFreq: Double, values: Seq[Any]): Seq[String] = {
    val counts = binCounts(f, values)
    val n = counts.sum
    val out = Seq.newBuilder[String]
    counts.zipWithIndex.foreach { case (c, b) =>
      if (wilsonUpper(c.toDouble, n) < minFreq)
        out += s"${f.name} bin $b holds $c of $n rows, significantly below min_freq $minFreq"
      val reported = f.rates(b).count
      if (math.abs(reported - c) > 1e-9)
        out += s"${f.name} bin $b: model counts $reported rows, reference counts $c"
    }
    out.result()
  }

  /** Distinct k-character shingles of the lower-cased, trimmed text. */
  def shingles(text: String, k: Int): Set[String] = {
    val t = if (text == null) "" else text.toLowerCase.trim
    (0 to t.length - k).map(i => t.substring(i, i + k)).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** Minimum-id labels of the connected components of an edge list. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (parent.getOrElse(y, y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
