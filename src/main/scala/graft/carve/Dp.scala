package graft.carve

import scala.collection.mutable

/** Interval-DP search over consecutive partitions — the reference's
  * combination engine (`AutoCarver/combinations/utils/dp.py:91-118` and the
  * binary chi² instantiation
  * `combinations/binary/binary_combination_evaluators.py:376-485`).
  *
  * All driver-side: the inputs are per-modality aggregates (≤ ~200 rows per
  * feature at default knobs), never row-level data.
  */
object Dp {

  /** One scored candidate partition of the raw modality order. */
  final case class Candidate(
      combination: Vector[Vector[String]],
      cramerv: Double,
      tschuprowt: Double
  ) {
    def metric(sortBy: String): Double = if (sortBy == "cramerv") cramerv else tschuprowt
  }

  /** Top-`topK` consecutive partitions of `range(nMod)` into 2..`cap`
    * groups under an additive per-segment cost. Returns (k, cost, splits)
    * with splits = (0, s1, ..., nMod), per-k lists concatenated, NOT
    * globally sorted (mirrors `dp.py:top_k_partitions`). `skipCost` marks
    * excluded segments.
    */
  def topKPartitions(
      nMod: Int,
      cap: Int,
      segCost: (Int, Int) => Double,
      topK: Int,
      maximize: Boolean = true,
      skipCost: Option[Double] = None
  ): Vector[(Int, Double, Vector[Int])] = {
    val rows = topKNodes(nMod, cap, segCost, topK, maximize, skipCost)
    val out = Vector.newBuilder[(Int, Double, Vector[Int])]
    var k = 2
    while (k <= cap) {
      rows(k).foreach(e => out += ((k, e.cost, e.splits)))
      k += 1
    }
    out.result()
  }

  /** A DP cell candidate: the partition cost plus the parent-chain encoding
    * of its split points. Splits materialize lazily — the former
    * `splits :+ jj` per heap push copied a Vector per candidate EXTENSION
    * (O(nMod·topK) per cell) where only the candidates a caller actually
    * keeps (post-sort, post-`take(topK)`) ever need their splits.
    */
  final class Node private[Dp] (val cost: Double, private val parent: Node, private val j: Int) {
    /** (0, s1, ..., nMod) — identical to the former materialized vector. */
    def splits: Vector[Int] = {
      var acc: List[Int] = Nil
      var cur = this
      while (cur != null) { acc = cur.j :: acc; cur = cur.parent }
      (0 :: acc).toVector
    }
    /** Visit each (start, end) segment in ASCENDING split order — the same
      * order a loop over the materialized splits vector visits them (float
      * accumulations over segments must sum in the identical order) —
      * without building the vector. The chain is walked into a small
      * scratch array first (length ≤ groups + 1). */
    def foreachSegment(f: (Int, Int) => Unit): Unit = {
      var n = 0
      var cur = this
      while (cur != null) { n += 1; cur = cur.parent }
      val ends = new Array[Int](n)
      cur = this
      var i = n - 1
      while (cur != null) { ends(i) = cur.j; i -= 1; cur = cur.parent }
      var start = 0
      i = 0
      while (i < n) { f(start, ends(i)); start = ends(i); i += 1 }
    }
  }

  /** Layout-exact clone of scala.collection.mutable.PriorityQueue (1-based
    * array; enqueue = append+fixUp; dequeue = move-last-to-root+fixDown;
    * fixUp moves up while parent LT child, fixDown picks the GT child and
    * stops on parent GTEQ child) over parallel primitive keys. `key` must
    * be the value the former Ordering compared (−cost for maximize, cost
    * for minimize): Double.compare on it reproduces Ordering.by(±_.cost)
    * exactly, ±0.0 and NaN included. Both sifts move a hole instead of
    * swapping: the moving entry stays in locals, the entries it passes
    * shift one level, and it is written once where it stops. The compares
    * are the swap loop's own (the moving key is the one the swap loop
    * holds at the same index), so every operation leaves the identical
    * array layout. Capacity grows by doubling — growth never affects the
    * layout either.
    */
  private final class CostHeap(topK: Int) {
    private[this] var keys = new Array[Double](math.min(topK, 1024) + 2)
    private[this] var refs = new Array[Node](keys.length)
    private[this] var size0 = 1
    def size: Int = size0 - 1
    def headCost: Double = refs(1).cost
    def enqueue(key: Double, ref: Node): Unit = {
      if (size0 >= keys.length) {
        keys = java.util.Arrays.copyOf(keys, keys.length * 2)
        refs = java.util.Arrays.copyOf(refs, refs.length * 2)
      }
      var m = size0
      while (m > 1 && java.lang.Double.compare(keys(m / 2), key) < 0) {
        val h = m / 2
        keys(m) = keys(h)
        refs(m) = refs(h)
        m = h
      }
      keys(m) = key
      refs(m) = ref
      size0 += 1
    }
    def dequeue(): Node = {
      size0 -= 1
      val result = refs(1)
      val key = keys(size0)
      val ref = refs(size0)
      refs(size0) = null
      val n = size0 - 1
      var k = 1
      var done = false
      while (!done && n >= 2 * k) {
        var j = 2 * k
        if (j < n && java.lang.Double.compare(keys(j), keys(j + 1)) < 0) j += 1
        if (java.lang.Double.compare(key, keys(j)) >= 0) done = true
        else {
          keys(k) = keys(j)
          refs(k) = refs(j)
          k = j
        }
      }
      // on the last dequeue (n == 0) this rewrites the vacated root slot
      keys(k) = key
      refs(k) = ref
      result
    }
    /** dequeueAll (worst-first) reversed: the former
      * `heap.dequeueAll.toArray.reverse`. */
    def drainBestFirst(): Array[Node] = {
      val out = new Array[Node](size)
      var i = out.length - 1
      while (i >= 0) { out(i) = dequeue(); i -= 1 }
      out
    }
  }

  /** The top-K interval DP core: `rows(g)` (g = 2..cap; lower indices
    * empty) holds the top-`topK` g-group partitions of [0, nMod), ordered
    * metric-best first — exactly the per-k lists [[topKPartitions]]
    * concatenates, with splits still in parent-chain form so callers that
    * sort/truncate before reading splits skip the materialization.
    *
    * Rows g < cap fill every cell j = g..nMod, since row g + 1 reads them
    * all. The last row (g == cap) fills only its j = nMod cell: nothing
    * reads its other cells, and each cell's heap depends only on the
    * previous row, so the cell — and every returned list — is the one the
    * full row would hold. That last row is the widest (its previous row's
    * lists are the fullest), so at prebin granularity the trim removes
    * most of the DP's heap work.
    */
  def topKNodes(
      nMod: Int,
      cap: Int,
      segCost: (Int, Int) => Double,
      topK: Int,
      maximize: Boolean = true,
      skipCost: Option[Double] = None
  ): Array[Array[Node]] = {
    // dp rows: rows(g)(j) = top-K g-group partitions of [0, j), kept SORTED
    // (metric-best first). The sortedness lets the next row prune: extensions
    // of worse prefixes than the current K-th candidate can stop early.
    // `skipCost` as a primitive flag and value, so the per-segment test does
    // not box; `==` is Option.contains' test (NaN never skips, -0.0 == 0.0).
    val hasSkip = skipCost.isDefined
    val skip = if (hasSkip) skipCost.get else 0.0
    var prev: Array[Array[Node]] = Array.fill(nMod + 1)(Array.empty)
    var j = 1
    while (j <= nMod) {
      val c = segCost(0, j)
      if (!(hasSkip && c == skip)) prev(j) = Array(new Node(c, null, j))
      j += 1
    }
    val res: Array[Array[Node]] = Array.fill(cap + 1)(Array.empty)
    // bounded selection: a size-<=topK heap whose head is the WORST kept
    // entry. [[CostHeap]] clones scala's PriorityQueue layout under the
    // former `Ordering.by(±_.cost)` — same comparison results, same
    // layout, therefore the same kept SET and the same dequeue order
    // under cost ties — minus the per-sift Ordering dispatch and Double
    // boxing that dominated the DP at prebin granularity (nMod ~ 100 →
    // ~1.6M heap pushes per call).
    var g = 2
    while (g <= cap) {
      val row: Array[Array[Node]] = Array.fill(nMod + 1)(Array.empty)
      // the last row is read only at nMod (see the scaladoc)
      var jj = if (g == cap) math.max(g, nMod) else g
      while (jj <= nMod) {
        val heap = new CostHeap(topK)
        var i = g - 1
        while (i < jj) {
          val c = segCost(i, jj)
          if (!(hasSkip && c == skip)) {
            val prevEntries = prev(i)
            var p = 0
            var stop = false
            while (p < prevEntries.length && !stop) {
              val total = prevEntries(p).cost + c
              if (heap.size < topK) {
                heap.enqueue(if (maximize) -total else total, new Node(total, prevEntries(p), jj))
              } else if ((maximize && total > heap.headCost) || (!maximize && total < heap.headCost)) {
                heap.dequeue()
                heap.enqueue(if (maximize) -total else total, new Node(total, prevEntries(p), jj))
              } else {
                // prev entries are sorted best-first: all remaining are worse
                stop = true
              }
              p += 1
            }
          }
          i += 1
        }
        if (heap.size > 0) row(jj) = heap.drainBestFirst() // best-first
        jj += 1
      }
      res(g) = row(nMod)
      prev = row
      g += 1
    }
    res
  }

  /** Splits → raw-label groups (`dp.py:splits_to_combination`). */
  def splitsToCombination(splits: Vector[Int], rawIndex: Vector[String]): Vector[Vector[String]] =
    (0 until splits.length - 1).map(g => rawIndex.slice(splits(g), splits(g + 1))).toVector

  /** Content-keyed memo for top-K candidate lists, held by a
    * [[Search.Evaluator]]. The DP consumes only the crosstab/rank
    * aggregates — never the rate strategy — so fits that differ ONLY in
    * the rate (continuous target_mean vs target_median, ordinal ridit vs
    * level) re-run byte-identical DPs; keying the candidate vector by the
    * full DP input makes the second strategy's search driver-trivial. A
    * miss on ANY input difference (labels, counts, topK escalation level,
    * phase-2 merged bins) recomputes — no approximation. Thread-safe
    * (feature searches run in parallel futures).
    */
  final class CandMemo {
    private val m = new scala.collection.concurrent.TrieMap[Any, AnyRef]
    def getOrElseUpdate[T <: AnyRef](key: Any, compute: => T): T =
      m.getOrElseUpdate(key, compute).asInstanceOf[T]
    /** Entries held: one per distinct DP input. */
    private[carve] def size: Int = m.size
  }

  /** Threads of the dedicated pool for the chi²-style per-k DP runs. */
  private[carve] val dpPoolSize: Int = Runtime.getRuntime.availableProcessors

  /** Dedicated pool for the chi²-style per-k DP runs, fixed at one thread
    * per core. The per-feature searches already run as futures on the
    * global pool and BLOCK on their DP results, so the k-runs cannot share
    * that pool (all its workers could be blocked on tasks that never get a
    * thread); a fixed pool bounds the threads a wide fit starts, and
    * [[perKParallel]]'s caller runs whatever k no pool thread has started.
    */
  private lazy val dpPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(dpPoolSize, r => {
      val t = new Thread(r, "graft-dp")
      t.setDaemon(true)
      t
    })

  /** Run the independent per-k computations (k = 2..cap, each its own DP
    * under a k-dependent segment cost) concurrently and return the results
    * in ascending-k order — callers append them in that order, so the
    * output sequence is identical to the former serial loop. k = 3..cap go
    * to the pool; the calling thread runs k = 2, then every k a pool
    * thread has not started yet, so its progress never waits on a free
    * pool thread. A failing k-run rethrows its own exception, not the
    * `ExecutionException` wrapper.
    */
  private[carve] def perKParallel[T](cap: Int)(runK: Int => T): Vector[T] = {
    if (cap < 2) return Vector.empty
    if (cap == 2) return Vector(runK(2))
    val tasks = (2 to cap).map(k => new java.util.concurrent.FutureTask[T](() => runK(k)))
    tasks.tail.foreach(dpPool.execute)
    tasks.foreach(_.run()) // a no-op for a task a pool thread has started
    try tasks.map(_.get()).toVector
    catch { case e: java.util.concurrent.ExecutionException if e.getCause != null => throw e.getCause }
  }

  /** Binary chi² top-K DP (`binary_combination_evaluators.py:376-485`):
    * per-k interval DP over the closed-form chi² cell contributions with
    * the `+tol` shift folded into the marginals and Yates iff k==2;
    * results translated to quantised Cramér's V / Tschuprow's T and sorted
    * by `sortBy` desc, truncated to topK.
    */
  def chi2TopKPartitions(
      n0PerMod: Array[Double],
      n1PerMod: Array[Double],
      maxNMod: Int,
      rawIndex: Vector[String],
      sortBy: String = "tschuprowt",
      topK: Int = 2000,
      tol: Double = 1e-10
  ): Vector[Candidate] = {
    require(sortBy == "cramerv" || sortBy == "tschuprowt", s"bad sortBy $sortBy")
    val nMod = rawIndex.length
    val cap = math.min(maxNMod, nMod)
    if (cap < 2) return Vector.empty

    val n0Prefix = n0PerMod.scanLeft(0.0)(_ + _)
    val n1Prefix = n1PerMod.scanLeft(0.0)(_ + _)
    val n0Total = n0Prefix.last
    val n1Total = n1Prefix.last
    val nObs = n0Total + n1Total

    // (sortKey, cramerv_q, tt_q, node) — splits materialize only for the
    // candidates surviving the global sort + take(topK) below. The
    // per-kGroups segCost (tol marginals + Yates iff k==2) makes each k
    // its own independent DP; only the k == kGroups row is consumed, so
    // ask the DP core for its rows and read just the last — and run the
    // k-runs concurrently (results appended in ascending-k order, so the
    // emission sequence matches the former serial loop exactly).
    val all = mutable.ArrayBuffer.empty[(Double, Double, Double, Node)]
    perKParallel(cap) { kGroups =>
      val c0 = n0Total + kGroups * tol
      val c1 = n1Total + kGroups * tol
      val nWithTol = n0Total + n1Total + 2.0 * kGroups * tol
      val yates = kGroups == 2
      def segCost(i: Int, j: Int): Double = {
        var obs0 = (n0Prefix(j) - n0Prefix(i)) + tol
        var obs1 = (n1Prefix(j) - n1Prefix(i)) + tol
        val r = obs0 + obs1
        val e0 = r * c0 / nWithTol
        val e1 = r * c1 / nWithTol
        if (yates) {
          val d0 = e0 - obs0
          val d1 = e1 - obs1
          obs0 = obs0 + (if (d0 > 0) 1.0 else if (d0 < 0) -1.0 else 0.0) * math.min(0.5, math.abs(d0))
          obs1 = obs1 + (if (d1 > 0) 1.0 else if (d1 < 0) -1.0 else 0.0) * math.min(0.5, math.abs(d1))
        }
        (obs0 - e0) * (obs0 - e0) / e0 + (obs1 - e1) * (obs1 - e1) / e1
      }
      (kGroups, topKNodes(nMod, kGroups, segCost, topK, maximize = true)(kGroups))
    }.foreach { case (kGroups, entries) =>
      val denom = math.pow(kGroups - 1.0, 0.25)
      entries.foreach { e =>
        val cramervQ = Stats.quantize(math.sqrt(e.cost / nObs), tol)
        val ttQ = Stats.quantize(cramervQ / denom, tol)
        val sortKey = if (sortBy == "tschuprowt") ttQ else cramervQ
        all += ((sortKey, cramervQ, ttQ, e))
      }
    }
    val top = all.sortBy(-_._1).take(topK)
    top.iterator.map { case (_, cv, tt, e) =>
      Candidate(splitsToCombination(e.splits, rawIndex), cv, tt)
    }.toVector
  }

  /** Closed-form V/T for one arbitrary grouping of the full modality set
    * (`binary_combination_evaluators.py:_chi2_assoc_for_combination`):
    * bincount per group (first-appearance group ids, unmapped modalities
    * become singletons), `+tol` shift, chi², quantised V/T.
    */
  def chi2AssocForCombination(
      n0PerMod: Array[Double],
      n1PerMod: Array[Double],
      nObs: Double,
      modToPos: Map[String, Int],
      combination: Vector[Vector[String]],
      tol: Double = 1e-10
  ): (Double, Double) = {
    val nMod = modToPos.size
    val assign = new Array[Int](nMod)
    val assigned = new Array[Boolean](nMod)
    // group ids in combination order (= the reference dict's insertion order)
    var gid = 0
    combination.foreach { group =>
      group.foreach { mod =>
        modToPos.get(mod).foreach { pos => assign(pos) = gid; assigned(pos) = true }
      }
      gid += 1
    }
    var nGroups = gid
    var pos = 0
    while (pos < nMod) {
      if (!assigned(pos)) { assign(pos) = nGroups; nGroups += 1 }
      pos += 1
    }
    val n0g = new Array[Double](nGroups)
    val n1g = new Array[Double](nGroups)
    var i = 0
    while (i < nMod) {
      n0g(assign(i)) += n0PerMod(i)
      n1g(assign(i)) += n1PerMod(i)
      i += 1
    }
    val obs = Array.tabulate(nGroups)(g => Array(n0g(g) + tol, n1g(g) + tol))
    val chi2 = Stats.pearsonChi2(obs)
    Stats.cramervTschuprowt(chi2, nObs, nGroups, 2, tol)
  }

  /** NaN fan-out variants of base partitions (`dp.py:nan_fanout_variants`):
    * nan folded into each group; nan alone iff len(base) < maxNMod; finally
    * the all-vs-nan partition once.
    */
  def nanFanoutVariants(
      basePartitions: Vector[Vector[Vector[String]]],
      nanLabel: String,
      rawLabels: Vector[String],
      maxNMod: Int
  ): Iterator[Vector[Vector[String]]] = {
    val perBase = basePartitions.iterator.flatMap { base =>
      val folded = base.indices.iterator.map { j =>
        base.updated(j, base(j) :+ nanLabel)
      }
      if (base.length < maxNMod) folded ++ Iterator(base :+ Vector(nanLabel))
      else folded
    }
    perBase ++ Iterator(Vector(rawLabels, Vector(nanLabel)))
  }
}
