package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for web-scale corpora: exact (hash-groupBy),
  * MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash-partitioned groupBy on a 128-bit digest —
  *    shuffle carries (digest, id) only, never the text;
  *  - MinHash signatures are computed scan-side (one pass over text),
  *    then only (band_hash, id) pairs shuffle — k·bands longs per doc;
  *  - candidate pairs are generated per LSH bucket; bucket size is capped
  *    to keep the quadratic pair fan-out bounded on pathological buckets
  *    (boilerplate pages), mirroring production near-dup pipelines;
  *  - exact Jaccard verification re-joins texts only for candidate pairs
  *    (a tiny fraction of the corpus);
  *  - the shingle, MinHash and Jaccard kernels run on primitive `long[]`
  *    end to end ([[windowHashes]] → [[sortedShingles]] / [[minhashSig]]),
  *    inside codegen expressions (graft.transform.SignatureExprs) — no
  *    Scala UDF and no boxed shingle on any dedup scan.
  */
object Dedup {

  /** Exact duplicate groups: md5 of the raw text. Returns one row per
    * distinct text with the keeper id (min), duplicate count, and the
    * sorted duplicate id list.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(col(idCol)).as("keeper_id")
      )

  /** Keep one row per distinct text (min id wins) — the applied form of
    * exactGroups. Window-free formulation: partial-aggregated keeper set
    * (groupBy digest → min id, exactly [[exactGroups]]' shape) + semi join
    * back on (digest, id). At 100 TB the hottest digest (an empty or
    * boilerplate page duplicated ~10⁹×) pre-aggregates map-side instead of
    * funnelling every copy into ONE window task; the semi join carries the
    * 16-byte digest + id, never the text.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withDigest = df.withColumn("__md5", md5(col(textCol).cast("binary")))
    val keepers = withDigest
      .groupBy(col("__md5"))
      .agg(min(col(idCol)).as("__keep"))
    withDigest
      .join(keepers,
        withDigest("__md5") === keepers("__md5") && withDigest(idCol) === keepers("__keep"),
        "leftsemi")
      .drop("__md5")
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic 64-bit mix (splitmix64 finalizer) — the seed expander
    * for the MinHash permutation family. Pure, no RNG object.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash permutation parameters (a_i odd multiplier, b_i offset). */
  def perms(numHashes: Int, seed: Long = 42L): Array[(Long, Long)] =
    Array.tabulate(numHashes) { i =>
      (mix64(seed + 2L * i) | 1L, mix64(seed + 2L * i + 1))
    }

  // [[perms]] as two primitive arrays (multipliers, offsets), memoized per
  // config so each task expands the splitmix64 family once, not once per row
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  private def permsFor(numHashes: Int, seed: Long): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((numHashes, seed), _ => perms(numHashes, seed).unzip)

  /** MinHash signature of a bag of shingle hashes — the raw window hashes
    * of [[windowHashes]] or the distinct set of [[sortedShingles]] give the
    * same signature (a repeated hash cannot change a minimum). Pure Scala —
    * called from the signature expression and directly unit-testable.
    */
  def minhashSig(shingleHashes: Array[Long], numHashes: Int, seed: Long = 42L): Array[Long] = {
    val (mul, add) = permsFor(numHashes, seed)
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val a = mul(i); val b = add(i)
      var m = Long.MaxValue
      var j = 0
      while (j < shingleHashes.length) {
        val v = a * shingleHashes(j) + b
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  /** 64-bit FNV-1a over a string's Unicode CODE POINTS — shingle hash
    * shared by minhash/simhash/fingerprint. Code points (not UTF-16 code
    * units) so the value is portable across engines: the DuckDB oracle's
    * FNV SQL iterates `unicode(str[i])`, and supplementary-plane text
    * (emoji etc.) would diverge under per-char iteration.
    */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h ^= cp.toLong
      h *= 0x100000001b3L
      i += Character.charCount(cp)
    }
    h
  }

  /** FNV-1a hash of every k-char window of the normalized (lower-cased,
    * trimmed) text, repeats included, in window order; empty when the text
    * is null or shorter than k. Windows slide over UTF-16 units, so window
    * boundaries on supplementary-plane text differ from a code-point slicer
    * — the cross-engine shingle contract is BMP text (each hash itself is
    * code-point-faithful via [[fnvWindow]], which reads the parent string
    * with no substring).
    */
  def windowHashes(text: String, k: Int): Array[Long] = {
    val t = if (text == null) "" else text.toLowerCase.trim
    val nWin = t.length - k + 1
    if (nWin <= 0) return Array.emptyLongArray
    val out = new Array[Long](nWin)
    var i = 0
    while (i < nWin) { out(i) = fnvWindow(t, i, i + k); i += 1 }
    out
  }

  /** Distinct k-char shingle hashes in ascending (signed) order: the
    * window hashes, sorted and de-duplicated in place. The shingle set the
    * Jaccard verification merges.
    */
  def sortedShingles(text: String, k: Int): Array[Long] = {
    val w = windowHashes(text, k)
    java.util.Arrays.sort(w)
    var n = 0
    var i = 0
    while (i < w.length) {
      if (n == 0 || w(i) != w(n - 1)) { w(n) = w(i); n += 1 }
      i += 1
    }
    if (n == w.length) w else java.util.Arrays.copyOf(w, n)
  }

  /** FNV-1a of the code points in `s[start, end)` — exactly
    * `fnv1a(s.substring(start, end))` (a surrogate pair cut by the window
    * boundary hashes as the lone surrogate, as the substring would) without
    * materializing the substring.
    */
  private[dedup] def fnvWindow(s: String, start: Int, end: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = start
    while (j < end) {
      val c = s.charAt(j)
      var cp: Int = c
      var step = 1
      if (Character.isHighSurrogate(c) && j + 1 < end) {
        val c2 = s.charAt(j + 1)
        if (Character.isLowSurrogate(c2)) { cp = Character.toCodePoint(c, c2); step = 2 }
      }
      h ^= cp.toLong
      h *= 0x100000001b3L
      j += step
    }
    h
  }

  /** Add a `minhash` column: Array[Long] signature from k-char shingles,
    * via the codegen expression (no UDF boxing on the dedup family's
    * hottest scan). Null text → null signature (the former UDF emitted an
    * all-MaxValue signature there; both are dropped by the banding
    * quarantine's `!forall(== MaxValue)` filter, which is null-rejecting).
    */
  def withMinhash(
      df: DataFrame,
      textCol: String,
      numHashes: Int = 64,
      shingleK: Int = 5,
      seed: Long = 42L
  ): DataFrame =
    df.withColumn("minhash",
      graft.transform.MinhashSignature.column(col(textCol), numHashes, shingleK, seed))

  /** Durable signature checkpoint for the 100 TB path: at 10^11 docs the
    * 64-long signature frame is ~50 TB — `persist(MEMORY_AND_DISK)` puts
    * that in executor-local block-manager storage (lost with the executor,
    * re-shingled on failure). This writes `(id, minhash)` to a parquet
    * TABLE once, tagged with a config hash; any later run with the same
    * (numHashes, shingleK, seed) resumes from the table without touching
    * the text again. Returns the checkpointed `(id, minhash)` frame.
    *
    * INVALIDATION CONTRACT: the cache key is the signature CONFIG (plus
    * `datasetTag`), NOT the input data — that is what makes resume work
    * (a rerun must not re-shingle 100 TB just because the frame was
    * re-read). Running the same `table` against a DIFFERENT or updated
    * corpus therefore serves stale signatures unless the caller either
    * points at a fresh `table` or passes a `datasetTag` identifying the
    * input (source path, snapshot id, row count — anything that changes
    * when the data does).
    */
  def minhashCheckpointed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      table: String,
      numHashes: Int = 64,
      shingleK: Int = 5,
      seed: Long = 42L,
      datasetTag: String = ""
  ): DataFrame =
    // v2: null-text signature convention changed (all-MaxValue -> NULL) —
    // pre-change v1 tables would mix conventions if reused
    graft.tables.IcebergLite.cachedParquet(df.sparkSession, table,
      s"minhash:v2:$numHashes:$shingleK:$seed:$datasetTag") { dataPath =>
      withMinhash(df, textCol, numHashes, shingleK, seed)
        .select(col(idCol).as("id"), col("minhash"))
        .write.mode("overwrite").parquet(dataPath)
    }

  /** LSH candidate pairs: band the signature, bucket within bands, emit
    * unordered id pairs (a < b) with the estimated Jaccard from full
    * signature agreement. `maxBucket` caps pathological buckets.
    *
    * Shuffle discipline (this ran at 48% of the round-1 bench before the
    * rework): the band shuffle carries `(band_idx, band_hash, id)` ONLY —
    * never the 64-long signature (which would be ×bands copies of it) —
    * pairs are deduped across bands first, and the signatures are joined
    * back exactly once per distinct pair to score. Signatures are
    * persisted so the shingling runs one scan, not three.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 5,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      // optional durable signature table ([[minhashCheckpointed]]): at
      // corpus scale prefer it over executor-local persist — survives
      // executor loss and lets a killed dedup run resume without
      // re-shingling the corpus. See minhashCheckpointed's INVALIDATION
      // CONTRACT: the table is keyed by config + datasetTag, not the data.
      sigCheckpoint: Option[String] = None,
      datasetTag: String = ""
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sigs = sigCheckpoint match {
      case Some(table) =>
        minhashCheckpointed(df, idCol, textCol, table, numHashes, shingleK, seed, datasetTag)
      case None =>
        withMinhash(df, textCol, numHashes, shingleK, seed)
          .select(col(idCol).as("id"), col("minhash"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    // Empty-shingle docs (normalized text shorter than shingleK) all share
    // the degenerate all-Long.MaxValue signature, hence identical keys in
    // EVERY band: at web scale tens of millions of near-empty pages would
    // funnel into one bucket. They carry no shingle evidence, so LSH has
    // nothing to say about them — quarantine them out of banding entirely
    // (identical short texts still dedup via the exact path; see
    // [[nearDupComponents]]).
    val banded = sigs
      .filter(!forall(col("minhash"), v => v === lit(Long.MaxValue)))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band_idx"), xxhash64(slice(col("minhash"), b * rows + 1, lit(rows))).as("band_hash"))
        )).as("band"))
      .select(col("band.band_idx"), col("band.band_hash"), col("id"))

    // Cap membership BEFORE any aggregation buffer materializes: the
    // row_number window spills to disk per partition (WindowExec uses a
    // spillable buffer), whereas capping after collect_list would first
    // gather the ENTIRE bucket into one in-memory aggregation buffer —
    // OOM on a degenerate bucket. Keeps the maxBucket smallest ids,
    // identical to the previous slice(sort_array(...)) semantics.
    val wBucket = Window.partitionBy(col("band_idx"), col("band_hash")).orderBy(col("id").asc)
    val capped = banded
      .withColumn("__rn", row_number().over(wBucket))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")

    // one aggregation per bucket (already hash-partitioned by the window's
    // partitionBy, so this groupBy reuses the partitioning — no re-shuffle),
    // then intra-bucket pairs exploded from the list (no self-join)
    val buckets = capped
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairArr = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
        struct(x.as("id_a"), y.as("id_b")))))
    val cand = buckets
      .select(explode(pairArr).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    // signatures join back once per distinct pair; scored once
    cand
      .join(sigs.select(col("id").as("id_a"), col("minhash").as("mh_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("minhash").as("mh_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        (size(filter(zip_with(col("mh_a"), col("mh_b"), (x, y) => (x === y).cast("int")), v => v === 1))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard")
      )
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens (FNV-1a token hashes, unit
    * weights). Pure Scala core.
    */
  def simhashOf(text: String): Long = {
    if (text == null || text.trim.isEmpty) return 0L
    val acc = new Array[Int](64)
    text.toLowerCase.trim.split("\\s+").foreach { tok =>
      val h = fnv1a(tok)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", graft.transform.Simhash64.column(col(textCol)))

  /** SimHash near-dup candidates at Hamming distance <= maxHamming, found
    * by banding the 64-bit hash into (maxHamming+1) chunks (pigeonhole: any
    * pair within the bound agrees on at least one chunk exactly).
    *
    * Scale guards (same degenerate-bucket story as the MinHash path):
    * blank-text docs all share simhash 0 — identical band keys in EVERY
    * chunk — so they are quarantined out of banding (identical empty texts
    * belong to the exact-dedup path); and band-bucket membership is capped
    * at `maxBucket` with a spillable row_number window BEFORE the
    * self-join, bounding the quadratic pair fan-out on boilerplate-heavy
    * buckets.
    */
  def simhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000
  ): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val sigDf = withSimhash(df.filter(coalesce(length(trim(col(textCol))), lit(0)) > 0), textCol)
      .select(col(idCol).as("id"), col("simhash"))
    val bandStructs = (0 until chunks).map { c =>
      struct(
        lit(c).as("band_idx"),
        shiftrightunsigned(col("simhash"), c * width).bitwiseAND(lit((1L << width) - 1)).as("band_key")
      )
    }
    val wBucket = Window.partitionBy(col("band_idx"), col("band_key")).orderBy(col("id").asc)
    val banded = sigDf
      .withColumn("band", explode(array(bandStructs: _*)))
      .select(col("id"), col("simhash"), col("band.band_idx"), col("band.band_key"))
      .withColumn("__rn", row_number().over(wBucket))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn")
    val a = banded.select(col("band_idx"), col("band_key"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_idx"), col("band_key"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b")
      .agg(first("hamming").as("hamming"))
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact char-shingle Jaccard for given candidate pairs: joins the two
    * texts back in and computes |A∩B|/|A∪B| of the k-shingle sets per
    * row. This is the verification stage run after LSH candidate
    * generation — it touches only candidate pairs, never the full corpus
    * cross product. Both kernels are codegen expressions over primitive
    * long arrays ([[graft.transform.ShingleSet]],
    * [[graft.transform.SortedJaccard]]): null text is the empty set, and
    * two empty sets score 1.0.
    */
  def verifyPairsJaccard(
      pairs: DataFrame, // (id_a, id_b)
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5
  ): DataFrame = {
    // shingle ONCE per document (a doc in k candidate pairs would otherwise
    // be re-shingled k times — at boilerplate-heavy corpora k reaches the
    // hundreds); pairs then merge two sorted hash arrays in O(na+nb). The
    // merge is deterministic, so a caller's filter on `jaccard` is pushed
    // into the join condition and the merge runs twice per pair; the
    // shingling, not the merge, dominates this stage.
    // NOTE (r7, measured): a semi-join pre-filter of the shingled side on
    // the candidate id set was tried and REVERTED — the shrunken size
    // estimate made the planner broadcast the heavy shingle-array side
    // (shingling evaluated single-threaded inside the broadcast build: 4×
    // slower locally), and forcing a merge join instead shuffled+sorted the
    // arrays (8× slower). The shape below keeps the arrays unshuffled: the
    // planner broadcasts the (id-only) pair side when it fits and streams
    // the shingle scan in parallel tasks.
    val sh = df.select(col(idCol).as("__id"),
      graft.transform.ShingleSet.column(col(textCol), shingleK).as("__sh"))
    pairs
      .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", round(graft.transform.SortedJaccard.column(col("sh_a"), col("sh_b")), 6))
      .drop("sh_a", "sh_b")
  }

  // --------------------------------------------- near-dup connected components

  /** Connected components over a candidate-pair edge set — the APPLIED form
    * of near-dup detection: every document gets a `component` id (the
    * minimum doc id reachable through near-dup edges), so `component` is
    * the keeper and everything else in the component is droppable.
    *
    * Algorithm: iterative min-label propagation (the standard Hash-Min /
    * "small-star" connected components over DataFrame joins). Each
    * iteration is one broadcast-free shuffle join sized by |edges| and
    * converges in O(diameter) rounds — near-dup components are dense
    * near-cliques (a cluster of crawls of one page), so the diameter is
    * small and 5-15 rounds close web-scale graphs. Labels persist per
    * round and the loop stops when no label changes.
    *
    * @param nodes (id) — every document, including singletons
    * @param pairs (id_a, id_b) — undirected candidate edges
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // lineage MUST be cut every round: `labels` feeds the next iteration
    // twice (join + union), so without truncation the logical plan doubles
    // per round — 2^iter leaves; observed as a 2 GB plan string and an
    // analyzer death spiral at iteration ~20. The cut is
    // `localCheckpoint(eager)` by default (executor-local blocks — right
    // for local mode and fast clusters), but on a real multi-executor run a
    // lost executor late in a multi-round job would kill the whole
    // iteration; setting `spark.graft.cc.checkpointDir` routes every
    // per-round cut through a RELIABLE `checkpoint()` into that directory
    // (HDFS/S3 path on a cluster) so the iteration state survives executor
    // loss. Same plan shape either way.
    val spark = nodes.sparkSession
    val durableDir = spark.conf.getOption("spark.graft.cc.checkpointDir").filter(_.nonEmpty)
    durableDir.foreach(spark.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (durableDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    // both edge directions from ONE pass over `pairs` (a union of two
    // selects would evaluate the upstream pair-generation subplan — at
    // near-dup scale, the whole LSH pipeline — twice in the same job).
    // The edge count for the size gate below ticks a LongAccumulator inside
    // the cut's own job, the same always-true nondeterministic filter the
    // loop's convergence count uses: a retried task can only over-count,
    // which only sends a graph to the distributed path.
    val edgeCount = spark.sparkContext.longAccumulator("cc_edges")
    val countEdge = udf { () => edgeCount.add(1L); true }.asNondeterministic()
    val edges = cut(pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .filter(countEdge()))
    // Size-adaptive strategy (guide §3.1's broadcast-join principle applied
    // to iteration): the edge set is ALREADY bucket-capped upstream, and
    // when it fits comfortably on the driver, an O(E α(E)) union-find
    // replaces the whole multi-round join loop — each distributed round
    // costs 2 shuffle materializations regardless of |E|, pure overhead on
    // a small subgraph. Identical labels (component = min id, the same
    // value min-label propagation converges to). The distributed loop
    // remains the path for big graphs (threshold conf-overridable;
    // integer-id graphs only — Catalyst's min over strings is binary
    // UTF-8 order, which Scala's String ordering does not match on
    // supplementary-plane text).
    val localEdgeThreshold = spark.conf
      .getOption("spark.graft.cc.localEdgeThreshold").map(_.toLong).getOrElse(1000000L)
    val idIsIntegral = edges.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    // threshold <= 0 disables the local path
    if (idIsIntegral && localEdgeThreshold > 0 && edgeCount.value <= localEdgeThreshold) {
      val e = edges.select(col("src").cast("long"), col("dst").cast("long")).collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      e.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      // component label = min id of the set; roots were always linked
      // toward the smaller id, so find(x) IS the min member
      val comp = new java.util.HashMap[Long, Long]()
      e.foreach { r =>
        comp.put(r.getLong(0), find(r.getLong(0)))
        comp.put(r.getLong(1), find(r.getLong(1)))
      }
      val idField = nodes.schema.fields.head
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](comp.size())
      comp.forEach((id, c) => { rows.add(org.apache.spark.sql.Row(id, c)); () })
      val labelDf = spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__comp", org.apache.spark.sql.types.LongType))))
      return nodes.select(col(nodes.columns.head).cast("long").as("id"))
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id").cast(idField.dataType).as("id"),
          coalesce(col("__comp").cast(idField.dataType), col("id")).as("component"))
    }
    // Iterate on the EDGE-INDUCED subgraph only: every node outside it is
    // its own component and needs no propagation. In a near-dup graph the
    // edge endpoints are a (often small) fraction of the corpus, so each
    // round's joins/aggregations are sized by the duplicate clusters, not
    // by |corpus| — singletons rejoin once at the end (one outer join)
    // instead of riding every iteration.
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      // Convergence detection rides the round's own materialization: the
      // node's previous label is carried through the aggregation (each id
      // contributes its own label exactly once, so max("own") recovers it
      // with no extra join) and a LongAccumulator ticks inside the eager
      // localCheckpoint whenever a label changed. The earlier formulation
      // re-joined `next` against `labels` purely to count changes — one
      // extra |V|-sized shuffle join per round, 2 jobs -> 3. Accumulator
      // semantics are safe here: task retries can only inflate a non-zero
      // count, never turn a converged round (all ticks skipped) non-zero.
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_iter$iter")
      // each node adopts the min component among itself and its neighbours.
      // `own` is typed from the label column itself — ids can be any
      // orderable type (long, string URL keys, ...); hardcoding a long
      // here would silently null-cast string ids and collapse every
      // component to a singleton.
      val idType = labels.schema("component").dataType
      val msgs = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"), lit(null).cast(idType).as("own"))
        .unionByName(labels.select(col("id"), col("component"), col("component").as("own")))
      // materialized once per round; the jump side re-wraps the SAME cached
      // blocks with fresh attribute ids (self-joins of one plan trip the
      // analyzer's attribute dedup)
      val hop = cut(msgs.groupBy("id")
        .agg(min("component").as("component"), max("own").as("old")))
      val hopCopy = hop.sparkSession.createDataFrame(hop.rdd, hop.schema)
      // type-agnostic change detection: the null-safe comparison happens in
      // a column expression (works for any id type), and only a BOOLEAN
      // reaches the accumulator tick. The tick rides an always-true FILTER
      // marked nondeterministic so the optimizer can neither prune it (an
      // unused projected column would be column-pruned away) nor push it
      // below the localCheckpoint materialization.
      val tick = udf { (changed: Boolean) => if (changed) acc.add(1L); true }.asNondeterministic()
      // pointer jump (path halving): follow the label's own label — the
      // component ids ARE node ids, so one extra join per round turns
      // O(diameter) convergence into O(log diameter); long dup-chains
      // (serial near-identical crawl snapshots) stop dominating rounds
      val next = cut(hop
        .join(hopCopy.select(col("id").as("pid"), col("component").as("pcomp")),
          hop("component") === col("pid"), "left")
        .select(hop("id").as("id"),
          coalesce(col("pcomp"), hop("component")).as("component"), col("old"))
        .filter(tick(!(col("component") <=> col("old"))))
        .select(col("id"), col("component")))
      changed = acc.value
      labels = next
      iter += 1
    }
    // singletons (nodes with no edges) are their own component
    nodes.select(col(nodes.columns.head).as("id"))
      .join(labels.withColumnRenamed("component", "__comp"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
  }

  /** End-to-end near-dup grouping: MinHash-LSH candidates at
    * `minEstJaccard`, then connected components — returns
    * (id, component) for EVERY row of `df`.
    *
    * Docs whose normalized text is shorter than `shingleK` have no
    * shingles — [[minhashCandidatePairs]] quarantines them out of LSH
    * (degenerate all-identical signature). They still belong to dedup:
    * identical short texts are linked through the EXACT path here (one
    * md5-partitioned window over only the short subset — at web scale a
    * tiny digest-keyed shuffle, never the text).
    */
  def nearDupComponents(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minEstJaccard: Double = 0.5,
      shingleK: Int = 5,
      // precomputed LSH candidate pairs (id_a, id_b), e.g. shared with a
      // verification stage that already generated them — the production
      // pipeline computes candidates ONCE and feeds both verify and
      // clustering from the same set
      pairsPre: Option[DataFrame] = None
  ): DataFrame = {
    val pairs = pairsPre.getOrElse(
        minhashCandidatePairs(df, idCol, textCol, shingleK = shingleK)
          .filter(col("est_jaccard") >= minEstJaccard))
      .select(col("id_a"), col("id_b"))
    connectedComponents(df.select(col(idCol)),
      pairs.unionByName(shortTextEdges(df, idCol, textCol, shingleK)))
  }

  /** Star edges linking identical SHORT texts (below the shingle window) to
    * their min-id keeper — the exact-path complement of LSH inside
    * [[nearDupComponents]]. NULL text (missing / failed extraction) must
    * NOT link: all nulls share one md5 digest, which would merge every
    * extraction failure into a single "duplicate" cluster. Nulls stay
    * singletons.
    *
    * Window-free: groupBy(digest) → min id (map-side partial aggregation)
    * + join back — a boilerplate short text duplicated ~10⁹× at web scale
    * pre-aggregates per map task instead of funnelling every copy into ONE
    * window task (same rows as the former min().over(partitionBy(md5))
    * formulation; pinned window-free by PlanAuditSpec).
    */
  def shortTextEdges(df: DataFrame, idCol: String, textCol: String, shingleK: Int): DataFrame = {
    val normText = trim(lower(col(textCol)))
    val shorts = df
      .filter(col(textCol).isNotNull && length(normText) < shingleK)
      .select(col(idCol).as("id_b"), md5(normText.cast("binary")).as("__md5"))
    val shortKeepers = shorts.groupBy(col("__md5")).agg(min(col("id_b")).as("id_a"))
    shorts
      .join(shortKeepers, Seq("__md5"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Exact word n-gram Jaccard similarity for all pairs sharing at least
    * one n-gram (inverted-index join; rare-gram pruning via maxPostings).
    * At corpus scale run [[verifyPairsJaccard]] on LSH candidates instead —
    * this all-pairs form is quadratic in posting-list length.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.0,
      maxPostings: Int = 10000
  ): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val grams = df
      .select(
        col(idCol).as("id"),
        array_distinct(
          when(size(toks) < n, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(toks) - n), i =>
              concat_ws(" ", slice(toks, i + 1, lit(n)))
            ))
        ).as("grams")
      )
    val sizes = grams.select(col("id"), size(col("grams")).cast("long").as("n_grams"))
    // hot-gram pruning WITHOUT a window over the skewed gram key: a
    // `count().over(partitionBy(gram))` funnels every posting of a hot gram
    // (stopword trigrams — billions of rows at web scale) into ONE window
    // task just to be discarded. Instead the posting count aggregates with
    // map-side partial combine, and only the >maxPostings survivors — few
    // by construction (a corpus has a bounded set of stopword-grade grams)
    // — broadcast back as an anti-join, so the posting list is never
    // shuffled on the hot key at all; the self-join below then only ever
    // sees grams with bounded (≤ maxPostings) posting lists.
    val posting0 = grams.select(col("id"), explode(col("grams")).as("gram"))
    val hotGrams = posting0.groupBy(col("gram")).agg(count(lit(1)).as("pn"))
      .filter(col("pn") > maxPostings).select(col("gram"))
    val posting = posting0.join(broadcast(hotGrams), Seq("gram"), "left_anti")
    val inter = posting.select(col("gram"), col("id").as("id_a"))
      .join(posting.select(col("gram"), col("id").as("id_b")), Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_inter"), round(col("jaccard"), 6).as("jaccard"))
  }
}
