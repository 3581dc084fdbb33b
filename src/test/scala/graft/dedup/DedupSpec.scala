package graft.dedup

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again"),       // near dup of 1
    (4L, "completely different content about distributed query engines at scale"),
    (5L, "")
  ).toDF("id", "text")

  test("exactGroups groups identical texts and keeps min id") {
    val g = Dedup.exactGroups(docs, "id", "text")
      .filter(col("n_dups") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_dups") == 2 && g(0).getAs[Long]("keeper_id") == 1L)
    assert(Dedup.dropExactDuplicates(docs, "id", "text").count() == 4)
  }

  test("minhash signature is deterministic and jaccard-faithful") {
    val s1 = Dedup.minhashSig(Dedup.sortedShingles("the quick brown fox jumps over the lazy dog", 5), 64)
    val s2 = Dedup.minhashSig(Dedup.sortedShingles("the quick brown fox jumps over the lazy dog", 5), 64)
    assert(s1.sameElements(s2))
    val s3 = Dedup.minhashSig(Dedup.sortedShingles("totally unrelated string with nothing shared", 5), 64)
    val estSame = s1.zip(s3).count { case (a, b) => a == b } / 64.0
    assert(estSame < 0.2)
  }

  test("minhash LSH finds exact and near duplicates") {
    val pairs = Dedup.minhashCandidatePairs(docs, "id", "text")
      .filter(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash hamming distance small for near dups, large for different docs") {
    val h1 = Dedup.simhashOf(docs.filter($"id" === 1).head().getString(1))
    val h3 = Dedup.simhashOf(docs.filter($"id" === 3).head().getString(1))
    val h4 = Dedup.simhashOf(docs.filter($"id" === 4).head().getString(1))
    assert(java.lang.Long.bitCount(h1 ^ h3) <= 8)
    assert(java.lang.Long.bitCount(h1 ^ h4) > 8)
  }

  test("ngram jaccard: exact dup = 1.0; near dup high; different low") {
    val m = Dedup.ngramJaccardPairs(docs, "id", "text", n = 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 2L)) == 1.0)
    assert(m((1L, 3L)) > 0.6)
    assert(!m.contains((1L, 4L)))
  }

  test("connectedComponents: chains merge, singletons stay, keeper is the min id") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 1-2-3, pair 4-5, singleton 9
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L), comp.toString)
  }

  test("LSH quarantines empty-shingle docs: 100k identical short docs emit zero pairs") {
    // every sub-5-char doc has the degenerate all-Long.MaxValue signature —
    // identical band keys in ALL 16 bands. Without the pre-banding
    // quarantine + pre-aggregation cap these would funnel 100k ids into a
    // single collect_list buffer. With it, they never reach banding at all.
    val short = spark.range(100000).select(col("id"), lit("ab").as("text"))
    val pairs = Dedup.minhashCandidatePairs(short, "id", "text")
    assert(pairs.count() == 0L)
  }

  test("bucket cap is applied pre-aggregation and keeps the smallest ids") {
    // 50 identical long texts, cap 10 -> every band's bucket caps to the
    // same 10 smallest ids -> C(10,2)=45 distinct pairs, all est=1.0
    val txt = "identical boilerplate page content repeated across many crawled urls"
    val dups = (0 until 50).map(i => (i.toLong, txt)).toDF("id", "text")
    val pairs = Dedup.minhashCandidatePairs(dups, "id", "text", maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == 45, s"got ${pairs.length}")
    assert(pairs.forall { case (a, b) => a < 10 && b < 10 && a < b })
  }

  test("simhash banding quarantines blank docs and caps degenerate buckets") {
    // 50k blank docs all share simhash 0 (identical band keys in every
    // chunk): without the quarantine the band self-join fans out ~10^9 pairs
    val blank = spark.range(50000).select(col("id"), lit("   ").as("text"))
    assert(Dedup.simhashCandidatePairs(blank, "id", "text").count() == 0L)
    // identical non-blank texts: cap 10 -> C(10,2)=45 pairs of smallest ids
    val txt = "identical boilerplate body repeated across very many crawled pages"
    val dups = (0 until 50).map(i => (i.toLong, txt)).toDF("id", "text")
    val pairs = Dedup.simhashCandidatePairs(dups, "id", "text", maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == 45, s"got ${pairs.length}")
    assert(pairs.forall { case (a, b) => a < 10 && b < 10 && a < b })
  }

  test("nearDupComponents routes identical short docs through the exact path") {
    val docs = Seq(
      (1L, "hi"), (2L, "hi"), (3L, "hi"),   // identical short texts: one component
      (4L, "yo"),                             // different short text: singleton
      (5L, "a normal length document about web scale near duplicate detection")
    ).toDF("doc_id", "text")
    val comp = Dedup.nearDupComponents(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L), comp.toString)
  }

  test("connectedComponents runs <=2 jobs per iteration (no separate convergence join)") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    // AQE materializes each shuffle stage as its own job, and a broadcast
    // join submits a separate build job — both would make the count reflect
    // physical stage structure, not algorithm rounds. Pin both off so one
    // eager localCheckpoint == one job; force the DISTRIBUTED loop (this
    // test pins the loop's job budget; the size-adaptive driver union-find
    // would short-circuit it)
    val (jobs, comp) = countJobs(SparkSuite.OneJobPerAction :+ ("spark.graft.cc.localEdgeThreshold" -> "0"): _*)(
      Dedup.connectedComponents(nodes, pairs))
    // setup: edges + initial labels checkpoints (2 jobs); this graph
    // converges in 2 iterations (one that changes labels, one that
    // verifies no change) at <=2 jobs each -> <=6 total. The old
    // formulation's extra per-round convergence join would make it 8.
    assert(jobs <= 6, s"ran $jobs jobs")
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("minhash signature checkpoint: a rerun resumes without re-shingling") {
    val table = java.nio.file.Files.createTempDirectory("graft_sigs").toString
    val a = Dedup.minhashCheckpointed(docs, "id", "text", table)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    // second run over a POISONED frame (every text changed): identical
    // signatures come back, proving the run read the durable table and
    // never touched the text again
    val poisoned = docs.withColumn("text", concat(col("text"), lit(" POISON")))
    val b = Dedup.minhashCheckpointed(poisoned, "id", "text", table)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(a == b)
    assert(a.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // a different signature CONFIG invalidates the checkpoint and recomputes
    val c = Dedup.minhashCheckpointed(poisoned, "id", "text", table, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(c != a)
    // and the candidate-pair path accepts the checkpoint in place of persist
    val pairs = Dedup.minhashCandidatePairs(docs, "id", "text", sigCheckpoint = Some(table))
    assert(pairs.count() >= 0)
  }

  test("primitive shingle set matches the substring+toSet formulation (unicode included)") {
    val texts = Seq("the quick brown fox jumps", "aaaaaaaa", "ab", "", null,
      "emoji 😀😁 mixed 😀 text", "ümläut tõkens",
      "x😀y") // surrogate pair cut by a window boundary
    for (t <- texts; k <- Seq(2, 5)) {
      val got = Dedup.sortedShingles(t, k).toVector
      assert(got.zip(got.drop(1)).forall { case (a, b) => a < b }, s"not strictly ascending: k=$k text=$t")
      val tt = if (t == null) "" else t.toLowerCase.trim
      val want =
        if (tt.length < k) Vector.empty[Long]
        else (0 to tt.length - k).map(i => Dedup.fnv1a(tt.substring(i, i + k))).toSet.toVector.sorted
      assert(got == want, s"k=$k text=$t")
    }
  }

  test("minhash over the raw window hashes (repeats included) equals minhash over the distinct set") {
    val texts = Seq("aaaaaaaaaaaa", "abcabcabcabcabc", "the quick brown fox the quick brown fox",
      "emoji 😀😁 mixed 😀 text", "ab", "", null)
    for (t <- texts; k <- Seq(2, 5)) {
      val windows = Dedup.windowHashes(t, k)
      val set = Dedup.sortedShingles(t, k)
      assert(windows.toSet == set.toSet, s"k=$k text=$t")
      assert(Dedup.minhashSig(windows, 64).toSeq == Dedup.minhashSig(set, 64).toSeq, s"k=$k text=$t")
    }
    // repeats really occur in the window array
    assert(Dedup.windowHashes("aaaaaaaaaaaa", 5).length > Dedup.sortedShingles("aaaaaaaaaaaa", 5).length)
  }

  test("verifyPairsJaccard plans hold no Scala UDF (fixed pairs and LSH-candidate shapes)") {
    // a range-backed frame: the optimizer would fold the shingle projection
    // of an in-memory LocalRelation into constants before planning
    val texts = spark.range(12).select(col("id").as("doc_id"),
      concat(lit("page "), col("id"), lit(" " + "shared boilerplate about near duplicate pages " * 3),
        lit("end "), (col("id") % 3).cast("string")).as("text"))
    // fixed id pairs, as q_jaccard_verify runs it
    val fixed = texts.select(col("doc_id").as("id_a")).filter(col("id_a") < 8)
      .withColumn("id_b", col("id_a") + 1)
    val verifyFixed = Dedup.verifyPairsJaccard(fixed, texts, "doc_id", "text")
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // LSH candidates with a filter on the score, as q_ngram_jaccard runs it
    val cands = Dedup.minhashCandidatePairs(texts, "doc_id", "text").select(col("id_a"), col("id_b"))
    val verifyCands = Dedup.verifyPairsJaccard(cands, texts, "doc_id", "text")
      .filter(col("jaccard") >= 0.3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    for ((name, df) <- Seq("fixed pairs" -> verifyFixed, "LSH candidates" -> verifyCands)) {
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("UDF("), s"$name plan:\n$plan")
      assert(plan.contains("shingle_set(") && plan.contains("sorted_jaccard("), s"$name plan:\n$plan")
    }
  }

  test("connectedComponents: durable checkpoint path completes with identical components") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.cc.checkpointDir", dir)
    // the durable cut only exists on the distributed loop — force it
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val comp = Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L), comp.toString)
      // the per-round cuts really went through the RELIABLE checkpoint dir
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).count()
      assert(files > 1, "no reliable checkpoint data written")
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    }
  }

  test("connectedComponents: driver union-find agrees with the distributed loop") {
    import spark.implicits._
    // deterministic pseudo-random graph: chains, a star, cross links,
    // singletons — big enough to exercise path compression
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(300).toLong; val b = rnd.nextInt(300).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val nodes = (0L until 320L).toDF("id")
    val pairs = edges.toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    val dist =
      try Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    assert(local == dist)
  }

  test("connectedComponents: E edges at threshold E run locally with no count job, E - 1 go distributed") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val e = 6L // the gate counts both directions of every pair
    // jobs and components at one threshold, AQE and broadcast joins off so
    // one eager cut is one job
    def run(threshold: Long): (Int, Map[Long, Long]) = {
      val (jobs, comp) = countJobs(
        SparkSuite.OneJobPerAction :+ ("spark.graft.cc.localEdgeThreshold" -> threshold.toString): _*)(
        Dedup.connectedComponents(nodes, pairs))
      (jobs, comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val (localJobs, local) = run(e)
    val (distJobs, dist) = run(e - 1)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    assert(dist == local)
    // local: the edge cut and the edge collect; a separate count job would make it 3
    assert(localJobs == 2, s"local path ran $localJobs jobs")
    assert(distJobs > localJobs, s"threshold ${e - 1} ran $distJobs jobs: not the distributed loop")
  }

  test("connectedComponents is id-type generic: string (URL) keys converge, no silent cast") {
    import spark.implicits._
    // a URL-keyed corpus: chain a-b-c, pair d-e, singleton f. Before the
    // type fix the long-typed `own`/tick null-cast every string id →
    // every node silently became its own singleton with no error.
    val nodes = Seq("url://a", "url://b", "url://c", "url://d", "url://e", "url://f").toDF("id")
    val pairs = Seq(("url://b", "url://a"), ("url://b", "url://c"), ("url://d", "url://e"))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map(
      "url://a" -> "url://a", "url://b" -> "url://a", "url://c" -> "url://a",
      "url://d" -> "url://d", "url://e" -> "url://d", "url://f" -> "url://f"), comp.toString)
  }

  test("nearDupComponents: null texts stay singletons (extraction failures never link)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, "ab"), (6L, "ab")
    ).toDF("doc_id", "text")
    val comp = Dedup.nearDupComponents(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == comp(2L))          // real dups link
    assert(comp(5L) == comp(6L))          // identical short texts link (exact path)
    assert(comp(3L) == 3L && comp(4L) == 4L, comp.toString) // nulls never link
  }

  test("nearDupComponents: planted truncated dups land in their original's component") {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      val text = s"document number $i " + ("lorem ipsum dolor sit amet consectetur " * 6) + s"tail $i"
      (i.toLong, text)
    }
    val dups = docs.take(8).map { case (i, t) => (i + 1000L, t.dropRight(9)) }
    val all = (docs ++ dups).toDF("doc_id", "text")
    val comp = Dedup.nearDupComponents(all, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 48)
    (0 until 8).foreach { i =>
      assert(comp(i + 1000L) == comp(i.toLong), s"dup of $i not grouped")
    }
  }
}
