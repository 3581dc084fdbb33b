package graft

import java.nio.file.Files

/** The near-dup queries share one candidate set per data dir. Its frame
  * is bound to the session that asks for it, so a new session never gets
  * a frame of another (possibly stopped) session.
  */
class CandidateFrameSpec extends SparkSuite {
  import spark.implicits._

  test("a new session gets the shared candidate frame bound to its own session") {
    val dir = Files.createTempDirectory("graft_docs").toString
    // 60 documents of 20 shared words each: the queries add a truncated
    // copy of the first 50, so there are near-duplicate pairs to find
    val words = (0 until 400).map(i => s"w${i * 7919 % 1000}")
    (0 until 60).map(i => (i.toLong, (0 until 20).map(j => words((i * 13 + j) % words.length)).mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val other = spark.newSession()
    val mine = SparkEntry.queries("q_dedup_minhash")(spark, dir)
    val theirs = SparkEntry.queries("q_dedup_minhash")(other, dir)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    val pairs = mine.collect().toSet
    assert(pairs.nonEmpty && theirs.collect().toSet == pairs)
  }
}
