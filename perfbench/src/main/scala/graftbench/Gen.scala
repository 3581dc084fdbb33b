package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own input generator. Every value is a pure function of
  * (seed, entity id), so the same seed gives the same rows at any
  * parallelism, and the program under test only ever sees the generated
  * frames.
  */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x632be59bd9b4e019L + id)))

  /** A fixed synthetic vocabulary (independent of the seed): consonant-vowel
    * syllables, so 5-character shingles of unrelated documents rarely meet.
    */
  val vocab: Array[String] = {
    val r = new SplittableRandom(20240101L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < 6000) {
      val n = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until n).foreach { _ => sb.append(cons.charAt(r.nextInt(cons.length))).append(vow.charAt(r.nextInt(vow.length))) }
      if (r.nextInt(3) == 0) sb.append(cons.charAt(r.nextInt(cons.length)))
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  /** Zipf(s) sampler over `n` ranks by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      lo
    }
  }

  private val wordZipf = new Zipf(vocab.length, 0.9)

  def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(vocab(wordZipf.sample(r)))

  // ------------------------------------------------------------ page crawl

  val DaySec: Long = 86400L
  val Epoch0: Long = 1704067200L // 2024-01-01T00:00:00Z, day 0 of every crawl

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", StringType), StructField("text", StringType), StructField("lang", StringType)))

  private val langs = Array("en", "en", "en", "en", "en", "de", "de", "fr", "es", "ja", "pt", "it")

  /** Host, language and text length class of a url: fixed per url. */
  private final case class UrlInfo(host: Int, lang: String, long: Boolean)

  private def urlInfo(seed: Long, url: Long, nHosts: Int): UrlInfo = {
    val r = rng(seed, 1, url)
    val u = r.nextDouble()
    val h = math.min(nHosts - 1, (nHosts * u * u * u).toInt) // cubic: a few hosts hold most urls
    val lr = r.nextDouble()
    val lang = if (lr > 0.992) s"x${r.nextInt(6)}" else langs(r.nextInt(langs.length))
    UrlInfo(h, lang, r.nextDouble() < 0.45)
  }

  private def page(seed: Long, url: Long, crawl: Int, day: Int, nHosts: Int): Row = {
    val info = urlInfo(seed, url, nHosts)
    val r = rng(seed, 2, url * 16 + crawl)
    val n = if (info.long) 60 + r.nextInt(120) else 12 + r.nextInt(50)
    val text = words(r, n).mkString(" ")
    val ts = new Timestamp((Epoch0 + day * DaySec + r.nextInt(24) * 3600L) * 1000L)
    val html = s"<html><head><title>p$url</title></head><body><div class=\"c\"><p>$text</p></div></body></html>"
    Row(s"https://h${info.host}.example/p/$url", ts, html, text, info.lang)
  }

  /** The crawl history: `nUrls` urls over days [0, days), each url crawled
    * 1..5 times on distinct days.
    */
  def pages(spark: SparkSession, seed: Long, nUrls: Int, nHosts: Int, days: Int, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      (p.toLong until nUrls.toLong by parts.toLong).iterator.flatMap { url =>
        val r = rng(seed, 3, url)
        val crawls = 1 + r.nextInt(5)
        val ds = Iterator.continually(r.nextInt(days)).distinct.take(math.min(crawls, days)).toArray.sorted
        ds.iterator.zipWithIndex.map { case (d, c) => page(seed, url, c, d, nHosts) }
      }
    }
    spark.createDataFrame(rdd, pageSchema)
  }

  /** One crawl day `day` for the ingest cycle: about `recrawl` re-crawls
    * of history urls and `fresh` urls first seen that day, one row per url.
    */
  def crawlDay(spark: SparkSession, seed: Long, nUrls: Int, nHosts: Int, day: Int, recrawl: Int, fresh: Int,
      parts: Int): DataFrame = {
    val share = recrawl.toDouble / nUrls
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val again = (p until nUrls by parts).iterator
        .filter(u => rng(seed, 4, day.toLong * 1000003L + u).nextDouble() < share)
        .map(u => page(seed, u.toLong, 8 + day % 8, day, nHosts))
      val first = (p until fresh by parts).iterator
        .map(i => page(seed, nUrls.toLong + day.toLong * fresh + i, 0, day, nHosts))
      again ++ first
    }
    spark.createDataFrame(rdd, pageSchema)
  }

  // ------------------------------------------------------------ carve frame

  val carveQuants: Seq[String] = Seq("q_signal", "q_nan", "q_tail")
  val carveQuals: Seq[String] = Seq("c_zipf", "c_wide")

  val carveSchema: StructType = StructType(
    Seq(StructField("fit", StringType), StructField("id", LongType)) ++
      carveQuants.map(StructField(_, DoubleType)) ++
      carveQuals.map(StructField(_, StringType)) ++
      Seq(StructField("y", IntegerType), StructField("y_cont", DoubleType), StructField("y_int", DoubleType),
        StructField("y_ord", IntegerType), StructField("y_class", StringType)))

  private val zipf14 = new Zipf(14, 1.3)
  private val zipf40 = new Zipf(40, 1.1)

  /** A tabular frame with missing values, rare categories and five
    * targets: binary `y`, high-cardinality continuous `y_cont`,
    * low-cardinality `y_int` (exact-median side of the gate), ordinal
    * `y_ord` and three-class `y_class`. One frame per name in `fits`, each
    * drawn from its own stream, tagged by a `fit` column. In the frames of
    * `nanFits` half of the missing values are `Double.NaN` and half null;
    * in the others all are null.
    */
  def carveFrame(spark: SparkSession, seed: Long, op: Int, fits: Seq[String], rows: Int, parts: Int,
      nanFits: Set[String]): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      fits.zipWithIndex.iterator.flatMap { case (fit, k) =>
        val nan = nanFits(fit)
        (p until rows by parts).iterator.map { i =>
          val r = rng(seed, 100 + op.toLong * 16 + k, i.toLong)
          val s = r.nextDouble() * 2 - 1 + 0.6 * gauss(r)
          val cz = zipf14.sample(r)
          val cw = zipf40.sample(r)
          val signal = s + 0.15 * cz - 0.01 * cw
          val miss = r.nextDouble()
          val qNan: java.lang.Double =
            if (miss < 0.06) null
            else if (miss < 0.12) { if (nan) Double.NaN else null }
            else -math.log(1 - r.nextDouble()) + 0.3 * signal
          val yCont = 3 * signal + gauss(r)
          val lin = 1.8 * signal + 0.5 * gauss(r)
          Row(fit, i.toLong, s, qNan, math.exp(1.5 * gauss(r) + 0.4 * signal), s"z$cz", s"w$cw",
            if (lin > 0.1) 1 else 0, yCont, math.max(0.0, math.rint(20 + 8 * signal + 3 * gauss(r))),
            if (lin < -0.8) 1 else if (lin < 0.2) 2 else if (lin < 1.2) 3 else 4,
            if (lin < -0.4) "low" else if (lin < 0.7) "mid" else "high")
        }
      }
    }
    spark.createDataFrame(rdd, carveSchema)
  }

  private def gauss(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ----------------------------------------------------- near-dup corpus

  /** Corpus layout: `units` units, each a planted near-duplicate cluster
    * (size 2..maxCluster) or a singleton, then `boiler` documents that
    * share one long boilerplate block (their LSH buckets overflow the cap).
    * Ids are unit * 8 + member.
    */
  final case class Corpus(units: Int, boiler: Int, maxCluster: Int)

  /** The seed of operation `op`'s corpus: every operation deduplicates its
    * own documents.
    */
  def opSeed(seed: Long, op: Int): Long = mix(mix(seed) ^ (0x5851f42d4c957f2dL * (op + 1L)))

  def clusterSize(seed: Long, c: Corpus, unit: Int): Int = {
    val r = rng(seed, 20, unit.toLong)
    if (r.nextDouble() < 0.25) 2 + r.nextInt(c.maxCluster - 1) else 1
  }

  /** Planted clusters as id lists (size >= 2), computed without any text. */
  def plantedClusters(seed: Long, c: Corpus): Seq[Seq[Long]] =
    (0 until c.units).flatMap { u =>
      val n = clusterSize(seed, c, u)
      if (n >= 2) Some((0 until n).map(j => u.toLong * 8 + j)) else None
    }

  val corpusSchema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def corpus(spark: SparkSession, seed: Long, c: Corpus, parts: Int): DataFrame = {
    val boilerText = words(rng(seed, 21, 0), 140)
    val rdd = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val planted = (p until c.units by parts).iterator.flatMap { u =>
        val n = clusterSize(seed, c, u)
        val base = words(rng(seed, 22, u.toLong), 50 + rng(seed, 23, u.toLong).nextInt(90))
        (0 until n).iterator.map { j =>
          val text = if (j == 0) base else mutate(base, rng(seed, 24, u.toLong * 8 + j))
          Row(u.toLong * 8 + j, text.mkString(" "))
        }
      }
      val boiler = (p until c.boiler by parts).iterator.map { b =>
        val id = (c.units.toLong + b) * 8
        Row(id, (boilerText ++ words(rng(seed, 25, b.toLong), 12)).mkString(" "))
      }
      planted ++ boiler
    }
    spark.createDataFrame(rdd, corpusSchema)
  }

  /** A near copy: about 7% of the words replaced, dropped or duplicated. */
  private def mutate(base: Array[String], r: SplittableRandom): Array[String] = {
    val out = Array.newBuilder[String]
    base.foreach { w =>
      val u = r.nextDouble()
      if (u < 0.03) out += vocab(wordZipf.sample(r))
      else if (u < 0.05) ()
      else if (u < 0.07) { out += w; out += w }
      else out += w
    }
    out.result()
  }
}
