package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark process: builds the inputs of one workload, then runs it
  * as a single closed-loop client (the next operation is submitted only
  * when the previous one returned) for a fixed time, checking every
  * operation's output. Writes a JSON run record; `run.py` turns records
  * into metrics.
  *
  * Usage: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--cores C] [--table DIR]`. With `--table`, the
  * pipeline workload runs only its pages part, against an existing table
  * (the one-core baseline).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, cores: Int, table: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()), m.get("table"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.default.parallelism", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a.cores, a.work)
    try {
      val trace = new Trace(spark)
      val w: Workload = a.workload match {
        case "pipeline" =>
          val pages = new Pages(spark, trace, a.work, a.seed, a.table)
          if (a.table.isDefined) pages
          else new Composite(Seq(pages, new Ingest(spark, trace, a.work, a.seed, pages),
            new PageSelect(spark, trace, a.work, pages)))
        case "kernels" =>
          new Composite(Seq(new Carve(spark, trace, a.work, a.seed), new Neardup(spark, trace, a.work, a.seed)))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val rec = new Runner(spark, trace, w, a).run()
      Files.writeString(a.out, rec)
    } finally spark.stop()
  }
}

/** One operation's outcome, as the workload reports it. */
final case class OpOut(items: Long, digest: String, failures: Seq[String] = Nil)

trait Workload {
  /** Set-up repetitions: set-up time is reported as their median. */
  def setupReps: Int = 3
  def setup(rep: Int): Unit
  /** Untimed preparation of operation `i`'s inputs. */
  def prepare(i: Int): Unit = ()
  def op(i: Int): OpOut
  /** Untimed output checks of operation `i`; returns failures. */
  def check(i: Int): Seq[String] = Nil
  /** The digest of an operation once its check ran (the check may derive
    * it from the sample it collected).
    */
  def digestAfterCheck(opDigest: String): String = opDigest
  /** Whether every operation must produce the same digest. */
  def sameDigestEveryOp: Boolean
  /** Operations whose digests make up the run digest (the first ones). */
  def digestOps: Int = 1
  /** Timed work after the loop (e.g. a resume); returns failures. */
  def finish(): Seq[String] = Nil
  /** Records a named timing or workload-specific value for the report. */
  def sample(name: String, v: Double): Unit = Samples.add(name, v)
  /** Cleanup of what the workload itself persisted. */
  def close(): Unit = ()
}

/** The named values workloads record. The runner takes the ones an
  * operation recorded into that operation's record, so a failed operation's
  * values are never reported as the workload's; the rest (set-up, finish)
  * belong to the run.
  */
object Samples {
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit = synchronized(values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  def mark(): Map[String, Int] = synchronized(values.map { case (k, v) => k -> v.length }.toMap)

  /** Removes and returns the values added since `m`. */
  def takeSince(m: Map[String, Int]): Seq[(String, Seq[Double])] = synchronized {
    values.toSeq.flatMap { case (k, v) =>
      val from = m.getOrElse(k, 0)
      val taken = v.drop(from).toSeq
      v.remove(from, v.length - from)
      if (taken.isEmpty) None else Some(k -> taken)
    }
  }

  def all: Seq[(String, Seq[Double])] = synchronized(values.toSeq.map { case (k, v) => k -> v.toSeq })
}

final class Runner(spark: SparkSession, trace: Trace, w: Workload, a: Main.Args) {
  private val opTimeoutSec = 90.0

  private final class OpRec(val i: Int, val phase: String, val start: Double, val wall: Double, val items: Long,
      val ok: Boolean, val error: String, val samples: Seq[(String, Seq[Double])])

  def run(): String = {
    val setup = (0 until w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val failures = mutable.ArrayBuffer.empty[String]
    val digests = mutable.ArrayBuffer.empty[String]
    var i = 0

    def runOp(phase: String): Unit = {
      w.prepare(i)
      // the garbage of the preparation and the previous operation is not
      // the next operation's to collect
      System.gc()
      trace.setOp(i)
      val mark = Samples.mark()
      val timer = new java.util.Timer(true)
      timer.schedule(new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelAllJobs()
      }, (opTimeoutSec * 1000).toLong)
      val startMs = trace.nowMs()
      val t0 = System.nanoTime()
      val res = try Right(trace.span(s"op.${a.workload}")(w.op(i))) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      timer.cancel()
      val (items, fail) = res match {
        case Left(e) => (0L, Seq(s"op $i threw ${e.getClass.getName}: ${e.getMessage}"))
        case Right(o) =>
          val checkFail = try w.check(i) catch { case e: Throwable => Seq(s"check $i threw $e") }
          val timeout = if (wall > opTimeoutSec) Seq(f"op $i took $wall%.1f s, over the $opTimeoutSec%.0f s limit") else Nil
          digests += w.digestAfterCheck(o.digest)
          (o.items, o.failures ++ checkFail ++ timeout)
      }
      fail.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
      failures ++= fail
      ops += new OpRec(i, phase, startMs, wall, items, fail.isEmpty, fail.headOption.orNull, Samples.takeSince(mark))
      i += 1
    }

    runOp("warmup")
    def loop(phase: String, seconds: Double): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (n == 0 || System.nanoTime() < deadline) { runOp(phase); n += 1 }
    }
    val loopStart = trace.nowMs()
    if (a.trace) {
      trace.start()
      loop("traced", a.seconds)
    } else loop("timed", a.seconds)
    trace.setOp(-1)
    val finishFail = try trace.span("finish")(w.finish()) catch { case e: Throwable => Seq(s"finish threw $e") }
    failures ++= finishFail
    val loopEnd = trace.nowMs()
    trace.stop()
    w.close()

    if (w.sameDigestEveryOp && digests.distinct.length > 1)
      failures += s"outputs differ between operations of one run: ${digests.distinct.length} distinct digests"
    if (digests.length < w.digestOps)
      failures += s"only ${digests.length} operations produced output, ${w.digestOps} needed for the run digest"
    val runDigest = Reference.md5(digests.take(w.digestOps).mkString("|"))

    val probes = Probes.collect(spark, a.work)
    val sb = new StringBuilder("{")
    sb.append(s""""workload":${Json.str(a.workload)},"seed":${a.seed},"cores":${a.cores},""")
    sb.append(s""""setup_s":[${setup.mkString(",")}],""")
    sb.append(s""""digest":${Json.str(runDigest)},""")
    sb.append(f""""loop_start":$loopStart%.3f,"loop_end":$loopEnd%.3f,""")
    sb.append("\"ops\":[" + ops.map(o =>
      f"""{"i":${o.i},"phase":${Json.str(o.phase)},"start":${o.start}%.3f,"wall_s":${o.wall},"items":${o.items},"ok":${o.ok},"error":${Json.str(o.error)},""" +
        s""""samples":${samplesJson(o.samples)}}"""
    ).mkString(",") + "],")
    sb.append("\"failures\":[" + failures.map(Json.str).mkString(",") + "],")
    sb.append("\"samples\":" + samplesJson(Samples.all) + ",")
    sb.append("\"probes\":{" + probes.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",") + "}")
    if (a.trace) sb.append(",\"trace\":" + trace.toJson)
    sb.append("}")
    sb.toString
  }

  private def samplesJson(xs: Seq[(String, Seq[Double])]): String =
    "{" + xs.map { case (k, v) => s"${Json.str(k)}:[${v.map(Json.num).mkString(",")}]" }.mkString(",") + "}"
}

/** Ownership probes taken after a workload: what stayed persisted, the heap
  * still live after a full collection, how many threads the process
  * reached, time spent in GC, peak resident memory and files left in the
  * scratch directories.
  */
object Probes {
  def collect(spark: SparkSession, work: Path): Seq[(String, Double)] = {
    val sc = spark.sparkContext
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    val threads = ManagementFactory.getThreadMXBean
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles on
    // its own thread once a collection found them: collect a few times and
    // keep the lowest reading, which no longer depends on that race
    val retained = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    Seq(
      "spark.persisted_rdds_after" -> sc.getPersistentRDDs.size.toDouble,
      "jvm.threads_peak" -> threads.getPeakThreadCount.toDouble,
      "jvm.threads_live_after" -> threads.getThreadCount.toDouble,
      "jvm.gc_s" -> gcMs / 1000.0,
      "mem.retained_heap_mb" -> retained,
      "jvm.peak_rss_mb" -> peakRssMb(),
      "probe.leftover_tmp_files" -> countFiles(work.resolve("tmp")).toDouble
    )
  }

  private def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Double.NaN
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def countFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(p => Files.isRegularFile(p)).toLong finally s.close()
    }

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p)) finally s.close()
    }
}
