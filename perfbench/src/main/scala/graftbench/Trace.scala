package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** In-memory trace of one benchmark run: spans the benchmark opens around
  * each call into a graft layer, counters attached to them, and the Spark
  * jobs, stages and tasks a listener saw. Nothing is written until the run
  * ends. Times are epoch milliseconds with microsecond resolution, the
  * clock Spark stamps its job events with.
  */
final class Trace(spark: SparkSession) {
  final class Span(val id: Int, val parent: Int, val name: String, val op: Int, val start: Double) {
    var end: Double = Double.NaN
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val counters = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var op = -1
  @volatile var enabled = false
  val listener = new Listener

  def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  def start(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  def stop(): Unit = if (enabled) {
    listener.drain()
    spark.sparkContext.removeSparkListener(listener)
    enabled = false
  }

  def setOp(i: Int): Unit = op = i

  /** Runs `f` inside a span named after the layer call; the Spark job
    * group carries the span name so listener events can be attributed.
    */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.length, parent, name, op, nowMs())
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(name, name)
      try f
      finally {
        s.end = nowMs()
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      }
    }

  /** Records a counter on the innermost open span (or the run when none). */
  def count(name: String, value: Double): Unit =
    if (enabled) counters += ((stack.headOption.map(_.id).getOrElse(-1), name, value))

  def toJson: String = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"op":${s.op},"start":${s.start}%.3f,"end":${s.end}%.3f}"""
    ).mkString(","))
    sb.append("],\"counters\":[")
    sb.append(counters.map { case (sid, n, v) => s"""{"span":$sid,"name":${Json.str(n)},"value":${Json.num(v)}}""" }.mkString(","))
    sb.append("],")
    sb.append(listener.toJsonFields)
    sb.append("}")
    sb.toString
  }

  /** Cluster-side record: job intervals, and per stage the task-time
    * summary needed for skew and slot utilisation, shuffle bytes written
    * and input bytes read.
    */
  final class Listener extends SparkListener {
    final class Job(val id: Int, val start: Long, val stages: Seq[Int], val group: String) {
      var end: Long = -1L
    }
    final class Stage {
      val durations = mutable.ArrayBuffer.empty[Long]
      var shuffleWrite = 0L
      var inputBytes = 0L
      var submitted = -1L
      var completed = -1L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stages = mutable.HashMap.empty[Int, Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds, g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage)
      s.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
      s.completed = e.stageInfo.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }

    /** Waits (bounded) until every started job has reported its end: the
      * listener bus delivers events asynchronously.
      */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      def open = synchronized(jobs.values.count(_.end < 0))
      while (open > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(100)
    }

    def toJsonFields: String = synchronized {
      val js = jobs.values.map(j =>
        s"""{"id":${j.id},"start":${j.start},"end":${j.end},"group":${Json.str(j.group)},"stages":[${j.stages.mkString(",")}]}""")
      val ss = stages.toSeq.sortBy(_._1).map { case (id, s) =>
        val d = s.durations.sorted
        val med = if (d.isEmpty) 0L else if (d.length % 2 == 1) d(d.length / 2) else (d(d.length / 2 - 1) + d(d.length / 2)) / 2
        s"""{"id":$id,"tasks":${d.length},"task_max_ms":${d.lastOption.getOrElse(0L)},"task_median_ms":$med,""" +
          s""""task_sum_ms":${d.sum},"shuffle_write":${s.shuffleWrite},"input_bytes":${s.inputBytes},""" +
          s""""submitted":${s.submitted},"completed":${s.completed}}"""
      }
      s""""jobs":[${js.mkString(",")}],"stages":[${ss.mkString(",")}]"""
    }
  }
}

/** Minimal JSON writing for the run record. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"').toString
    }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
