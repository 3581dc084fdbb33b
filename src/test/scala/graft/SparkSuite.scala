package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Adaptive execution and broadcast joins off: each action is one job,
    * so a count reflects the algorithm's rounds, not the stage structure.
    */
  val OneJobPerAction: Seq[(String, String)] =
    Seq("spark.sql.adaptive.enabled" -> "false", "spark.sql.autoBroadcastJoinThreshold" -> "-1")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** Spark jobs `body` starts (from any thread; suites run one at a time),
    * with the session settings `confs` in force and restored afterwards.
    * A marker job in a group of its own flushes the listener queue, whose
    * events arrive in order, so the count is complete when it returns.
    */
  def countJobs[T](confs: (String, String)*)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val marker = s"count-jobs-marker-${System.nanoTime}"
    val n = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) seen.countDown()
        else { n.incrementAndGet(); () }
    }
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "count jobs marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(30, TimeUnit.SECONDS), "the marker job never reached the listener")
      (n.get, out)
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }
}
