package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared-session base for operator specs: one local session per JVM
  * (suites share it via getOrCreate), UTC, small shuffle fan-out.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Smoke tier (TESTDATA.md): sf0.001 for specs. */
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` in a session built with GraftExtensions on the shared
    * SparkContext, the deployment path every main uses.
    */
  protected def withGraftSession(f: SparkSession => Unit): Unit = {
    val orig = spark // force-create the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      ext.conf.set("spark.sql.shuffle.partitions", "4")
      ext.conf.set("spark.sql.session.timeZone", "UTC")
      f(ext)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  /** Spark jobs started while `body` runs. Listener delivery is async and
    * ordered, so a marker job run afterwards flushes the body's events.
    */
  protected def jobsDuring(body: => Unit): Int = {
    val marker = "spark-spec-jobs-marker"
    val jobs = new AtomicInteger(0)
    val seenMarker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == marker))
          seenMarker.countDown()
        else jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seenMarker.await(30, TimeUnit.SECONDS), "listener bus stalled")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
