package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs that `body` launches on this thread, counted with a
    * tagged listener. Suites share the session: count only jobs carrying
    * this call's tag, and drain the async bus with a sentinel job posted
    * after the call.
    */
  def jobsLaunchedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.tag"
    val tag = s"jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == tag + "-sentinel" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body
      finally sc.setLocalProperty(key, tag + "-sentinel")
      sc.parallelize(1 to 1, 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus drain timed out")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
