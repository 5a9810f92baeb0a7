package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  graft.functions.GraftUdfs.register(spark)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** (result, Spark jobs `body` started): the listener bus is drained
    * before and after, so the count holds every job of `body` and only
    * those.
    */
  def countJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
