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
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `main`'s object in a child JVM on `root`; (exit code, log
    * lines). The child runs at -Xmx512m with the module opens Spark
    * needs, not this JVM's heap settings.
    */
  def runChild(main: AnyRef, root: String): (Int, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val log = new java.io.File(root, "child.log")
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      main.getClass.getName.stripSuffix("$"), root)
    val child = new ProcessBuilder(cmd: _*).directory(new java.io.File(root))
      .redirectErrorStream(true).redirectOutput(log).start()
    def lines = scala.io.Source.fromFile(log).getLines().toSeq
    if (!child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)) {
      child.destroyForcibly()
      fail(s"child JVM did not finish:\n${lines.takeRight(30).mkString("\n")}")
    }
    (child.exitValue, lines)
  }
}
