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

  /** (result, the Spark jobs `body` started): the listener bus is
    * drained before and after, so the list holds every job of `body` and
    * only those. A failed job-bound assertion prints the list.
    */
  def countJobs[T](body: => T): (T, SparkSpec.Jobs) = {
    import org.apache.spark.scheduler._
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.add(e.stageInfo.stageId)
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (r, SparkSpec.Jobs(started.asScala.toSeq.map(SparkSpec.Job(_, submitted.contains))))
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

object SparkSpec {

  /** One stage of a job: its task count and the operation scope names of
    * its RDDs (`Exchange`, `BroadcastExchange`, `WriteFiles`, ...); a
    * stage another job already ran is skipped.
    */
  final case class Stage(id: Int, tasks: Int, scopes: Seq[String], ran: Boolean) {
    override def toString: String =
      s"stage $id: $tasks tasks${if (ran) "" else " (skipped)"} [${scopes.mkString(", ")}]"
  }

  /** One Spark job: its SQL execution id (None outside a SQL execution)
    * and its stages.
    */
  final case class Job(id: Int, executionId: Option[Long], stages: Seq[Stage]) {
    override def toString: String =
      s"job $id (execution ${executionId.getOrElse("-")}): ${stages.mkString("; ")}"
  }

  object Job {
    def apply(e: org.apache.spark.scheduler.SparkListenerJobStart, ran: Int => Boolean): Job = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      Job(e.jobId, exec, e.stageInfos.sortBy(_.stageId).map { s =>
        // "WholeStageCodegen (3)" -> "WholeStageCodegen"
        val scopes = s.rddInfos.sortBy(_.id)
          .flatMap(_.scope.map(_.name.replaceAll("\\s*\\(\\d+\\)$", "").trim))
        Stage(s.stageId, s.numTasks, scopes.distinct, ran(s.stageId))
      })
    }
  }

  /** The jobs one `countJobs` body started, in start order. */
  final case class Jobs(list: Seq[Job]) {
    def count: Int = list.size
    override def toString: String = (s"$count Spark jobs" +: list.map("  " + _)).mkString("\n")
  }
}
