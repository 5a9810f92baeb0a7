package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded span: a call into a layer made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, runId: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order on the driver
  * thread; each span also tags the Spark jobs it starts (a local
  * property the listener reads), so listener counters land on the layer
  * that caused them. Written out as JSON lines when the run ends.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  var runId = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val layer = name.takeWhile(_ != '.')
      val prevLayer = sc.getLocalProperty(Tracer.LayerProp)
      val prevSpan = sc.getLocalProperty(Tracer.SpanProp)
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.LayerProp, layer)
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, runId, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.LayerProp, prevLayer)
        sc.setLocalProperty(Tracer.SpanProp, prevSpan)
      }
    }

  /** Per span name: total wall and self time (wall minus the part of its
    * interval covered by its direct children).
    */
  def selfTimes: Map[String, (Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val wall = ss.map(_.seconds).sum
      val self = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
        s.seconds - covered
      }.sum
      name -> (wall, self)
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.runId},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LayerProp = "perfbench.layer"
  val SpanProp = "perfbench.span"
}

/** Spark listener counters, accumulated per layer tag. */
final class LayerCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var taskNs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val byLayer = mutable.HashMap.empty[String, Acc]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val spanJobs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var started = 0L
  private var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerProp)))
      .getOrElse("untagged")
    byLayer.getOrElseUpdate(layer, new Acc).jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).foreach(spanJobs(_) += 1)
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byLayer.getOrElseUpdate(stageLayer.getOrElse(e.stageId, "untagged"), new Acc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskNs += m.executorRunTime * 1000000L
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Blocks until the listener bus is empty and every started job's end
    * event has arrived, so counters are complete before they are read.
    */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    while (synchronized(ended < started) && System.nanoTime() < deadline) {
      Thread.sleep(5)
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    }
  }

  def snapshot: Map[String, Acc] = synchronized(byLayer.toMap)
  def jobsBySpan: Map[String, Long] = synchronized(spanJobs.toMap)
}
