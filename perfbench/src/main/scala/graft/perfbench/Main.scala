package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM: one workload, closed loop, one client.
  *
  *   Main --workload W --seed N --seconds T --trace 0|1 --cpus C
  *        --work DIR --out FILE [--trace-dir DIR]
  *   Main --selftest --cpus C --work DIR --out FILE
  *   Main --train-classes --cpus C --work DIR --out FILE
  *
  * Set-up (timed as setup_s) is session start + warm-up job + the median
  * of R input generations + the first, cold-JIT run + [[WarmupRuns]]
  * more runs, which let the JIT's optimizing tier settle; then runs go
  * back to back until T seconds have passed and at least [[MinRuns]] were
  * timed, each one starting when the previous one ends. Every run's
  * outputs are checked after its clock stops. With --trace 1 every
  * second run is traced (spans + listener counters) and the layer probes
  * run afterwards.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, cpus: Int = 4, work: String = "", out: String = "",
      selftest: Boolean = false, traceDir: String = "", trainClasses: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--cpus" :: v :: t => parse(t, a.copy(cpus = v.toInt))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case "--trace-dir" :: v :: t => parse(t, a.copy(traceDir = v))
    case "--train-classes" :: t => parse(t, a.copy(trainClasses = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  val SetupReps = 3
  /** untraced runs a process times at least, so run_s is a median */
  val MinRuns = 3
  /** runs after the first one inside set-up; more would not fit the
    * evaluation's time budget (see perfbench/README.md) */
  val WarmupRuns = 1

  def session(cpus: Int, work: String): SparkSession = {
    // graft.Bench's session: AQE + skew join, UTC, GraftExtensions and
    // GraftUdfs; every scratch path points into the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftUdfs.register(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(duBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  def rmrf(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Driver old-generation occupancy right after full collections: the
    * heap the session retains once the timed runs are over. It does not
    * see transient in-run peaks (an in-run sample after young collections
    * was tried and is bimodal — it counts promoted garbage depending on
    * when a collection lands).
    */
  def retainedOldGenBytes(): Long = {
    // later collections pick up what the context cleaner released after
    // the first one (broadcasts, checkpointed blocks, shuffle state)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole JVM has used: every thread, JIT and GC included */
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  def flushDirtyPages(): Unit = {
    val p = new ProcessBuilder("sync").inheritIO().start()
    p.waitFor()
  }

  private val jvmStart = System.nanoTime()

  /** progress line on stderr (kept in the run log) */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] t=${(System.nanoTime() - jvmStart) / 1e9}%6.1f s  $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty && a.out.nonEmpty, "--work and --out are required")
    new File(a.work).mkdirs()
    note(s"jvm up ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val machine = Machine.measure()
    note(s"machine control $machine")
    val (spark, sessionS) = time(session(a.cpus, a.work))
    val result =
      try {
        if (a.trainClasses) SelfTest.trainClasses(spark, a)
        else if (a.selftest) SelfTest.run(spark, a)
        else runWorkload(spark, a, sessionS, machine)
      } finally spark.stop()
    java.nio.file.Files.write(new File(a.out).toPath, result.getBytes("UTF-8"))
  }

  def runWorkload(spark: SparkSession, a: Args, sessionS: Double, machine: Machine): String = {
    val w: Workload = a.workload match {
      case "kg_build" => new KgBuild(spark, a)
      case "similarity_suite" => new SimilaritySuite(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val errors = mutable.ArrayBuffer.empty[String]

    // warm the scheduler and codegen once (part of set-up)
    val (_, warmS) = time(spark.range(1000000).selectExpr("sum(id)").collect())
    note(f"session up in $sessionS%.1f s")
    val setupReps = (1 to SetupReps).map(r => time(w.generate(r))._2)
    note(s"inputs generated: $setupReps")
    val (_, prepareS) = time(w.prepare())
    note(f"first run $prepareS%.1f s")
    w.checkSetup().foreach(e => errors += s"set-up: $e")
    note("set-up gates checked")
    val warmups = (1 to WarmupRuns).map { i =>
      w.beforeRun(-i)
      val s = time(w.run(-i, new Tracer(spark.sparkContext, false)))._2
      w.verify(-i).foreach(e => errors += s"warm-up run $i: $e")
      w.afterRun(-i)
      s
    }
    note(s"warm-up runs: $warmups")
    val setupS = sessionS + warmS + median(setupReps) + prepareS + warmups.sum

    val tracer = new Tracer(spark.sparkContext, a.trace)
    val noTrace = new Tracer(spark.sparkContext, false)
    val counters = new LayerCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    // set-up's writes reach the disk now, not by writeback inside a run
    flushDirtyPages()

    val plain = mutable.ArrayBuffer.empty[Double]
    val plainCpu = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    // at least MinRuns untraced runs, and with tracing one traced run
    def untracedAttempts = if (a.trace) (attempted + 1) / 2 else attempted
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || untracedAttempts < MinRuns || (a.trace && attempted < 2)) {
      attempted += 1
      val traceThis = a.trace && attempted % 2 == 0
      w.beforeRun(attempted)
      val ok = try {
        val cpu0 = processCpuS()
        val (_, s) =
          if (traceThis) { tracer.runId = attempted; time(w.run(attempted, tracer)) }
          else time(w.run(attempted, noTrace))
        val cpu = processCpuS() - cpu0
        val gate = w.verify(attempted)
        gate.foreach(e => errors += s"run $attempted: $e")
        if (gate.isEmpty) {
          if (traceThis) { traced += s; w.afterTracedRun(attempted, s) }
          else { plain += s; plainCpu += cpu }
        }
        gate.isEmpty
      } catch {
        case e: Throwable =>
          errors += s"run $attempted threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
      if (!ok) failed += 1
      w.afterRun(attempted)
      note(s"run $attempted done (traced=$traceThis, ok=$ok)")
    }

    val heapRetained = retainedOldGenBytes()
    val runS = median(plain.toSeq)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val cpuS = median(plainCpu.toSeq)
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("store_amp") = (w.storeAmp, "ratio")
      metrics("heap_retained_mb") = (heapRetained / 1048576.0, "MB")
    } else {
      metrics("run_s") = (runS, "s")
      metrics("rows_per_s") = (w.outRows / runS, "1/s")
      metrics("cpu_s") = (cpuS, "s")
      counters.drain(spark.sparkContext)
      val layer = w.traceMetrics(tracer)
      counters.drain(spark.sparkContext)
      metrics ++= layer
      errors ++= w.finalCheck()
      note("layer probes done")
      val jobsBySpan = counters.jobsBySpan
      w.spanJobMetrics.foreach { case (metric, span) =>
        metrics(metric) = (jobsBySpan.getOrElse(span, 0L) / math.max(traced.size, 1).toDouble, "count")
      }
      metrics("trace.overhead_s") = (median(traced.toSeq) - runS, "s")
      val snap = counters.snapshot
      val perRun = math.max(traced.size, 1).toDouble
      Layers.counterLayers.foreach { l =>
        val acc = snap.getOrElse(l, new counters.Acc)
        // the pipeline and the query passes run once per traced run;
        // the layer probes run once per process
        val d = if (l == "ckpt" || l == "query") perRun else 1.0
        metrics(s"$l.jobs") = (acc.jobs / d, "count")
        metrics(s"$l.tasks") = (acc.tasks / d, "count")
        metrics(s"$l.task_s") = (acc.taskNs / 1e9 / d, "s")
        metrics(s"$l.cpu_s") = (acc.cpuNs / 1e9 / d, "s")
        metrics(s"$l.gc_s") = (acc.gcMs / 1e3 / d, "s")
        metrics(s"$l.shuffle_read_bytes") = (acc.shuffleRead / d, "bytes")
        metrics(s"$l.shuffle_write_bytes") = (acc.shuffleWrite / d, "bytes")
        metrics(s"$l.spill_bytes") = (acc.spill / d, "bytes")
      }
      if (!metrics.contains("resume.wall_s")) metrics ++= Layers.zeros(Layers.resumeNames)
      val traceDir = new File(if (a.traceDir.nonEmpty) a.traceDir else s"${a.work}/traces").toPath
      tracer.writeJsonLines(traceDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
      val self = tracer.selfTimes.toSeq.sortBy(-_._2._2)
      val selfLines = self.map { case (n, (wall, own)) => f"  $n%-28s wall=$wall%8.3f s  self=$own%8.3f s" }
      java.nio.file.Files.write(traceDir.resolve(s"${a.workload}-seed${a.seed}.self.txt"),
        (selfLines.mkString("\n") + "\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] span self times (${a.workload}):\n" + selfLines.mkString("\n"))
    }

    val extra = mutable.LinkedHashMap[String, String](
      "failed_frac" -> Json.num(if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "run_samples" -> plain.map(Json.num).mkString("[", ",", "]"),
      "traced_samples" -> traced.map(Json.num).mkString("[", ",", "]"),
      "generate_samples" -> setupReps.map(Json.num).mkString("[", ",", "]"),
      "prepare_s" -> Json.num(prepareS),
      "warmup_samples" -> warmups.map(Json.num).mkString("[", ",", "]"),
      "cpu_samples" -> plainCpu.map(Json.num).mkString("[", ",", "]"),
      "run_s" -> Json.num(runS),
      "rows_per_s" -> Json.num(w.outRows / runS),
      "cpu_s" -> Json.num(cpuS),
      "session_s" -> Json.num(sessionS),
      "cpu_loop_s" -> Json.num(machine.cpuLoopS),
      "memcpy_gb_per_s" -> Json.num(machine.memcpyGBs),
      "cpus" -> a.cpus.toString,
      "inputs" -> Json.str(w.describe),
      "oracle_dir" -> Json.str(w.oracleDir.getOrElse("")),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"))
    Json.result(errors.isEmpty && failed == 0, attempted, failed, metrics.toSeq, extra.toSeq)
  }
}

/** Fixed single-thread CPU loop and memcpy bandwidth, recorded beside
  * every result so host drift between runs is visible.
  */
final case class Machine(cpuLoopS: Double, memcpyGBs: Double)

object Machine {
  def measure(): Machine = {
    def loop(n: Long): Long = {
      var x = 88172645463325252L
      var i = 0L
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    loop(20000000L)
    val t0 = System.nanoTime()
    val sink = loop(100000000L)
    val cpu = (System.nanoTime() - t0) / 1e9
    val src = new Array[Byte](32 << 20)
    java.util.Arrays.fill(src, sink.toByte)
    val dst = new Array[Byte](32 << 20)
    System.arraycopy(src, 0, dst, 0, src.length)
    val reps = 16
    val t1 = System.nanoTime()
    (1 to reps).foreach(_ => System.arraycopy(src, 0, dst, 0, src.length))
    val mem = reps.toDouble * src.length / ((System.nanoTime() - t1) / 1e9) / 1e9
    require(dst(1) == src(1))
    Machine(cpu, mem)
  }
}

object Json {
  def str(s: String): String = graft.JsonOut.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))], extra: Seq[(String, String)]): String = {
    val m = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
    val x = extra.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$m,"extra":$x}"""
  }
}
