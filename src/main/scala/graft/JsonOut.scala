package graft

/** Tiny shared JSON emission helpers for the driver-facing mains.
  *
  * One implementation for both Verify (oracle_sql.json) and Bench
  * (BENCH_OUT.json) so the hardening cannot diverge: full string
  * escaping (backslash, quote, ALL control chars — a tab in
  * builder-authored SQL or a quoted path would make the driver's
  * json.load fail and silently zero a round's results) and
  * locale-independent number formatting (a decimal-comma default locale
  * would emit invalid JSON through the f interpolator).
  */
object JsonOut {

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
}

/** Shared helpers for the driver-facing mains and probes — one copy so
  * a hardening (symlink safety, wall-clock source) cannot diverge
  * between call sites (the JsonOut rationale, applied to the rest).
  */
object MainUtil {

  /** The one session every main runs on (Bench, Verify and each Spark
    * tool of [[Probe]]): `local[cpus]` with as many shuffle partitions,
    * AQE with skew-join splitting, UTC, no UI, the [[graft.plans.GraftExtensions]]
    * rules and the [[graft.functions.GraftUdfs]] functions, logging at
    * WARN. Evidence a probe gathers is therefore gathered on the session
    * the driver-contract mains use.
    */
  def session(cpus: String): org.apache.spark.sql.SparkSession = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // heap comes from build.sbt's forked -Xmx (SPARK_DRIVER_MEM env);
      // setting spark.driver.memory after JVM start would be a no-op
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftUdfs.register(spark)
    spark
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Local-filesystem recursive delete (probe/verify output dirs only —
    * checkpoint roots on non-local URIs go through Hadoop FS in
    * exec.Checkpoint).
    */
  def deleteRecursively(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles).foreach(_.foreach(deleteRecursively))
    p.delete()
  }

  /** Driver-side union-find over an edge list, returned as the root
    * function (path-compressed; unions always point the larger root at
    * the smaller, so a component's root is its minimum member id —
    * the keeper convention s10 uses). ONE copy for the scale probes and
    * the s12 spec: the independent ground-truth recompute they all
    * perform was three hand-maintained twins of this loop.
    */
  def unionFindRoots(pairs: Iterable[(Long, Long)]): Long => Long = {
    val uf = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (uf.getOrElse(r, r) != r) r = uf.getOrElse(r, r)
      var c = x
      while (uf.getOrElse(c, c) != c) { val nx = uf.getOrElse(c, c); uf(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) uf(math.max(ra, rb)) = math.min(ra, rb)
    }
    find
  }
}
