package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Environment knobs are an allow-list: every `sys.env` read in
  * `src/main/scala` must be one of the names below, in the file listed
  * for it. A new knob multiplies the configurations tests and benchmarks
  * must cover, so adding one means adding it here, in the same diff that
  * argues for it.
  */
class KnobAuditSpec extends AnyFunSuite {

  private val allowed: Map[String, Set[String]] = Map(
    // the driver contract: input, session size, KG size, query skip, output path
    "graft/Bench.scala" -> Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_KG_N", "SPARK_GRAFT_SKIP_QUERIES", "SPARK_GRAFT_BENCH_OUT"),
    "graft/Verify.scala" -> Set("SPARK_GRAFT_CPUS"),
    "graft/Probe.scala" -> Set("SPARK_GRAFT_CPUS"),
    // a deployment path: where the persisted ANN/dedup indexes live
    "graft/queries/SimilarityQueries.scala" -> Set("GRAFT_ANN_INDEX_ROOT"))

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (file relative to src/main/scala, env name or the raw read when it
    * names no literal) for every env read under src/main/scala.
    */
  private lazy val reads: Seq[(String, String)] = {
    val named = """sys\.env\s*(?:\.\s*(?:get|getOrElse|contains|apply)\s*)?\(\s*"([^"]+)"""".r
    val anyRead = """sys\.env\b|System\.getenv""".r
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
      val rel = root.relativize(p).toString.replace('\\', '/')
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val names = named.findAllMatchIn(text).map(m => rel -> m.group(1)).toSeq
      // a read the name pattern does not cover (a non-literal name,
      // System.getenv, the whole map) is reported as itself
      val other = anyRead.findAllMatchIn(text)
        .filterNot(m => named.findPrefixOf(text.subSequence(m.start, text.length)).isDefined)
        .map(m => rel -> text.substring(m.start, math.min(text.length, m.start + 40)).linesIterator.next())
        .toSeq
      names ++ other
    }.sorted
    finally files.close()
  }

  test("the scan sees the engine's env reads") {
    assert(reads.contains("graft/Bench.scala" -> "SPARK_GRAFT_KG_N"), reads)
    assert(reads.contains("graft/queries/SimilarityQueries.scala" -> "GRAFT_ANN_INDEX_ROOT"), reads)
  }

  test("src/main reads only allow-listed env names, each in its own file") {
    val unlisted = reads.filterNot { case (file, name) => allowed.get(file).exists(_.contains(name)) }
    assert(unlisted.isEmpty, s"env reads outside the allow-list: ${unlisted.mkString(", ")}")
  }
}
