package graft

/** Smoke runs of the `graft.Probe` instruments at small sizes, so a tool
  * cannot rot unnoticed: each runs through [[Probe.run]] on the test
  * session with its `require` gates live.
  *
  * Not run here: `alloc` (~1,200 timed single-thread parses per fixture
  * page and no gate to check), `ann` (builds the s04, s07 and s09
  * indexes over a fresh corpus; QueriesSpec checks those queries and
  * their recall), `incremental` (its fixed corpus layout needs
  * n > ~100k) and `plans` (writes explain output files and gates
  * nothing).
  */
class ProbeSpec extends SparkSpec {

  private def probeLines(tool: String, args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, tool, args))
    out.toString("UTF-8").linesIterator.filter(_.startsWith("PROBE")).toSeq
  }

  test("an unknown tool fails and lists the valid tool names") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, "dedupe", Nil))
    Seq("alloc", "ann", "cc", "dedup", "incremental", "plans")
      .foreach(t => assert(e.getMessage.contains(t), e.getMessage))
    // main rejects it before it builds a session
    intercept[IllegalArgumentException](Probe.main(Array("dedupe")))
    intercept[IllegalArgumentException](Probe.main(Array.empty))
  }

  test("cc: both CC paths agree at a few thousand edges") {
    val lines = probeLines("cc", "3000")
    assert(lines.exists(l => l.startsWith("PROBE cc edges=3000 chains=1000") &&
      l.contains("vertices=4000 agree=true")), lines)
  }

  test("dedup's giant-cluster gate follows s01's bucket cap") {
    // n = 2000: 100 identical pages sit under the cap, so s01 enumerates
    // all C(100, 2) = 4,950 pairs
    assert(Probe.giantClusterEdgesOk(100, 4950))
    assert(!Probe.giantClusterEdgesOk(100, 197))
    // n = 6000: 300 pages are over the cap and chain
    assert(Probe.giantClusterEdgesOk(300, 597))
    assert(!Probe.giantClusterEdgesOk(300, 44850))
  }

  test("dedup: s01/s10 keepers and the t15, t17, t19 planted gates hold at small n") {
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-dedup").toString
    // n = 6000 puts 300 identical boilerplate pages in one band bucket,
    // over s01's 256-member cap, so the spanning-chain guard fires
    val lines = probeLines("dedup", "6000", dir)
    Seq(
      "PROBE s01 recall vs planted truth: 1.0000 (192/192)",
      "PROBE giant cluster: 597 chain edges for 300 identical pages (all-pairs would be 44850)",
      "PROBE s10 keeper check: 0 mismatches vs union-find; dropped=395 expected=395 " +
        "(components=25, paired docs=420)",
      "PROBE t17 planted check: 0 boilerplate pages not fully duplicated, " +
        "0 unique docs with phantom dup spans",
      "PROBE t15 planted check: 258/258 boilerplate pages flagged, " +
        "0 pure-unique docs falsely flagged",
      "PROBE t19 planted check: 299/299 boilerplate pages fully emptied, " +
        "0 unique docs losing words, surviving boilerplate bytes=1110 (template=1110)"
    ).foreach(l => assert(lines.contains(l), lines.mkString("\n")))
  }
}
