package graft

import graft.fixtures.FixtureCorpus
import graft.stages.MentionDetect

/** Extraction-hot-path allocation profiler (round-4 BASELINE addendum:
  * store-bearing memory traffic is the binding 8->32-thread ceiling on
  * this host, and allocation per extracted page is the one term the
  * ENGINE controls — fewer bytes stored per page is both a single-VM
  * scaling lever and fewer GC pauses per executor at 100x).
  *
  * Measures bytes allocated per parseOne call for every fixture shape
  * (plus the 2 MB giant-row variant and the slicer stage alone) via
  * com.sun.management.ThreadMXBean#getThreadAllocatedBytes — exact
  * per-thread allocation counters, no sampling, no JFR file dance.
  * Driver-side single-thread on purpose: the number measured is
  * bytes/page of the pure extraction code, not Spark plumbing.
  *
  * Usage: sbt "runMain graft.AllocProbe"   (no Spark session)
  */
object AllocProbe {

  private val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated on this thread across `iters` runs of `f`, after
    * `warm` warm-up runs (JIT + lazy statics), divided by iters.
    */
  private def bytesPer(warm: Int, iters: Int)(f: => Unit): Long = {
    var i = 0
    while (i < warm) { f; i += 1 }
    val tid = Thread.currentThread().getId
    val before = tmx.getThreadAllocatedBytes(tid)
    i = 0
    while (i < iters) { f; i += 1 }
    (tmx.getThreadAllocatedBytes(tid) - before) / iters
  }

  def main(args: Array[String]): Unit = {
    require(tmx.isThreadAllocatedMemorySupported)
    tmx.setThreadAllocatedMemoryEnabled(true)

    val base = FixtureCorpus.baseRows.toIndexedSeq
    println(f"${"page"}%-28s ${"bytes"}%12s ${"bytes/page"}%12s  ratio")
    for (b <- base) {
      val n = b.content.length
      val per = bytesPer(200, 1000)(MentionDetect.parseOne(b))
      println(f"${b.lang + ":" + b.path.take(20)}%-28s $n%12d $per%12d  ${per.toDouble / n}%5.1fx")
    }
    // the slicer stage alone on the two raw-crawl pages (the corpus
    // byte-dominant shape: ~86% of fixture-corpus bytes are aps-md raw)
    for (b <- base.filter(f => f.lang == "aps-md" && f.content.length > 10000)) {
      val per = bytesPer(200, 1000)(graft.rules.MarkdownSlicer.slice(b.content))
      println(f"${"slice-only:" + b.path.take(17)}%-28s ${b.content.length}%12d $per%12d  ${per.toDouble / b.content.length}%5.1fx")
    }
    // giant-row variant (every 1000th corpus row): base raw page + 50
    // appended copies — the slicer's early window should keep this from
    // costing 51x, and allocation here is what the skew row really pays
    val g = base.head
    val giant = g.copy(content = g.content + ("\n" + g.content) * FixtureCorpus.GiantFactor)
    val perG = bytesPer(20, 50)(MentionDetect.parseOne(giant))
    println(f"${"giant:" + g.path.take(22)}%-28s ${giant.content.length}%12d $perG%12d  ${perG.toDouble / giant.content.length}%5.1fx")
  }
}
