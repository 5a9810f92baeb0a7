package graft.stages

import graft.SparkSpec
import graft.exec.Checkpoint
import graft.fixtures.FixtureCorpus
import graft.model.SourceFile
import org.apache.spark.sql.{Dataset, Encoders}

/** One parse per page: [[Pipeline.run]] reads every page exactly once,
  * whichever of its outputs (triples, entity table, page bridge) are
  * consumed, and the bridge carries only pages whose full parse succeeded.
  * [[Pipeline.runCheckpointed]] still reads each page twice (the ingest
  * hash and the records parse), and a resume reads none.
  */
class OneParseSpec extends SparkSpec {

  /** `pages` as a Dataset whose rows bump `reads` every time they are
    * materialized — each materialization is one trip through a parse.
    */
  private def counted(pages: Seq[SourceFile], reads: org.apache.spark.util.LongAccumulator)
      : Dataset[SourceFile] = {
    implicit val enc = Encoders.product[SourceFile]
    spark.createDataset(pages).map { f => reads.add(1); f }
  }

  test("Pipeline.run materializes each page once across triples, entities and the bridge") {
    val pages = FixtureCorpus.corpusRows(40).toSeq
    val reads = spark.sparkContext.longAccumulator("page-reads")
    val (triples, ents, bridge) = Pipeline.run(spark, counted(pages, reads))
    assert(triples.collect().nonEmpty)
    assert(ents.collect().nonEmpty)
    assert(bridge.collect().length == pages.size)
    // consuming an output a second time still reads no page again
    assert(triples.count() > 0 && ents.count() > 0)
    assert(reads.value == pages.size,
      s"${reads.value} page materializations for ${pages.size} pages")
  }

  test("Pipeline.runCheckpointed materializes each page twice, and a resume none") {
    val pages = FixtureCorpus.corpusRows(40).toSeq
    val reads = spark.sparkContext.longAccumulator("page-reads")
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-reads").toString
    val snap = Checkpoint.snapshotId("counted", pages.size)
    def build(runId: String) = {
      val (t, e) = Pipeline.runCheckpointed(spark, counted(pages, reads),
        Checkpoint(root, runId), snap)
      (t.count(), e.count())
    }
    val built = build("run-1")
    assert(built._1 > 0 && built._2 > 0)
    // the ingest hash and the records parse; the records write reads the
    // rebalance's shuffle output, not the pages a second time
    assert(reads.value == 2 * pages.size,
      s"${reads.value} page materializations for ${pages.size} pages")
    reads.reset()
    assert(build("run-2") == built)
    assert(reads.value == 0, s"a resume over the committed root read ${reads.value} pages")
  }

  test("the bridge holds each parsed page's docId and no quarantined page") {
    val quarantined = Seq(
      SourceFile("repo-x", "empty.md", "c0ffee", "aps-md", ""),
      SourceFile("repo-x", "mystery.bin", "c0ffee", "pdf-scan", "binaryish"))
    quarantined.foreach(f => assert(MentionDetect.parseOne(f).isLeft, f.path))
    val good = FixtureCorpus.corpusRows(14).toSeq
    val reads = spark.sparkContext.longAccumulator("page-reads")
    val (triples, _, bridge) = Pipeline.run(spark, counted(good ++ quarantined, reads))

    val got = bridge.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = good.map(f => (f.repo, f.path, MentionDetect.parseOne(f).toOption.get.docId)).toSet
    assert(got == want)
    assert(!triples.collect().exists(t => quarantined.exists(q => t.docId == q.path)))
    assert(reads.value == good.size + quarantined.size)
  }
}
