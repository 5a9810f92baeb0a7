package graft

import graft.fixtures.FixtureCorpus
import graft.stages.MentionDetect
import org.apache.spark.sql.functions._

/** THE correctness gate (BASELINE.md): triple-for-triple P/R vs the
  * golden (doc_id, subj, pred, obj) set derived from the reference's
  * committed outputs (tools/derive_goldens.py). Compared as DISTINCT
  * sets via intersect/except (SURVEY.md §5.4 — order-free).
  */
class GoldenTripleSpec extends SparkSpec {

  private def goldenDf = {
    val in = getClass.getResourceAsStream("/graft/golden/triples.tsv")
    val lines = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
    in.close()
    import spark.implicits._
    lines.map { l =>
      val Array(d, s, p, o) = l.split("\t", 4)
      (d, s, p, o)
    }.toDF("docId", "subj", "pred", "obj")
  }

  test("triple P and R >= 0.95 vs reference goldens (expected: 1.0)") {
    import spark.implicits._
    val files = spark.createDataset(FixtureCorpus.baseRows)(
      org.apache.spark.sql.Encoders.product[graft.model.SourceFile])
    val emitted = MentionDetect.triples(MentionDetect.records(files))
      .toDF("docId", "subj", "pred", "obj").distinct().cache()
    val golden = goldenDf.distinct().cache()

    val nE = emitted.count().toDouble
    val nG = golden.count().toDouble
    val nI = emitted.intersect(golden).count().toDouble
    val precision = nI / nE
    val recall = nI / nG

    if (precision < 1.0 || recall < 1.0) {
      println("=== emitted \\ golden (false positives) ===")
      emitted.except(golden).orderBy("docId", "subj", "pred").show(50, false)
      println("=== golden \\ emitted (false negatives) ===")
      golden.except(emitted).orderBy("docId", "subj", "pred").show(50, false)
    }
    info(f"emitted=$nE%.0f golden=$nG%.0f P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("per-predicate recall >= 0.95") {
    import spark.implicits._
    val files = spark.createDataset(FixtureCorpus.baseRows)(
      org.apache.spark.sql.Encoders.product[graft.model.SourceFile])
    val emitted = MentionDetect.triples(MentionDetect.records(files))
      .toDF("docId", "subj", "pred", "obj").distinct()
    val golden = goldenDf.distinct()
    val perPred = golden.groupBy("pred").agg(count(lit(1)).as("g"))
      .join(emitted.intersect(golden).groupBy("pred").agg(count(lit(1)).as("i")),
        Seq("pred"), "left")
      .withColumn("recall", coalesce(col("i"), lit(0)) / col("g"))
      .collect()
    perPred.foreach { r =>
      assert(r.getAs[Double]("recall") >= 0.95,
        s"pred ${r.getAs[String]("pred")} recall ${r.getAs[Double]("recall")}")
    }
  }

  test("sha256 ingest invariant holds on the replicated corpus") {
    import spark.implicits._
    val n = 40
    val files = FixtureCorpus.corpus(spark, n, 4)
    val manifest = FixtureCorpus.manifest(n).toSeq.toDF("path", "expected_sha")
    assert(graft.stages.Ingest.manifestViolations(files, manifest) == 0)

    // the check is TWO-WAY: a manifest entry whose file vanished from the
    // input must count as a violation (a lost file must not pass silently)
    val extra = (FixtureCorpus.manifest(n).toSeq :+ ("ghost.page" -> "beef"))
      .toDF("path", "expected_sha")
    assert(graft.stages.Ingest.manifestViolations(files, extra) == 1)
    // ...and a corrupted content hash still counts
    val corrupt = FixtureCorpus.manifest(n).toSeq
      .map { case (p, s) => (p, if (p.contains("rep1.")) "0" * 64 else s) }
      .toDF("path", "expected_sha")
    assert(graft.stages.Ingest.manifestViolations(files, corrupt) > 0)
  }

  test("giant skewed page emits exactly the base page's triples") {
    import spark.implicits._
    // row 2000 is a giant (50x-appended) copy of the raw pyzr-jmvw page
    val n = 2001
    val rows = FixtureCorpus.corpusRows(n).toSeq
    val giant = rows(FixtureCorpus.GiantEvery * 2)
    assert(giant.content.length > rows.head.content.length * FixtureCorpus.GiantFactor)
    def tset(f: graft.model.SourceFile) = MentionDetect.triplesDirect(
      spark.createDataset(Seq(f))(org.apache.spark.sql.Encoders.product[graft.model.SourceFile]))
      .collect().map(t => (t.subj, t.pred, t.obj)).toSet
    val giantTriples = tset(giant)
    val baseTriples = tset(rows.head)
    assert(giantTriples.nonEmpty && giantTriples == baseTriples)
  }
}
