package graft.queries

import graft.exec.Checkpoint
import graft.fixtures.FixtureCorpus
import graft.model.PaperRecord
import graft.rules.LlmResponseParser
import graft.stages.{Canonicalize, Ingest, MentionDetect, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** KG-construction queries over the bundled fixture corpus (the
  * non-SQL-expressible operator families: slicer, rule extraction,
  * LSH linking, iterative CC — driver records rows-only checks).
  * `sfDir` is unused: inputs are the deterministic in-memory corpus.
  */
object KgQueries {

  type Q = (SparkSession, String) => DataFrame

  private val CorpusN = 100

  private def corpus(s: SparkSession) = FixtureCorpus.corpus(s, CorpusN, 8)

  /** The parsed records, for the record-shaped queries; the triple and
    * mention queries read the fused passes, which never encode a record.
    */
  private def records(s: SparkSession): DataFrame = MentionDetect.records(corpus(s)).toDF()

  private def triples(s: SparkSession): DataFrame = MentionDetect.triplesDirect(corpus(s)).toDF()

  /** Full extraction: corpus -> sliced/parsed pages -> triples. */
  private val kgTriples: Q = (s, _) =>
    triples(s).orderBy("docId", "subj", "pred", "obj")

  /** Ingest invariant surface: per-path sha256 (spot-checkable). */
  private val kgIngest: Q = (s, _) => {
    Ingest.withSha(corpus(s))
      .select("repo", "path", "lang", "sha256").orderBy("path")
  }

  /** Entity table after linking + canonicalization. */
  private val kgEntities: Q = (s, _) =>
    Pipeline.entities(s, MentionDetect.mentionsDirect(corpus(s))).orderBy("kind", "name")

  /** The wide one-row-per-paper report (A3-A5, Chinese column schema of
    * create_nature_table, nature_extractor.py:249-290) rendered for all
    * docs: role-categorized affiliation sets, corresponding marked " *",
    * sorted 、-joins.
    */
  private val kgWideReport: Q = (s, _) => {
    import s.implicits._
    // main.py:30 report rule: an unmarked paper's first author IS the
    // corresponding author (applied here, at report assembly — extraction
    // triples stay faithful to the page)
    records(s).as[PaperRecord].map(PaperRecord.withDefaultCorresponding).map { r =>
      val firstCorr = scala.collection.mutable.Set.empty[String]
      val other = scala.collection.mutable.Set.empty[String]
      val corr = scala.collection.mutable.Set.empty[String]
      r.authors.foreach { a =>
        a.affiliations.foreach { aff =>
          if (a.isCorresponding) corr += aff
          if (Set("First Author", "First/Corresponding Author", "Corresponding Author")
            .contains(a.role)) firstCorr += aff
          else other += aff
        }
      }
      val firstCorrMarked = firstCorr.toSeq.map(a => if (corr(a)) a + " *" else a)
      (r.docId,
        firstCorrMarked.sorted.mkString("、"),
        other.toSeq.sorted.mkString("、"),
        r.countries.sorted.mkString("、"),
        r.abstractText.getOrElse(""),
        r.contributions.getOrElse(""),
        r.equalContributions.mkString("、"),
        r.url.getOrElse(""))
    }.toDF("doc_id", "first_corr_affiliations", "other_affiliations", "countries",
      "abstract", "contributions", "equal_contributions", "url")
      .distinct()
      .orderBy("doc_id")
  }

  /** P25: the LLM-response regex parser over a synthetic response column
    * (worked-example shape of main.py:87-94).
    */
  private val kgLlmParse: Q = (s, _) => {
    import s.implicits._
    val responses = Seq(
      (1L, "新闻风格介绍：这是一段新闻介绍。论文信息提取：第一作者/共同作者单位/通讯作者单位：洛桑联邦理工学院*，其他作者单位：洛桑联邦理工学院，所有作者单位所属国家：瑞士，论文url链接：https://www.nature.com/articles/s41567-025-02944-3，论文名：Predicting topological entanglement entropy in a Rydberg analogue simulator"),
      (2L, "malformed response with no markers")
    ).toDF("id", "response")
    responses.select(col("id") +: LlmResponseParser.columns(col("response")): _*)
      .orderBy("id")
  }

  /** Canonicalization visibility: name -> canonical entity id for the
    * fixture alias clusters (O'Dea/ODea, Westlake variants, venues).
    */
  private val kgCanonicalMap: Q = (s, _) =>
    Pipeline.canonicalMap(s, MentionDetect.mentionsDirect(corpus(s))).orderBy("kind", "name")

  /** S11/S9: the JSON-string record form (the reference returns Science
    * records as json.dumps strings, science_extractor.py:194) — records
    * rendered with to_json(struct(...)).
    */
  private val kgRecordsJson: Q = (s, _) => {
    records(s)
      .select(col("docId"),
        to_json(struct(col("title"), col("journalName"), col("doi"),
          col("publicationDate"), col("countries"))).as("record_json"))
      .distinct()
      .orderBy("docId")
  }

  /** A7: extraction-quality counters per doc (the extraction_quality
    * struct of aps_extractor.py:392-397 as an aggregate over records).
    */
  private val kgQuality: Q = (s, _) => {
    records(s)
      .select(col("docId"),
        col("title").isNotNull.as("has_title"),
        col("abstractText").isNotNull.as("has_abstract"),
        (size(col("authors")) > 0).as("has_authors"),
        size(col("authors")).as("author_count"))
      .distinct()
      .groupBy("has_title", "has_abstract", "has_authors", "author_count")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("author_count")
  }

  /** E2 quarantine side-output: rows with unknown shape tags or parse
    * failures land in an error table instead of failing the job
    * (aps_extractor.py:401-418 semantics). Exercised with deliberately
    * bad rows mixed into the corpus.
    */
  private val kgQuarantine: Q = (s, _) => {
    import s.implicits._
    val good = FixtureCorpus.corpus(s, 20, 4)
    val bad = Seq(
      graft.model.SourceFile("repo-x", "mystery.bin", "c0ffee", "pdf-scan", "binaryish"),
      graft.model.SourceFile("repo-x", "empty.md", "c0ffee", "aps-md", ""))
      .toDS()
    MentionDetect.quarantine(good.union(bad)).toDF().orderBy("path")
  }

  /** Downstream graph consumption: co-authorship edges derived from the
    * materialized triples — author triples self-joined on docId (the
    * classic first query a KG user runs). Distinct doc-level records
    * first, so corpus replication doesn't inflate pair counts; at scale
    * the self-join shuffles on docId and authors-per-doc bounds the
    * per-key blowup.
    */
  private val kgCoauthors: Q = (s, _) => {
    val authors = triples(s)
      .filter(col("pred") === "hasAuthor")
      .select(col("docId"), col("obj").as("author"))
      .distinct()
    authors.as("a").join(authors.as("b"),
        col("a.docId") === col("b.docId") && col("a.author") < col("b.author"))
      .groupBy(col("a.author").as("author_a"), col("b.author").as("author_b"))
      .agg(countDistinct(col("a.docId")).as("n_papers"))
      .orderBy("author_a", "author_b")
  }

  /** The extraction CORRECTNESS gate with a hard oracle: distinct
    * extracted (docId, subj, pred, obj) full-outer-joined against the
    * reference-derived golden set, summarized per predicate. The DuckDB
    * oracle (SparkEntry.oracleSql) pins the expected summary as literal
    * VALUES — n_missing/n_extra must be 0 and the per-predicate counts
    * must equal the golden tallies, so any extraction regression flips
    * the driver's hash compare red (the other kg queries are rows-only).
    */
  private val kgGoldenCheck: Q = (s, _) => {
    import s.implicits._
    val golden = FixtureCorpus.resourceText("/graft/golden/triples.tsv")
      .split("\n").filter(_.nonEmpty).toSeq.map { ln =>
        val Array(d, subj, pred, obj) = ln.split("\t", 4)
        (d, subj, pred, obj)
      }.toDF("docId", "subj", "pred", "obj").withColumn("in_g", lit(1))
    // replicas of the same page share a docId -> distinct collapses the
    // 100-row corpus back to the 7 fixture docs' triple sets
    val extracted = triples(s)
      .select("docId", "subj", "pred", "obj").distinct()
      .withColumn("in_e", lit(1))
    golden.join(extracted, Seq("docId", "subj", "pred", "obj"), "full_outer")
      .groupBy("pred")
      .agg(
        sum(coalesce(col("in_g"), lit(0))).as("n_golden"),
        sum(coalesce(col("in_e"), lit(0))).as("n_extracted"),
        sum(when(col("in_e").isNull, 1).otherwise(0)).as("n_missing"),
        sum(when(col("in_g").isNull, 1).otherwise(0)).as("n_extra"))
      .orderBy("pred")
  }

  /** Typed DateType materialization (SURVEY §1.2/§2.6): the extraction
    * layer carries dates as strings faithful to the page (ISO for
    * APS/Nature, "14 August 2025" for Science); the relational surface
    * parses them to a real DateType here — try_to_date (ANSI-safe) over
    * the two page formats, plus calendar derivations. Value-pinned
    * DuckDB oracle.
    */
  private val kgRecordsDated: Q = (s, _) => {
    records(s)
      .select(col("docId").as("doc_id"),
        coalesce(col("publicationDate.isoDate"), col("publicationDate.formattedDate"))
          .as("raw_date"))
      .distinct()
      .withColumn("pub_date",
        coalesce(try_to_date(col("raw_date"), "yyyy-MM-dd"),
          try_to_date(col("raw_date"), "d MMMM yyyy")))
      .withColumn("pub_year", year(col("pub_date")))
      .withColumn("pub_quarter", quarter(col("pub_date")))
      .orderBy("doc_id")
  }

  /** Hash-gated digest of the FULL kg01 triple stream (all 2185 rows of
    * the replicated corpus, not the distinct set kg11 covers): per
    * predicate, row count, distinct docs, and an order-independent
    * xxhash64 row-sum. kg01 itself is too large to VALUES-pin sanely;
    * this companion makes any change to its exact output (replication
    * included) flip a hard red in the driver's hash compare.
    */
  private val kgTriplesDigest: Q = (s, _) => {
    triples(s)
      .groupBy("pred")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("docId")).as("n_docs"),
        // pmod bounds each term to [0, 1e12) so the sum of even millions
        // of rows stays far from Long.MaxValue — raw xxhash64 terms
        // random-walk into ANSI ARITHMETIC_OVERFLOW within a few rows
        sum(pmod(xxhash64(concat_ws("\u0001",
          col("docId"), col("subj"), col("pred"), col("obj"))),
          lit(1000000000000L))).as("row_hash_sum"))
      .orderBy("pred")
  }

  /** Resume semantics surfaced as a CORRECTNESS row (north-rule
    * resumability): runs the checkpointed pipeline TWICE into a fresh
    * root — first under runId "run1", then "run2" with the same
    * snapshot. Every stage must be SKIPPED on the second run, so the
    * lineage tables still carry run1's runId; `resumed` below is true
    * iff no stage recomputed. Output: per-stage snapshot, total lineage
    * rows, and the resume bit — all deterministic (per-PARTITION detail
    * is deliberately aggregated away: shuffle-stage partition counts
    * follow spark.sql.shuffle.partitions, which the driver may set
    * differently), VALUES-pinned in the oracle. The result is collected
    * and re-created so the temp checkpoint root can be deleted before
    * returning (no /tmp garbage per invocation).
    */
  private val kgLineage: Q = (s, _) => {
    import s.implicits._
    val n = 30
    val root = java.nio.file.Files.createTempDirectory("graft_kg14_ckpt").toString
    val snap = Checkpoint.snapshotId("fixture", n)
    Pipeline.runCheckpointed(s, FixtureCorpus.corpus(s, n, 4), Checkpoint(root, "run1"), snap)
    Pipeline.runCheckpointed(s, FixtureCorpus.corpus(s, n, 4), Checkpoint(root, "run2"), snap)
    val ck = Checkpoint(root, "reader")
    val rows = Seq("ingest", "records", "triples", "entities").map { st =>
      ck.lineage(s, st)
        .groupBy(col("stage"), col("snapshotId").as("snapshot"))
        .agg(sum(col("rowCount")).as("n_rows"),
          (min(col("runId")) === "run1" && max(col("runId")) === "run1").as("resumed"))
    }.reduce(_.unionByName(_)).orderBy("stage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq
    graft.MainUtil.deleteRecursively(new java.io.File(root))
    rows.toDF("stage", "snapshot", "n_rows", "resumed").orderBy("stage")
  }

  /** The distributed connected-components path under the driver
    * contract: a deterministic synthetic 112,081-edge entity graph run
    * with smallCutoff = 0 so Canonicalize.connectedComponents MUST take
    * the label-propagation + pointer-jumping route (the 100 TB path —
    * otherwise exercised only in specs; the DEFAULT cutoff deliberately
    * sits above this graph since round 5, because the distributed
    * path's fixed per-round cost only amortizes on much larger graphs).
    * 120,000 vertices in 7,919 chain components (vertex i links to
    * i+7919); canonical id = component min by construction. Output:
    * component-size histogram + an order-independent hash of the
    * canonical ids per size — 2 rows, VALUES-pinned.
    */
  private val kgCcComponents: Q = (s, _) => {
    import s.implicits._
    val nVerts = 120000L
    val comps = 7919L // prime stride -> mixed component sizes (15 and 16)
    def vname(c: org.apache.spark.sql.Column) = format_string("v%06d", c)
    val edges = s.range(0L, nVerts - comps, 1L, 8)
      .select(vname(col("id")).as("src"), vname(col("id") + comps).as("dst"))
    val cc = Canonicalize.connectedComponents(edges, smallCutoff = 0)
    cc.groupBy("canonicalId").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_components"),
        // pmod: same ANSI-overflow guard as kg13's row_hash_sum
        sum(pmod(xxhash64(col("canonicalId")), lit(1000000000000L))).as("canon_hash_sum"))
      .orderBy("size")
  }

  val all: Map[String, Q] = Map(
    "kg01_triples" -> kgTriples,
    "kg11_golden_check" -> kgGoldenCheck,
    "kg12_records_dated" -> kgRecordsDated,
    "kg10_coauthors" -> kgCoauthors,
    "kg09_quarantine" -> kgQuarantine,
    "kg02_ingest_sha" -> kgIngest,
    "kg03_entities" -> kgEntities,
    "kg04_wide_report" -> kgWideReport,
    "kg05_llm_parse" -> kgLlmParse,
    "kg06_canonical_map" -> kgCanonicalMap,
    "kg07_records_json" -> kgRecordsJson,
    "kg08_quality" -> kgQuality,
    "kg13_triples_digest" -> kgTriplesDigest,
    "kg14_lineage" -> kgLineage,
    "kg15_cc_components" -> kgCcComponents)

  /** The kg11 oracle pins the golden per-predicate tallies as literal
    * VALUES (the golden TSV is static — regenerate both with
    * tools/derive_goldens.py). n_missing/n_extra MUST be 0: P = R = 1.0
    * triple-for-triple vs the reference-derived set.
    */
  val oracle: Map[String, String] = Map(
    "kg11_golden_check" ->
      """SELECT pred, CAST(n_golden AS BIGINT) AS n_golden,
        |  CAST(n_extracted AS BIGINT) AS n_extracted,
        |  CAST(n_missing AS BIGINT) AS n_missing,
        |  CAST(n_extra AS BIGINT) AS n_extra
        |FROM (VALUES
        |  ('affiliatedWith', 34, 34, 0, 0),
        |  ('hasAbstract', 7, 7, 0, 0),
        |  ('hasAuthor', 23, 23, 0, 0),
        |  ('hasContactEmail', 5, 5, 0, 0),
        |  ('hasContribution', 1, 1, 0, 0),
        |  ('hasCreditRole', 4, 4, 0, 0),
        |  ('hasDOI', 5, 5, 0, 0),
        |  ('hasEqualContribution', 1, 1, 0, 0),
        |  ('hasFunding', 2, 2, 0, 0),
        |  ('hasNote', 2, 2, 0, 0),
        |  ('hasRole', 23, 23, 0, 0),
        |  ('hasTitle', 7, 7, 0, 0),
        |  ('isCorresponding', 8, 8, 0, 0),
        |  ('locatedIn', 17, 17, 0, 0),
        |  ('publishedIn', 7, 7, 0, 0),
        |  ('publishedOn', 7, 7, 0, 0)
        |) AS t(pred, n_golden, n_extracted, n_missing, n_extra)
        |ORDER BY pred""".stripMargin,
    "kg12_records_dated" ->
      """SELECT doc_id, raw_date, pub_date,
        |  CAST(pub_year AS INT) AS pub_year, CAST(pub_quarter AS INT) AS pub_quarter
        |FROM (VALUES
        |  ('10.1103/7x71-8j7k', '2025-08-19', DATE '2025-08-19', 2025, 3),
        |  ('10.1103/9pbp-jzr9', '2025-07-28', DATE '2025-07-28', 2025, 3),
        |  ('10.1103/PhysRevB.99.000001', '2024-02-12', DATE '2024-02-12', 2024, 1),
        |  ('10.1103/PhysRevLett.130.267401', '2023-06-28', DATE '2023-06-28', 2023, 2),
        |  ('10.1103/pyzr-jmvw', '2025-08-18', DATE '2025-08-18', 2025, 3),
        |  ('https://www.nature.com/articles/s41567-025-02944-3', '2025-07-28', DATE '2025-07-28', 2025, 3),
        |  ('https://www.science.org/doi/10.1126/scitranslmed.test01', '14 August 2025', DATE '2025-08-14', 2025, 3)
        |) AS t(doc_id, raw_date, pub_date, pub_year, pub_quarter)
        |ORDER BY doc_id""".stripMargin)
}
