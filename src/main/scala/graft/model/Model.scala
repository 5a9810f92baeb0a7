package graft.model

/** Typed data model of the KG-construction pipeline.
  *
  * The record shape mirrors the reference extractor's output JSON
  * (see /root/reference: nature_extractor.py:237-247,
  * science_extractor.py:183-192, aps_extractor.py:385-398) expressed as
  * one consistent Spark schema (the reference mixes dicts and JSON
  * strings; we use case classes + Encoders throughout).
  */

/** One row of the source-repository input table (BASELINE.json input_hint).
  * `lang` carries the content-shape tag that drives rule dispatch
  * (the Spark analog of the URL-substring dispatch in main.py:167-179).
  */
final case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** An author row, ordered by position within the paper.
  * Role enum values are load-bearing for triple P/R — exact strings from
  * nature_extractor.py:220-228: "First Author" | "Other Author" |
  * "Corresponding Author" | "First/Corresponding Author".
  */
final case class Author(
    name: String,
    position: Int,
    role: String,
    affiliations: Seq[String],
    isCorresponding: Boolean,
    marks: Seq[String],
    creditRoles: Seq[String],
    email: Option[String])

final case class PubDate(isoDate: Option[String], formattedDate: Option[String])

/** The unified paper record — superset of the three per-journal shapes. */
final case class PaperRecord(
    docId: String,
    journalTag: String, // aps-md | nature-html | science-html
    title: Option[String],
    journalName: Option[String],
    url: Option[String],
    doi: Option[String],
    publicationDate: Option[PubDate],
    abstractText: Option[String],
    contributions: Option[String],
    equalContributions: Seq[String],
    countries: Seq[String],
    authors: Seq[Author],
    notes: Map[String, String],
    // A9: Science funding paragraphs (section.core-funding div[role=
    // paragraph], science_extractor.py:161-166); empty for other journals
    funding: Seq[String] = Seq.empty)

object PaperRecord {

  /** main.py:30 semantic rule: "当未标识通讯作者时，则第一作者为通讯作者" — when no
    * author carries a corresponding mark, the first author is treated as
    * the corresponding author. The reference applies this in its report
    * stage (the LLM prompt), not at extraction, so the engine applies it
    * at report assembly too — extraction triples and golden P/R are
    * unchanged.
    */
  def withDefaultCorresponding(r: PaperRecord): PaperRecord =
    if (r.authors.isEmpty || r.authors.exists(_.isCorresponding)) r
    else {
      val sorted = r.authors.sortBy(_.position)
      val first = sorted.head
      val upgraded = first.copy(isCorresponding = true,
        role = if (first.role == "First Author") "First/Corresponding Author" else first.role)
      r.copy(authors = upgraded +: sorted.tail)
    }
}

/** A (subj, pred, obj) triple with provenance. P/R vs golden compares the
  * DISTINCT (subj, pred, obj) set per doc (order-free, SURVEY.md §5.4).
  */
final case class Triple(docId: String, subj: String, pred: String, obj: String)

/** A detected entity mention, pre-linking. */
final case class Mention(docId: String, kind: String, surface: String)

/** One flat row of the single extraction pass
  * ([[graft.stages.MentionDetect.extract]]), tagged by what it carries:
  *   - "page": the page's `docId`, keyed by (`repo`, `path`);
  *   - "triple": one emitted triple (`subj`, `pred`, `obj`);
  *   - "mention": one entity mention (`kind`, `surface`).
  * Columns the tag does not use are None.
  */
final case class ExtractedRow(
    tag: String,
    docId: String,
    repo: Option[String] = None,
    path: Option[String] = None,
    subj: Option[String] = None,
    pred: Option[String] = None,
    obj: Option[String] = None,
    kind: Option[String] = None,
    surface: Option[String] = None)

/** Canonical entity row of the materialized entity table. */
final case class Entity(entityId: String, kind: String, canonicalName: String)

/** Per-partition lineage row (north-rule resumability requirement). */
final case class LineageRow(
    runId: String,
    stage: String,
    snapshotId: String,
    partitionId: Int,
    rowCount: Long,
    sha256s: Seq[String],
    wallMs: Long)

/** A row of the failure/quarantine side-output (E2 semantics:
  * aps_extractor.py:401-418 returns an error record instead of raising).
  */
final case class QuarantineRow(repo: String, path: String, lang: String, error: String)
