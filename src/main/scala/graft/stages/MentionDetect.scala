package graft.stages

import graft.model._
import graft.rules._
import org.apache.spark.sql.Dataset
import scala.util.{Failure, Success, Try}

/** Mention detection: Dataset[SourceFile] -> parsed pages -> triples,
  * mentions and each page's docId.
  *
  * Every path parses a page with [[parseOne]] inside a mapPartitions
  * pass; rule maps (compiled regexes) live in JVM-wide objects, so
  * pattern-compilation cost is paid once per executor — the Spark analog
  * of the reference's browser-singleton reuse (aps_extractor.py:14-50).
  * Dispatch on the `lang` shape tag mirrors the URL-substring dispatch of
  * main.py:167-179; unknown shapes and parse failures land in the
  * quarantine side-output (E2 semantics: aps_extractor.py:401-418)
  * instead of failing the job.
  *
  * [[extract]] is the one pass the flagship reads: one parse per page,
  * with triples, mentions and the page -> docId bridge as projections of
  * its rows. [[records]], [[triplesDirect]] and [[mentionsDirect]] each
  * parse on their own and serve callers that need only one of them.
  */
object MentionDetect {

  def parseOne(f: SourceFile): Either[QuarantineRow, PaperRecord] = {
    Try {
      f.lang match {
        case "aps-md" =>
          // Raw crawl markdown is sliced first; already-sliced pages pass
          // through the slicer unchanged (it is a fixpoint for them).
          ApsRules.parseRaw(f.content, f.path)
            .toRight(QuarantineRow(f.repo, f.path, f.lang, "no paper body found"))
        case "aps-html" => Right(ApsHtmlRules.parse(f.content, f.path))
        case "nature-html" => Right(NatureRules.parse(f.content, f.path))
        case "science-html" => Right(ScienceRules.parse(f.content, f.path))
        case other => Left(QuarantineRow(f.repo, f.path, f.lang, s"unknown shape tag: $other"))
      }
    } match {
      case Success(r) => r
      case Failure(e) => Left(QuarantineRow(f.repo, f.path, f.lang, String.valueOf(e)))
    }
  }

  def records(files: Dataset[SourceFile]): Dataset[PaperRecord] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[PaperRecord]
    files.mapPartitions(_.map(parseOne).collect { case Right(r) => r })
  }

  def quarantine(files: Dataset[SourceFile]): Dataset[QuarantineRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[QuarantineRow]
    files.mapPartitions(_.map(parseOne).collect { case Left(q) => q })
  }

  def triples(records: Dataset[PaperRecord]): Dataset[Triple] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Triple]
    records.flatMap(TripleEmit.emit)
  }

  /** Fused extraction: SourceFile -> Triple in ONE mapPartitions pass.
    *
    * The staged form (records(...) then triples(...)) pays the
    * ExpressionEncoder round-trip of the deeply nested PaperRecord
    * (Seq[Author] / Map / Option fields) per row — measured ~20x the
    * actual parse cost. The fused form keeps PaperRecord as a plain JVM
    * object inside the partition and only encodes the flat 4-string
    * Triple rows. Use this whenever the record itself is not needed
    * downstream.
    */
  def triplesDirect(files: Dataset[SourceFile]): Dataset[Triple] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Triple]
    files.mapPartitions(_.flatMap(f => parseOne(f) match {
      case Right(r) => TripleEmit.emit(r)
      case Left(_) => Nil
    }))
  }

  /** Fused mention stream (same rationale as [[triplesDirect]]). */
  def mentionsDirect(files: Dataset[SourceFile]): Dataset[Mention] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Mention]
    files.mapPartitions(_.flatMap(f => parseOne(f) match {
      case Right(r) => Pipeline.mentionsOfRecord(r)
      case Left(_) => Nil
    }))
  }

  /** The single extraction pass: [[parseOne]] once per page, flattened
    * into [[ExtractedRow]]s — one "page" row (the page's docId keyed by
    * repo/path), then the record's triples ([[TripleEmit.emit]]) and
    * mentions ([[Pipeline.mentionsOfRecord]]). A page whose parse
    * quarantines emits no row at all, so it has no docId either. As in
    * [[triplesDirect]], the PaperRecord stays a plain JVM object inside
    * the partition; only the flat rows are encoded.
    */
  def extract(files: Dataset[SourceFile]): Dataset[ExtractedRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ExtractedRow]
    files.mapPartitions(_.flatMap(f => parseOne(f) match {
      case Right(r) =>
        Iterator.single(ExtractedRow("page", r.docId, repo = Some(f.repo), path = Some(f.path))) ++
          TripleEmit.emit(r).iterator.map(t =>
            ExtractedRow("triple", t.docId, subj = Some(t.subj), pred = Some(t.pred), obj = Some(t.obj))) ++
          Pipeline.mentionsOfRecord(r).iterator.map(m =>
            ExtractedRow("mention", m.docId, kind = Some(m.kind), surface = Some(m.surface)))
      case Left(_) => Iterator.empty
    }))
  }
}
