package graft.rules

import java.util.regex.Pattern
import graft.model.{Author, PaperRecord, PubDate}
import scala.collection.mutable

/** APS rule map: sliced crawl-markdown page -> PaperRecord.
  *
  * Parses the shape produced by [[MarkdownSlicer.slice]] (the reference's
  * crawl4ai-markdown path, fixture shape per the committed
  * extracted_content*.md goldens):
  *
  *   # Title                                              (P3)
  *   [Name](...search/field/author/...)[](orcid)1,2,*, ... and [Name]...
  *   * 1Dept of X, [Univ Y](ror), City 12345, Country    (footnote affils)
  *   * *Contact author: a@b.edu                          (P19 / J5)
  *   Journal **vol** , artid – **Published d MMMM, yyyy** (P6/P9)
  *   DOI: https://doi.org/10.1103/xxxx                    (P15)
  *   ## Abstract
  *   <first >100-char paragraph>                          (P12/P21)
  *
  * Author-segment parse reproduces the fold semantics of
  * parse_authors_detailed (aps_extractor.py:276-304): digit marks join to
  * numbered affiliations (J3), symbol marks join to contact-author
  * footnotes (J5). When the page has no numbered affiliations, every
  * affiliation attaches to every author (single-institution pages, e.g.
  * the 9pbp-jzr9 fixture).
  */
object ApsRules {

  // [Name](https://journals.aps.org/search/field/author/...) [](orcid)? marks?
  private val authorPat = Pattern.compile(
    """\[([^\]]+)\]\([^)]*?/search/field/author/[^)]*\)(?:\s*\[\]\([^)]*\))?\s*([0-9,*†‡§¶#]*)""")

  // "  * 1Dept, [Univ](ror), City, Country"  — optional leading footnote num
  private val affilPat = Pattern.compile("""^\s*\*\s+(\d*)(.+)$""")

  private val contactPat = Pattern.compile(
    """^\s*\*?\s*([*†‡§¶#])Contact author:\s*(\S+@\S+)\s*$""")

  // "PRX Quantum **6** , 030330 – **Published 19 August, 2025**"
  private val venuePat = Pattern.compile(
    """^(.+?)\s+\*\*\d+\*\*\s*,\s*\S+\s*[–-]\s*\*\*Published\s+([^*]+)\*\*\s*$""")

  private val doiPat = Pattern.compile("""DOI:\s*https://doi\.org/(\S+)""")

  // "19 August, 2025" -> 2025-08-19 (reference date shape: extracted_content.md:20)
  private val months = Seq("January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December")
  private val datePat = Pattern.compile("""(\d{1,2})\s+([A-Za-z]+),?\s+(\d{4})""")
  private val slashDatePat = Pattern.compile("""(\d{4})/(\d{1,2})/(\d{1,2})""")
  def toIsoDate(formatted: String): Option[String] = {
    val m = datePat.matcher(formatted)
    if (m.find()) {
      val month = months.indexWhere(_.equalsIgnoreCase(m.group(2))) + 1
      if (month == 0) None
      else Some(f"${m.group(3).toInt}%04d-$month%02d-${m.group(1).toInt}%02d")
    } else {
      // meta citation_publication_date shape: yyyy/mm/dd
      val s = slashDatePat.matcher(formatted)
      if (s.find()) Some(f"${s.group(1).toInt}%04d-${s.group(2).toInt}%02d-${s.group(3).toInt}%02d")
      else None
    }
  }

  /** Parse an already-sliced APS markdown page. */
  def parseSliced(sliced: String, sourcePath: String): PaperRecord = {
    val lines = sliced.split("\n", -1)

    val title = lines.find(_.strip().startsWith("# "))
      .map(l => Text.cleanWs(l.strip().drop(2)))

    // Footnote affiliations: num -> text (J3 build side); de-linked, cleaned.
    val affilByNum = mutable.LinkedHashMap.empty[String, String]
    val unnumbered = mutable.ArrayBuffer.empty[String]
    // Contact footnotes: symbol mark -> email (J5 build side).
    val emailByMark = mutable.LinkedHashMap.empty[String, String]
    var venue: Option[(String, String)] = None
    var doi: Option[String] = None

    // ONE matcher per pattern per call, reset(line) per line — the
    // previous per-line matcher allocation (4 Matchers x ~30 lines) was
    // the largest term left in the extraction allocation profile after
    // the slicer rewrite (`graft.Probe alloc`); stripped is likewise computed
    // once per line instead of three times
    val cm = contactPat.matcher("")
    val am = affilPat.matcher("")
    val vm = venuePat.matcher("")
    val dm = doiPat.matcher("")
    lines.foreach { raw =>
      val line = raw.stripLineEnd
      val stripped = line.strip()
      cm.reset(stripped)
      if (cm.matches()) {
        emailByMark.getOrElseUpdate(cm.group(1), cm.group(2))
      } else {
        am.reset(line)
        if (am.matches() && stripped.startsWith("*")) {
          val body = Text.cleanWs(Text.stripMdLinks(am.group(2)))
          if (body.nonEmpty && body.contains(",")) { // affiliations carry addresses
            if (am.group(1).nonEmpty) affilByNum(am.group(1)) = body
            else unnumbered += body
          }
        }
        vm.reset(stripped)
        if (vm.matches() && venue.isEmpty)
          venue = Some((Text.cleanWs(vm.group(1)), Text.cleanWs(vm.group(2))))
        dm.reset(line)
        if (dm.find() && doi.isEmpty) doi = Some(dm.group(1).strip())
      }
    }

    // Author line = the first line right after the title containing an
    // author-search link (F6 predicate).
    val authorLine = lines.find(_.contains("/search/field/author/"))
    val authors = authorLine.map(parseAuthors(_, affilByNum.toMap, unnumbered.toSeq,
      emailByMark.toMap)).getOrElse(Seq.empty)

    // Abstract: first >100-char line after "## Abstract" (P21 threshold).
    val absIdx = lines.indexWhere(_.strip() == "## Abstract")
    val abstractText =
      if (absIdx < 0) None
      else lines.drop(absIdx + 1).map(_.strip()).find(_.length > 100).map(Text.cleanWs)

    val countries = authors.flatMap(_.affiliations)
      .map(AffiliationNormalizer.country).filter(_.nonEmpty).distinct.sorted

    PaperRecord(
      docId = doi.getOrElse(sourcePath),
      journalTag = "aps-md",
      title = title,
      journalName = venue.map(_._1).orElse(Some("Physical Review (APS)")),
      url = doi.map(d => s"https://doi.org/$d"),
      doi = doi,
      publicationDate = venue.map { case (_, d) => PubDate(toIsoDate(d), Some(d)) },
      abstractText = abstractText,
      contributions = None,
      equalContributions = Seq.empty,
      countries = countries,
      authors = authors,
      notes = Map.empty)
  }

  /** Full path: raw crawl markdown -> slice -> parse. None when the slicer
    * finds no paper body (quarantine path).
    */
  def parseRaw(markdown: String, sourcePath: String): Option[PaperRecord] =
    MarkdownSlicer.slice(markdown).map(parseSliced(_, sourcePath))

  private def parseAuthors(
      line: String,
      affilByNum: Map[String, String],
      unnumbered: Seq[String],
      emailByMark: Map[String, String]): Seq[Author] = {
    val m = authorPat.matcher(line)
    val found = mutable.ArrayBuffer.empty[(String, Seq[String])]
    while (m.find()) {
      val name = Text.cleanWs(m.group(1))
      val marks = m.group(2).split(",").map(_.strip()).filter(_.nonEmpty).toSeq
      if (name.nonEmpty) found += ((name, marks))
    }
    val hasNumbered = affilByNum.nonEmpty
    found.toSeq.zipWithIndex.map { case ((name, marks), idx) =>
      val affs =
        if (hasNumbered) marks.filter(_.forall(_.isDigit)).flatMap(affilByNum.get)
        else unnumbered
      val symbolMarks = marks.filterNot(_.forall(_.isDigit))
      val email = symbolMarks.flatMap(emailByMark.get).headOption
      val isCorr = symbolMarks.exists(emailByMark.contains)
      val role =
        if (idx == 0 && isCorr) "First/Corresponding Author"
        else if (idx == 0) "First Author"
        else if (isCorr) "Corresponding Author"
        else "Other Author"
      Author(name, idx, role, affs, isCorr, marks, Seq.empty, email)
    }
  }
}
