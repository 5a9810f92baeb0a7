package graft.rules

import java.util.regex.Pattern
import graft.model.{Author, PaperRecord, PubDate}
import graft.rules.Text.{allGroups, firstGroup, tagStrip}
import scala.collection.mutable

/** Science rule map: article HTML (RDFa property attributes) ->
  * PaperRecord. Re-expresses parse_science_authors
  * (science_extractor.py:75-195):
  *
  *  - P16 name = givenName + " " + familyName
  *  - P17 marks: <sup> symbols per author heading ("†" co-first,
  *        "*" corresponding)
  *  - affiliations: .affiliations [property='name'] per author
  *  - P18 credit roles: .core-credits text minus "Roles :"/"Role :"
  *  - notes: section.core-authors-notes doc-footnotes -> label -> text
  *  - P11 abstract: section#abstract div[role=paragraph], cleaned,
  *        space-joined
  *  - P8  date: span[property=datePublished]
  *  - P2  title: h1.article-title -> h1[property=headline] ->
  *        h1.core-title -> title
  *  - P5  journal chain with science.org/science rejection
  *        (case-insensitive), fallback "Science"
  *
  * The reference emits no role enum for Science; the engine unifies with
  * the Nature conventions: corresponding iff "*" mark present, W1 role
  * ([[graft.model.Author.roleOf]]).
  */
object ScienceRules {

  // One author block = everything from its opening tag up to the next
  // author block or the end of the contributors section. The opening tag
  // may carry other attributes in any order (real science.org markup is
  // e.g. <div class="core-author" property="author" typeof="Person"> —
  // the reference's [property='author'] CSS selector is order-agnostic).
  private val authorBlockPat = Pattern.compile(
    """<div[^>]*property="author"[^>]*>(.*?)(?=<div[^>]*property="author"[^>]*>|<section|</section>)""",
    Pattern.DOTALL)
  private val givenPat = Pattern.compile(
    """<span[^>]*property="givenName"[^>]*>(.*?)</span>""", Pattern.DOTALL)
  private val familyPat = Pattern.compile(
    """<span[^>]*property="familyName"[^>]*>(.*?)</span>""", Pattern.DOTALL)
  private val supPat = Pattern.compile("""<sup>(.*?)</sup>""", Pattern.DOTALL)
  private val affNamePat = Pattern.compile(
    """<div[^>]*class="affiliations"[^>]*>(.*?)</div>\s*(?:<div|$)""", Pattern.DOTALL)
  private val affEntryPat = Pattern.compile(
    """<span[^>]*property="name"[^>]*>(.*?)</span>""", Pattern.DOTALL)
  private val creditsPat = Pattern.compile(
    """<div[^>]*class="core-credits"[^>]*>(.*?)</div>""", Pattern.DOTALL)

  private val notesSectionPat = Pattern.compile(
    """<section[^>]*class="core-authors-notes"[^>]*>(.*?)</section>""", Pattern.DOTALL)
  // A9: funding paragraphs (science_extractor.py:161-166 — the reference
  // extracts them even though it comments the field out of its result)
  private val fundingSectionPat = Pattern.compile(
    """<section[^>]*class="core-funding"[^>]*>(.*?)</section>""", Pattern.DOTALL)
  private val footnotePat = Pattern.compile(
    """<div role="doc-footnote">\s*<div class="label">(.*?)</div>\s*<div id="[^"]*">(.*?)</div>""",
    Pattern.DOTALL)

  private val abstractSectionPat = Pattern.compile(
    """<section[^>]*id="abstract"[^>]*>(.*?)</section>""", Pattern.DOTALL)
  private val paragraphPat = Pattern.compile(
    """<div[^>]*role="paragraph"[^>]*>(.*?)</div>""", Pattern.DOTALL)

  private val datePat = Pattern.compile(
    """core-date-published[^>]*>\s*<span[^>]*property="datePublished"[^>]*>(.*?)</span>""",
    Pattern.DOTALL)

  private val titlePats = Seq(
    """<h1[^>]*class="[^"]*article-title[^"]*"[^>]*>(.*?)</h1>""",
    """<h1[^>]*property="headline"[^>]*>(.*?)</h1>""",
    """<h1[^>]*class="[^"]*core-title[^"]*"[^>]*>(.*?)</h1>""",
    """<title>(.*?)</title>""").map(Pattern.compile(_, Pattern.DOTALL))

  private val journalClassPats = Text.classPats(
    "journal-banner-title", "journal-title", "journal-name", "core-self-citation-journal-name")
  // P5: site-wide names, rejected case-insensitively
  private val genericJournal = Set("science.org", "science")

  def parse(html: String, sourcePath: String): PaperRecord = {
    val docUrl = Text.canonicalUrl(html).getOrElse(sourcePath)
    val title = titlePats.iterator.flatMap(p => firstGroup(p, html))
      .map(tagStrip).find(_.nonEmpty)

    val abstractText = firstGroup(abstractSectionPat, html)
      .map(sec => allGroups(paragraphPat, sec).map(tagStrip).mkString(" "))
      .filter(_.nonEmpty)

    val pubDate = firstGroup(datePat, html).map(tagStrip).filter(_.nonEmpty)
      .map(d => PubDate(None, Some(d)))

    val notes: Map[String, String] = firstGroup(notesSectionPat, html).map { sec =>
      val m = footnotePat.matcher(sec)
      val out = mutable.LinkedHashMap.empty[String, String]
      while (m.find()) out(tagStrip(m.group(1))) = tagStrip(m.group(2))
      out.toMap
    }.getOrElse(Map.empty)

    val funding: Seq[String] = firstGroup(fundingSectionPat, html)
      .map(sec => allGroups(paragraphPat, sec).map(tagStrip).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

    val authors = allGroups(authorBlockPat, html).zipWithIndex.map { case (block, idx) =>
      // The heading is everything before the content div; marks are its sups.
      val headingEnd = block.indexOf("""<div class="content">""")
      val heading = if (headingEnd >= 0) block.substring(0, headingEnd) else block
      val content = if (headingEnd >= 0) block.substring(headingEnd) else ""
      val name = (firstGroup(givenPat, heading), firstGroup(familyPat, heading)) match {
        case (Some(g), Some(f)) => s"${tagStrip(g)} ${tagStrip(f)}"
        case _ => ""
      }
      val marks = allGroups(supPat, heading).map(tagStrip).filter(_.nonEmpty)
      val affs = firstGroup(affNamePat, content)
        .map(seg => allGroups(affEntryPat, seg).map(tagStrip)).getOrElse(Seq.empty)
      val credits = firstGroup(creditsPat, content).map(tagStrip)
        .map(_.replace("Roles :", "").replace("Role :", "").trim)
        .filter(_.nonEmpty)
      val isCorr = marks.contains("*")
      Author(name, idx, Author.roleOf(idx, isCorr), affs, isCorr, marks, credits.toSeq, None)
    }.filter(_.name.nonEmpty)

    PaperRecord(
      docId = docUrl,
      journalTag = "science-html",
      title = title,
      journalName = Some(Text.journalName(html, journalClassPats,
        v => genericJournal(v.toLowerCase), "Science")),
      url = Some(docUrl),
      doi = None,
      publicationDate = pubDate,
      abstractText = abstractText,
      contributions = None,
      equalContributions = Seq.empty,
      countries = AffiliationNormalizer.countries(authors.flatMap(_.affiliations)),
      authors = authors,
      notes = notes,
      funding = funding)
  }
}
