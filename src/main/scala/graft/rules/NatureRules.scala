package graft.rules

import java.util.regex.Pattern
import graft.model.{Author, PaperRecord, PubDate}
import graft.rules.Text.{allGroups, firstGroup, tagStrip}
import scala.collection.mutable

/** Nature rule map: article HTML -> PaperRecord.
  *
  * Re-expresses the CSS-selector extraction of parse_nature_authors
  * (nature_extractor.py:153-247) as compiled-regex extraction over the
  * page text. Selector semantics covered:
  *
  *  - P1  title: h1.c-article-title (miss -> None; the reference's
  *        "Unknown Title" default is dropped at emission per E3)
  *  - P4  journal: meta[citation_journal_title] -> meta[og:site_name] ->
  *        .c-journal-title/... with generic-value rejection (F3),
  *        fallback "Nature"
  *  - P7  date: li.c-article-identifiers__item time[datetime] ->
  *        {iso_date, formatted_date}
  *  - P10 abstract: #Abs1-content p with <sup> citation markers dropped
  *  - P13 contributions: h3#contributions + following p
  *  - J1  author <-> affiliation join: affiliation list items carry an
  *        address and an author list (split on ",  " / " & ",
  *        nature_extractor.py:195); inverted into affiliations-per-author
  *  - J2  corresponding set: #corresponding-author-list anchor texts
  *  - W1  role assignment: [[graft.model.Author.roleOf]]
  *  - A1  countries: set of normalized affiliation countries over every
  *        affiliation item, including items that list no author (we emit
  *        sorted — SURVEY.md §5.4 determinism rule)
  */
object NatureRules {

  private val titlePat = Pattern.compile(
    """<h1[^>]*class="[^"]*c-article-title[^"]*"[^>]*>(.*?)</h1>""", Pattern.DOTALL)

  private val journalClassPats = Text.classPats(
    "c-journal-title", "journal-title", "c-header__title", "c-header__nav-link--home")
  // F3: site-wide names (case-sensitive) say nothing about the journal
  private val genericJournal = Set("Nature", "nature.com")

  private val timePat = Pattern.compile(
    """<li[^>]*class="[^"]*c-article-identifiers__item[^"]*"[^>]*>.*?<time[^>]*datetime="([^"]*)"[^>]*>(.*?)</time>""",
    Pattern.DOTALL)

  private val abstractPat = Pattern.compile(
    """<div[^>]*id="Abs1-content"[^>]*>\s*<p>(.*?)</p>""", Pattern.DOTALL)
  private val supPat = Pattern.compile("""<sup>.*?</sup>""", Pattern.DOTALL)

  private val contributionsPat = Pattern.compile(
    """<h3[^>]*id="contributions"[^>]*>.*?</h3>\s*<p>(.*?)</p>""", Pattern.DOTALL)

  private val equalContribPat = Pattern.compile(
    """<li[^>]*class="[^"]*c-article-author-information__item[^"]*"[^>]*>(.*?)</li>""",
    Pattern.DOTALL)

  private val affItemPat = Pattern.compile(
    """<li[^>]*id="(Aff[^"]*)"[^>]*>.*?c-article-author-affiliation__address[^>]*>(.*?)</p>.*?c-article-author-affiliation__authors-list[^>]*>(.*?)</p>""",
    Pattern.DOTALL)

  private val corrListPat = Pattern.compile(
    """<[^>]*id="corresponding-author-list"[^>]*>(.*?)</(?:div|p)>""", Pattern.DOTALL)
  private val anchorPat = Pattern.compile("""<a[^>]*>(.*?)</a>""", Pattern.DOTALL)

  private val authorNamePat = Pattern.compile(
    """<span[^>]*class="[^"]*js-search-name[^"]*"[^>]*>(.*?)</span>""", Pattern.DOTALL)

  // author-list split: re.split(r',\s*|\s*&\s*') (nature_extractor.py:195)
  private val authorSplit = Pattern.compile(""",\s*|\s*&\s*""")

  def parse(html: String, sourcePath: String): PaperRecord = {
    val docUrl = Text.canonicalUrl(html).getOrElse(sourcePath)
    val title = firstGroup(titlePat, html).map(tagStrip).filter(_.nonEmpty)

    val pubDate = {
      val m = timePat.matcher(html)
      if (m.find()) Some(PubDate(Some(m.group(1).trim), Some(tagStrip(m.group(2)))))
      else None
    }

    val abstractText = firstGroup(abstractPat, html)
      .map(a => tagStrip(supPat.matcher(a).replaceAll("")))
      .filter(_.nonEmpty)

    val contributions = firstGroup(contributionsPat, html).map(tagStrip).filter(_.nonEmpty)
    val equalContribs = allGroups(equalContribPat, html).map(tagStrip).filter(_.nonEmpty)

    // J1 build side: affiliation item -> (address, authors-in-affiliation)
    val authorAff = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    val countries = mutable.SortedSet.empty[String]
    val am = affItemPat.matcher(html)
    while (am.find()) {
      val address = tagStrip(am.group(2))
      val c = AffiliationNormalizer.country(address)
      if (c.nonEmpty) countries += c
      authorSplit.split(tagStrip(am.group(3))).map(_.trim).filter(_.nonEmpty).foreach { name =>
        authorAff.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += address
      }
    }

    // J2 build side: corresponding-author name set
    val corresponding: Set[String] = firstGroup(corrListPat, html)
      .map(seg => allGroups(anchorPat, seg).map(tagStrip).toSet)
      .getOrElse(Set.empty)

    val authors = allGroups(authorNamePat, html).map(tagStrip)
      .zipWithIndex.map { case (name, idx) =>
        val isCorr = corresponding.contains(name)
        Author(name, idx, Author.roleOf(idx, isCorr),
          authorAff.get(name).map(_.toSeq).getOrElse(Seq.empty), isCorr, Seq.empty, Seq.empty, None)
      }

    PaperRecord(
      docId = docUrl,
      journalTag = "nature-html",
      title = title,
      journalName = Some(Text.journalName(html, journalClassPats, genericJournal, "Nature")),
      url = Some(docUrl),
      doi = None,
      publicationDate = pubDate,
      abstractText = abstractText,
      contributions = contributions,
      equalContributions = equalContribs,
      countries = countries.toSeq,
      authors = authors,
      notes = Map.empty)
  }
}
