package graft.rules

import java.util.regex.Pattern
import graft.model.{Author, PaperRecord, PubDate}
import scala.collection.mutable

/** APS rule map for article HTML — the DOM path of the reference
  * (scrape_aps_authors, aps_extractor.py:364-399), including the
  * 4-strategy author-parse fallback chain (E1, aps_extractor.py:212-246):
  *
  *  1. detailed: div.authors-wrapper author line (author-search anchors,
  *     F6) + footnote joins — digit sups -> affiliations (J3), symbol
  *     sups -> contribution notes;
  *  2. text-pattern: capitalized-name regexes over the first matching
  *     author container, capped at 10 matches (L2);
  *  3. meta tags: citation_author zipped positionally with
  *     citation_author_institution ONLY when lengths match (J4,
  *     aps_extractor.py:330-344);
  *  4. generic author links: href containing "author", name must have
  *     >= 2 words (F5), capped at 10 (L2).
  *
  * Each strategy is tried only if the previous produced no authors —
  * the only-if-empty coalesce semantics of the reference.
  */
object ApsHtmlRules {

  private def tagStrip(html: String): String =
    Text.tagStrip(html)

  private def firstGroup(p: Pattern, html: String): Option[String] = {
    val m = p.matcher(html)
    if (m.find()) Some(m.group(1)) else None
  }
  private def allGroups(p: Pattern, html: String): Seq[String] = {
    val m = p.matcher(html)
    val out = mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group(1)
    out.toSeq
  }

  // --- P3 title: 5 selectors + meta fallback ---
  private val titlePats = Seq(
    """<h1[^>]*class="[^"]*\btitle\b[^"]*"[^>]*>(.*?)</h1>""",
    """<h1[^>]*data-behavior="title"[^>]*>(.*?)</h1>""",
    """<h1[^>]*class="[^"]*article-title[^"]*"[^>]*>(.*?)</h1>""",
    """<div[^>]*class="[^"]*title-wrapper[^"]*"[^>]*>\s*<h1[^>]*>(.*?)</h1>""",
    """<title>(.*?)</title>""").map(Pattern.compile(_, Pattern.DOTALL))
  private val metaTitlePat = Pattern.compile(
    """<meta[^>]*name="citation_title"[^>]*content="([^"]*)"""")

  // --- P6 journal ---
  private val journalClassPats = Seq("journal-title", "journal-name", "header-journal-title")
    .map(c => Pattern.compile(s"""<[^>]*class="[^"]*$c[^"]*"[^>]*>(.*?)</""", Pattern.DOTALL))
  private val metaJournalPat = Pattern.compile(
    """<meta[^>]*name="citation_journal_title"[^>]*content="([^"]*)"""")
  private val metaSitePat = Pattern.compile(
    """<meta[^>]*property="og:site_name"[^>]*content="([^"]*)"""")

  // --- P9 date ---
  private val pubInfoPat = Pattern.compile(
    """<div[^>]*class="[^"]*pub-info-wrapper[^"]*"[^>]*>.*?<strong>(.*?)</strong>""",
    Pattern.DOTALL)
  private val publishedPat = Pattern.compile("""Published\s+(.+)""")
  private val metaDatePat = Pattern.compile(
    """<meta[^>]*name="citation_publication_date"[^>]*content="([^"]*)"""")

  // --- P12 abstract ---
  private val abstractPat = Pattern.compile(
    """<div[^>]*id="abstract-section-content"[^>]*>.*?<p>(.*?)</p>""", Pattern.DOTALL)
  private val metaAbstractPat = Pattern.compile(
    """<meta[^>]*name="citation_abstract"[^>]*content="([^"]*)"""")

  private val metaDoiPat = Pattern.compile(
    """<meta[^>]*name="citation_doi"[^>]*content="([^"]*)"""")

  // --- strategy 1: detailed authors-wrapper ---
  // Fallback alternative (no closing sentinel) is BOUNDED at the next
  // section-level element instead of end-of-document: an unbounded (.*)
  // would sweep 'Cited by'/related-article author links and unrelated
  // no-bullet lists from the rest of the page into the author parse (the
  // reference scopes via the BS4 element subtree, which ends with the
  // wrapper div).
  private val wrapperPat = Pattern.compile(
    """<div[^>]*class="[^"]*authors-wrapper[^"]*"[^>]*>(.*?)</div>\s*<!--/authors-wrapper-->|<div[^>]*class="[^"]*authors-wrapper[^"]*"[^>]*>(.*?)(?=<h2|<section|<footer|<div[^>]*class="[^"]*(?:references|cited|related)|$)""",
    Pattern.DOTALL)
  private val authorAnchorPat = Pattern.compile(
    """<a href="[^"]*/search/field/author/[^"]*"[^>]*>(.*?)</a>\s*(?:<sup>(.*?)</sup>)?""",
    Pattern.DOTALL)
  private val noBulletLiPat = Pattern.compile(
    """<ul[^>]*class="[^"]*no-bullet[^"]*"[^>]*>(.*?)</ul>""", Pattern.DOTALL)
  private val contribNotesPat = Pattern.compile(
    """<ul[^>]*class="[^"]*contrib-notes[^"]*"[^>]*>(.*?)</ul>""", Pattern.DOTALL)
  private val liSupPat = Pattern.compile(
    """<li[^>]*>\s*<sup>(.*?)</sup>(.*?)</li>""", Pattern.DOTALL)

  // --- strategy 2: text-pattern (aps_extractor.py:306-328) ---
  private val authorContainerPats = Seq(
    """<div[^>]*class="[^"]*authors[^"]*"[^>]*>\s*<p[^>]*>(.*?)</p>""",
    """<[^>]*class="[^"]*author-list[^"]*"[^>]*>(.*?)</""")
    .map(Pattern.compile(_, Pattern.DOTALL))
  private val namePats = Seq(
    """([A-Z][a-z]+ [A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)""",
    """([A-Z]\.\s*[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*)""").map(Pattern.compile)

  // --- strategy 3: meta tags (J4 positional zip) ---
  private val metaAuthorPat = Pattern.compile(
    """<meta[^>]*name="citation_author"[^>]*content="([^"]*)"""")
  private val metaAffilPat = Pattern.compile(
    """<meta[^>]*name="citation_author_institution"[^>]*content="([^"]*)"""")

  // --- strategy 4: generic author links (F5/F6/L2) ---
  private val genericAuthorLink = Pattern.compile(
    """<a href="[^"]*[aA]uthor[^"]*"[^>]*>(.*?)</a>""", Pattern.DOTALL)

  /** (name, affiliations, contributionRoles, corresponding) rows. */
  private def parseDetailed(html: String): Seq[(String, Seq[String], Seq[String])] = {
    val wm = wrapperPat.matcher(html)
    if (!wm.find()) return Seq.empty
    val wrapper = Option(wm.group(1)).getOrElse(wm.group(2))
    val affilDict = firstGroup(noBulletLiPat, wrapper).map { ul =>
      val m = liSupPat.matcher(ul)
      val d = mutable.LinkedHashMap.empty[String, String]
      while (m.find()) d(tagStrip(m.group(1))) = tagStrip(m.group(2))
      d.toMap
    }.getOrElse(Map.empty)
    val roleDict = firstGroup(contribNotesPat, wrapper).map { ul =>
      val m = liSupPat.matcher(ul)
      val d = mutable.LinkedHashMap.empty[String, String]
      while (m.find()) d(tagStrip(m.group(1))) = tagStrip(m.group(2))
      d.toMap
    }.getOrElse(Map.empty)

    val m = authorAnchorPat.matcher(wrapper)
    val out = mutable.ArrayBuffer.empty[(String, Seq[String], Seq[String])]
    while (m.find()) {
      val name = tagStrip(m.group(1))
      val marks = Option(m.group(2)).map(_.split(",").map(s => tagStrip(s)).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      val affs = marks.filter(_.forall(_.isDigit)).flatMap(affilDict.get)
      val roles = marks.filterNot(_.forall(_.isDigit)).flatMap(roleDict.get)
      if (name.nonEmpty) out += ((name, affs, roles))
    }
    out.toSeq
  }

  private def parseTextPattern(html: String): Seq[(String, Seq[String], Seq[String])] = {
    authorContainerPats.iterator.flatMap(p => firstGroup(p, html)).map(tagStrip).collectFirst {
      case text if text.nonEmpty =>
        namePats.iterator.map(p => allGroups(p, text)).find(_.nonEmpty)
          .map(_.take(10).map(n => (Text.cleanWs(n), Seq.empty[String], Seq.empty[String])))
          .getOrElse(Seq.empty)
    }.getOrElse(Seq.empty)
  }

  // meta content attributes are entity-encoded HTML like everything else
  // (BS4 decodes them; '&amp;' in a title must come back as '&')
  private def metaText(v: String): String = Text.cleanWs(Text.decodeEntities(v))

  private def parseMeta(html: String): Seq[(String, Seq[String], Seq[String])] = {
    val names = allGroups(metaAuthorPat, html).map(metaText)
    val affs = allGroups(metaAffilPat, html).map(metaText)
    if (names.isEmpty) Seq.empty
    else if (affs.nonEmpty && affs.length == names.length)
      names.zip(affs).map { case (n, a) => (n, Seq(a), Seq.empty[String]) } // J4 guarded zip
    else names.map(n => (n, Seq.empty[String], Seq.empty[String]))
  }

  private def parseFallbackLinks(html: String): Seq[(String, Seq[String], Seq[String])] =
    allGroups(genericAuthorLink, html).take(10).map(tagStrip)
      .filter(n => n.nonEmpty && Text.splitWs(n).length >= 2) // F5
      .map(n => (n, Seq.empty[String], Seq.empty[String]))

  def parse(html: String, sourcePath: String): PaperRecord = {
    val title = titlePats.iterator.flatMap(p => firstGroup(p, html)).map(tagStrip)
      .find(_.nonEmpty)
      .orElse(firstGroup(metaTitlePat, html).map(metaText).filter(_.nonEmpty))

    val journal = journalClassPats.iterator.flatMap(p => firstGroup(p, html)).map(tagStrip)
      .find(_.nonEmpty)
      .orElse(firstGroup(metaJournalPat, html).map(metaText).filter(_.nonEmpty))
      .orElse(firstGroup(metaSitePat, html).map(metaText).filter(_.nonEmpty))
      .getOrElse("Physical Review (APS)")

    val dateStr = firstGroup(pubInfoPat, html).map(tagStrip)
      .filter(_.contains("Published")) // F10 guard
      .flatMap(t => firstGroup(publishedPat, t)).map(_.trim)
      .orElse(firstGroup(metaDatePat, html).map(_.trim).filter(_.nonEmpty))

    val abstractText = firstGroup(abstractPat, html).map(tagStrip).filter(_.nonEmpty)
      .orElse(firstGroup(metaAbstractPat, html).map(v => Text.cleanWs(Text.decodeEntities(v)))
        .filter(_.nonEmpty))

    val doi = firstGroup(metaDoiPat, html).map(_.trim).filter(_.nonEmpty)

    // E1: ordered only-if-empty strategy chain.
    val raw = Seq(
      () => parseDetailed(html),
      () => parseTextPattern(html),
      () => parseMeta(html),
      () => parseFallbackLinks(html)).iterator.map(_.apply()).find(_.nonEmpty)
      .getOrElse(Seq.empty)

    val authors = raw.zipWithIndex.map { case ((name, affs, roles), idx) =>
      val isCorr = roles.exists(_.toLowerCase.contains("contact"))
      val role =
        if (idx == 0 && isCorr) "First/Corresponding Author"
        else if (idx == 0) "First Author"
        else if (isCorr) "Corresponding Author"
        else "Other Author"
      Author(name, idx, role, affs, isCorr, Seq.empty, roles, None)
    }

    val countries = authors.flatMap(_.affiliations)
      .map(AffiliationNormalizer.country).filter(_.nonEmpty).distinct.sorted

    PaperRecord(
      docId = doi.getOrElse(sourcePath),
      journalTag = "aps-html",
      title = title,
      journalName = Some(journal),
      url = doi.map(d => s"https://doi.org/$d"),
      doi = doi,
      publicationDate = dateStr.map(d => PubDate(ApsRules.toIsoDate(d), Some(d))),
      abstractText = abstractText,
      contributions = None,
      equalContributions = Seq.empty,
      countries = countries,
      authors = authors,
      notes = Map.empty)
  }
}
