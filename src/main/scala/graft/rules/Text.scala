package graft.rules

import java.util.regex.Pattern

/** Scalar text rules shared by all journal extractors.
  *
  * Pure functions over strings — used natively inside typed stages
  * (mapPartitions) and registered as UDFs for the SQL test surface.
  * Patterns are compiled once per JVM (object init), the Spark analog of
  * the reference's browser-singleton reuse (aps_extractor.py:14-50).
  */
object Text {

  private val ws = Pattern.compile("\\s+")

  /** Whitespace normalization (P14) — semantics of clean_text at
    * science_extractor.py:8-12: trim then collapse runs of whitespace.
    * Applied at every triple-emission point (critical for triple P/R).
    */
  def cleanWs(s: String): String =
    if (s == null || s.isEmpty) "" else ws.matcher(s.trim).replaceAll(" ")

  /** Minimal HTML entity decode for the fixture HTML shapes.
    * `&amp;` decodes LAST: decoding it first would double-decode escaped
    * entities (`&amp;lt;` must yield the literal text `&lt;`, not `<` —
    * matching how a real HTML parser decodes exactly one level).
    */
  def decodeEntities(s: String): String =
    s.replace("&lt;", "<")
      .replace("&gt;", ">")
      .replace("&quot;", "\"")
      .replace("&#39;", "'")
      .replace("&nbsp;", " ")
      .replace("&amp;", "&")

  /** Strip markdown inline links: `[label](url)` -> `label`. */
  private val mdLink = Pattern.compile("\\[([^\\]]*)\\]\\([^)]*\\)")
  def stripMdLinks(s: String): String = mdLink.matcher(s).replaceAll("$1")

  /** HTML fragment -> cleaned text: drop tags, decode entities, collapse
    * whitespace. ONE compiled tag pattern for all three HTML rule maps —
    * each previously went through `String.replaceAll`, which compiles a
    * fresh Pattern on EVERY call (~20 calls/page in the extraction hot
    * path; the largest per-page allocation term in the HTML shapes'
    * `graft.Probe alloc` profile).
    */
  private val tag = Pattern.compile("<[^>]+>")
  def tagStrip(html: String): String =
    cleanWs(decodeEntities(tag.matcher(html).replaceAll(" ")))

  /** Whitespace split via the shared compiled pattern (a literal
    * `split("\\s+")` re-compiles per call).
    */
  def splitWs(s: String): Array[String] = ws.split(s)
}

/** Institution / country normalizer (A8) — reproduces the semantics of
  * extract_institution_only (nature_extractor.py:59-113):
  *
  *  1. country via 4-pattern priority on the affiliation tail:
  *     `, XX(X)` uppercase code; `, Name` capitalized word;
  *     `, United States` -> USA; `, United Kingdom` -> UK.
  *  2. strip country, split rest on commas, reverse (main institution is
  *     usually last), pick the first part containing a tier-1 keyword
  *     (University/Institute/College/Academy/Hospital) that is not a
  *     department (F4); else tier-2 (Center/Centre/Laboratory/Foundation/
  *     BioHub); else the last part of the original string.
  */
object AffiliationNormalizer {

  // Pattern priority order matters (nature_extractor.py:62-67): the
  // 2-3-letter uppercase code pattern is tried before the capitalized
  // country-name pattern.
  private val pCode = Pattern.compile(",\\s*([A-Z]{2,3})$")
  private val pName = Pattern.compile(",\\s*([A-Z][a-z]+)$")
  private val pUS = Pattern.compile(",\\s*(United States)$")
  private val pUK = Pattern.compile(",\\s*(United Kingdom)$")

  private val tier1 = Seq("University", "Institute", "College", "Academy", "Hospital")
  private val tier2 = Seq("Center", "Centre", "Laboratory", "Foundation", "BioHub")
  private val deptWords = Seq("department of", "faculty of", "school of", "division of")

  private def isDept(part: String): Boolean = {
    val lower = part.toLowerCase
    deptWords.exists(lower.contains)
  }

  /** @return (institution, country) — country is "" when none matched. */
  def normalize(affiliation: String): (String, String) = {
    if (affiliation == null) return ("", "")
    val aff = affiliation
    var country = ""
    var cleanAff = aff
    val tries: Seq[(Pattern, String => String)] = Seq(
      (pCode, identity[String] _),
      (pName, identity[String] _),
      (pUS, (_: String) => "USA"),
      (pUK, (_: String) => "UK"))
    tries.iterator
      .map { case (p, f) => (p.matcher(aff), f) }
      .find(_._1.find())
      .foreach { case (m, f) =>
        country = f(m.group(1))
        cleanAff = m.replaceAll("").trim
      }

    val parts = cleanAff.split(",").map(_.trim).reverse.toSeq
    val institution = parts
      .find(p => tier1.exists(p.contains) && !isDept(p))
      .orElse(parts.find(p => tier2.exists(p.contains) && !isDept(p)))
      .orElse(parts.headOption) // reversed, so head = last original part
      .getOrElse("")
    (institution.trim, country)
  }

  def institution(aff: String): String = normalize(aff)._1
  def country(aff: String): String = normalize(aff)._2
}
