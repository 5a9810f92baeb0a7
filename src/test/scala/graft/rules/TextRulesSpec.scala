package graft.rules

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Prop.forAll
import graft.PropChecks

class TextRulesSpec extends AnyFunSuite with PropChecks {

  test("cleanWs collapses runs and trims (P14)") {
    assert(Text.cleanWs("  a \t b\n\nc ") == "a b c")
    assert(Text.cleanWs("") == "")
    assert(Text.cleanWs(null) == "")
  }

  test("cleanWs is idempotent") {
    checkProp(forAll { (s: String) => Text.cleanWs(Text.cleanWs(s)) == Text.cleanWs(s) })
  }

  test("markdown link stripping keeps labels") {
    assert(Text.stripMdLinks("[KU Leuven](https://ror.org/05f950310), Belgium")
      == "KU Leuven, Belgium")
  }

  // A8 branch coverage — every tier of nature_extractor.py:59-113.
  test("country: uppercase code tier") {
    assert(AffiliationNormalizer.normalize("Dept of Physics, Stanford University, Stanford, California 94305, USA")
      == ("Stanford University", "USA"))
  }
  test("country: capitalized name tier") {
    assert(AffiliationNormalizer.normalize("Institute of Natural Sciences, Westlake Institute for Advanced Study, Hangzhou 310024, China")
      == ("Westlake Institute for Advanced Study", "China"))
  }
  test("country: United States / United Kingdom normalization") {
    assert(AffiliationNormalizer.normalize("MRC Laboratory, Cambridge, United Kingdom")._2 == "UK")
    assert(AffiliationNormalizer.normalize("Broad Institute, Cambridge, United States")._2 == "USA")
  }
  test("department exclusion (F4) skips dept-shaped parts") {
    val (inst, c) = AffiliationNormalizer.normalize(
      "Department of Physics, School of Science, Westlake University, Hangzhou, China")
    assert(inst == "Westlake University" && c == "China")
  }
  test("tier-2 keywords: Center / BioHub") {
    assert(AffiliationNormalizer.normalize("Chan Zuckerberg BioHub, San Francisco, CA, USA")._1
      == "Chan Zuckerberg BioHub")
    assert(AffiliationNormalizer.normalize("Center for Quantum Science and Engineering, EPFL, Lausanne, Switzerland")._1
      == "Center for Quantum Science and Engineering")
  }
  test("fallback: last part when no keyword matches") {
    // reference picks the last comma-part after country-strip
    // (nature_extractor.py:109-111 — parts reversed, parts[0])
    assert(AffiliationNormalizer.normalize("Some Lab Collective, Nowhere, Atlantis")
      == ("Nowhere", "Atlantis"))
  }
  test("normalizer is total (never throws)") {
    checkProp(forAll { (s: String) => AffiliationNormalizer.normalize(s); true })
  }

  test("decodeEntities decodes exactly one level (no double-decode via &amp;)") {
    assert(Text.decodeEntities("Spin &amp; charge") == "Spin & charge")
    // the escaped sequence &amp;lt; means the literal text "&lt;" — a
    // first-pass &amp; replace would wrongly yield "<"
    assert(Text.decodeEntities("&amp;lt;tag&amp;gt;") == "&lt;tag&gt;")
    assert(Text.decodeEntities("a &lt;b&gt; &quot;c&quot; &#39;d&#39;&nbsp;e")
      == "a <b> \"c\" 'd' e")
  }

  test("journalName falls through generic meta values to og:site_name, class patterns, default") {
    val classPats = Text.classPats("journal-title")
    val generic = Set("Generic")
    def meta(attr: String, v: String) = s"""<meta $attr content="$v">"""
    val journal = meta("name=\"citation_journal_title\"", "Generic")
    val site = meta("property=\"og:site_name\"", "Spin &amp; Charge")
    val cls = """<span class="c-journal-title">Class <i>Journal</i></span>"""
    def name(html: String) = Text.journalName(html, classPats, generic, "Default")
    assert(name(journal + site + cls) == "Spin & Charge")
    assert(name(journal + meta("property=\"og:site_name\"", " ") + cls) == "Class Journal")
    assert(name(journal + """<span class="journal-title">Generic</span>""") == "Default")
    assert(name("") == "Default")
    // the first non-generic meta value wins over everything after it
    assert(name(meta("name=\"citation_journal_title\"", "Real") + site + cls) == "Real")
  }

  test("canonicalUrl trims og:url and rejects an empty one") {
    def og(v: String) = s"""<meta property="og:url" content="$v">"""
    assert(Text.canonicalUrl(og("  https://x.y/z ")).contains("https://x.y/z"))
    assert(Text.canonicalUrl(og("   ")).isEmpty)
    assert(Text.canonicalUrl("<html></html>").isEmpty)
  }

  test("LLM response parse matches the worked example shape (P25)") {
    val resp = "新闻风格介绍：一段介绍。\n\n论文信息提取：第一作者/共同作者单位/通讯作者单位：洛桑联邦理工学院*，其他作者单位：洛桑联邦理工学院，所有作者单位所属国家：瑞士，论文url链接：https://x.y/z，论文名：Some Title"
    val m = LlmResponseParser.parse(resp)
    assert(m("news_intro") == "一段介绍。")
    assert(m("first_corr_affils") == "洛桑联邦理工学院*")
    assert(m("other_affils") == "洛桑联邦理工学院")
    assert(m("countries") == "瑞士")
    assert(m("url") == "https://x.y/z")
    assert(m("paper_title") == "Some Title")
    assert(LlmResponseParser.parse("garbage").values.forall(_ == "N/A"))
  }
}
