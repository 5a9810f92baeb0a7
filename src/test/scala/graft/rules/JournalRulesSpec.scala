package graft.rules

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.FixtureCorpus.resourceText

class JournalRulesSpec extends AnyFunSuite {

  private lazy val aps7x71 = ApsRules.parseSliced(
    resourceText("/graft/fixtures/aps_sliced_7x71-8j7k.md"), "p")
  private lazy val nature = NatureRules.parse(
    resourceText("/graft/fixtures/nature_s41567-025-02944-3.html"), "p")
  private lazy val science = ScienceRules.parse(
    resourceText("/graft/fixtures/science_synthetic.html"), "p")

  test("APS: doc identity, venue, date, title from the sliced page") {
    assert(aps7x71.docId == "10.1103/7x71-8j7k")
    assert(aps7x71.journalName.contains("PRX Quantum"))
    assert(aps7x71.publicationDate.flatMap(_.isoDate).contains("2025-08-19"))
    assert(aps7x71.title.contains("Low-Density Parity-Check Stabilizer Codes as Gapped Quantum Phases: Stability under Graph-Local Perturbations"))
    assert(aps7x71.abstractText.exists(_.startsWith("We generalize the proof of stability")))
  }

  test("APS: author fold with footnote joins (W3/J3/J5)") {
    val names = aps7x71.authors.map(_.name)
    assert(names == Seq("Wojciech De Roeck", "Vedika Khemani", "Yaodong Li",
      "Nicholas O’Dea", "Tibor Rakovszky"))
    val odea = aps7x71.authors.find(_.name == "Nicholas O’Dea").get
    assert(odea.isCorresponding && odea.role == "Corresponding Author")
    assert(odea.email.contains("nickodea@stanford.edu"))
    assert(odea.affiliations == Seq("Department of Physics, Stanford University, Stanford, California 94305, USA"))
    val tibor = aps7x71.authors.last
    assert(tibor.affiliations.size == 2 && tibor.marks == Seq("3", "4"))
    assert(aps7x71.authors.head.role == "First Author")
    assert(aps7x71.countries == Seq("Belgium", "Hungary", "USA"))
  }

  test("APS: unnumbered affiliations attach to all authors (9pbp-jzr9)") {
    val r = ApsRules.parseRaw(resourceText("/graft/fixtures/aps_raw_9pbp-jzr9.md"), "p").get
    assert(r.docId == "10.1103/9pbp-jzr9")
    assert(r.journalName.contains("Phys. Rev. Research"))
    assert(r.authors.map(_.name) == Seq("Guedong Park", "Yong Siah Teo", "Hyunseok Jeong"))
    assert(r.authors.forall(_.affiliations ==
      Seq("Seoul National University, Seoul 08826, Republic of Korea")))
    assert(r.authors(1).email.contains("ys_teo@snu.ac.kr"))
    assert(r.authors(2).email.contains("h.jeong37@gmail.com"))
    assert(r.authors.head.role == "First Author" && !r.authors.head.isCorresponding)
  }

  test("Nature: worked-example record (main.py:36-86) reproduced") {
    assert(nature.docId == "https://www.nature.com/articles/s41567-025-02944-3")
    assert(nature.title.contains("Predicting topological entanglement entropy in a Rydberg analogue simulator"))
    assert(nature.journalName.contains("Nature Physics"))
    assert(nature.publicationDate.contains(graft.model.PubDate(Some("2025-07-28"), Some("28 July 2025"))))
    assert(nature.authors.map(a => (a.name, a.role, a.isCorresponding)) == Seq(
      ("Linda Mauron", "First Author", false),
      ("Zakari Denis", "Other Author", false),
      ("Jannes Nys", "Other Author", false),
      ("Giuseppe Carleo", "Corresponding Author", true)))
    assert(nature.authors.forall(_.affiliations == Seq(
      "Institute of Physics, École Polytechnique Fédérale de Lausanne (EPFL), Lausanne, Switzerland",
      "Center for Quantum Science and Engineering, École Polytechnique Fédérale de Lausanne (EPFL), Lausanne, Switzerland")))
    assert(nature.countries == Seq("Switzerland"))
    assert(nature.contributions.exists(_.startsWith("L.M. wrote the code")))
    assert(nature.equalContributions == Seq("These authors contributed equally: Linda Mauron, Zakari Denis."))
    assert(nature.abstractText.exists(_.endsWith("degree of adiabaticity of the protocol.")))
  }

  test("Science: RDFa author blocks, marks, credits, notes") {
    assert(science.docId == "https://www.science.org/doi/10.1126/scitranslmed.test01")
    assert(science.title.contains("Engineered probiotics reprogram gut immunity in inflammatory disease"))
    assert(science.journalName.contains("Science Translational Medicine"))
    assert(science.publicationDate.contains(graft.model.PubDate(None, Some("14 August 2025"))))
    assert(science.authors.map(_.name) == Seq("Mei-Ling Chen", "Tomás García", "Sarah O'Neill"))
    val garcia = science.authors(1)
    assert(garcia.marks == Seq("†", "*") && garcia.isCorresponding)
    assert(garcia.role == "Corresponding Author")
    assert(garcia.creditRoles == Seq("Methodology, Supervision"))
    assert(science.authors.head.marks == Seq("†") && science.authors.head.role == "First Author")
    assert(science.notes == Map(
      "†" -> "These authors contributed equally to this work.",
      "*" -> "Corresponding author. Email: tomas.garcia@ox.ac.uk"))
    assert(science.abstractText.exists(_.contains("mucosal immune system. Here we engineer")))
    assert(science.countries == Seq("UK", "USA"))
  }

  test("Science: funding paragraphs extracted (A9, science_extractor.py:161-166)") {
    assert(science.funding == Seq(
      "Funding: National Institutes of Health grant R01-DK123456 (to S.O.); " +
        "Wellcome Trust Investigator Award 21700/Z/20/Z (to T.G.).",
      "M.-L.C. acknowledges a Stanford Bio-X graduate fellowship."))
    // other journals never populate the field
    assert(nature.funding.isEmpty && aps7x71.funding.isEmpty)
    // emission: one hasFunding triple per paragraph
    val triples = TripleEmit.emit(science).filter(_.pred == "hasFunding")
    assert(triples.map(_.obj).toSet == science.funding.toSet)
    assert(triples.forall(t => t.subj == science.docId))
  }

  test("Science: author blocks with extra attributes still parse (real-markup shape)") {
    // real science.org divs carry more attributes in arbitrary order —
    // the block regex must match any <div ... property="author" ...>
    val html = resourceText("/graft/fixtures/science_synthetic.html")
      .replace("<div property=\"author\">",
        "<div class=\"core-author\" property=\"author\" typeof=\"Person\">")
    val r = ScienceRules.parse(html, "p")
    assert(r.authors.map(_.name) == science.authors.map(_.name))
    assert(r.authors.map(_.affiliations) == science.authors.map(_.affiliations))
  }

  test("APS HTML: sentinel-less authors-wrapper does not sweep later page sections") {
    // no closing sentinel + a 'Cited by' section with author-search links
    // and an unrelated no-bullet list after the wrapper: the bounded
    // fallback must not parse them as paper authors/affiliations
    val html = resourceText("/graft/fixtures/aps_html_detailed.html")
      .replace("<!--/authors-wrapper-->", "") +
      """
        |<section class="cited-by"><h2>Cited by</h2>
        |<a href="/search/field/author/Phantom%20Person">Phantom Person</a>
        |<ul class="no-bullet"><li><sup>1</sup>Wrong Institute, Nowhere</li></ul>
        |</section>""".stripMargin
    val r = ApsHtmlRules.parse(html, "p")
    assert(!r.authors.exists(_.name.contains("Phantom")), r.authors.map(_.name).toString)
    assert(!r.authors.exists(_.affiliations.exists(_.contains("Wrong Institute"))))
    // the real author set is unaffected
    assert(r.authors.map(_.name) == Seq("Anna Kowalski", "Ben Okafor", "Chen Wei"))
  }

  test("W1 roleOf truth table, and every rule map assigns roles and countries through it") {
    import graft.fixtures.FixtureCorpus
    import graft.model.Author
    assert(Author.roleOf(0, isCorresponding = true) == "First/Corresponding Author")
    assert(Author.roleOf(0, isCorresponding = false) == "First Author")
    assert(Author.roleOf(3, isCorresponding = true) == "Corresponding Author")
    assert(Author.roleOf(3, isCorresponding = false) == "Other Author")

    val parsed = FixtureCorpus.baseRows.map(f =>
      f.lang -> graft.stages.MentionDetect.parseOne(f).fold(q => fail(q.error), identity))
    assert(parsed.map(_._1).toSet == Set("aps-md", "aps-html", "nature-html", "science-html"))
    val authors = parsed.flatMap(_._2.authors)
    assert(authors.nonEmpty)
    authors.foreach(a => assert(a.role == Author.roleOf(a.position, a.isCorresponding), a))
    // the fixture pages exercise all four roles
    assert(authors.map(_.role).toSet.size == 4)
    // A1 through the shared rule; Nature keeps its per-affiliation-item set
    parsed.filter(_._1 != "nature-html").foreach { case (lang, r) =>
      assert(r.countries == AffiliationNormalizer.countries(r.authors.flatMap(_.affiliations)),
        s"$lang ${r.docId}")
    }
  }

  test("main.py:30 default: first author becomes corresponding when unmarked") {
    import graft.model.PaperRecord
    // the fixture pages all mark a corresponding author -> no-op
    assert(PaperRecord.withDefaultCorresponding(science) == science)
    assert(PaperRecord.withDefaultCorresponding(nature) == nature)
    // strip the marks -> the first author is promoted
    val unmarked = science.copy(authors =
      science.authors.map(_.copy(isCorresponding = false, role = "Other Author"))
        .zipWithIndex.map { case (a, i) =>
          if (i == 0) a.copy(role = "First Author") else a })
    val fixed = PaperRecord.withDefaultCorresponding(unmarked)
    assert(fixed.authors.head.isCorresponding)
    assert(fixed.authors.head.role == "First/Corresponding Author")
    assert(fixed.authors.tail.forall(!_.isCorresponding))
  }
}
