package graft.perfbench

import graft.fixtures.FixtureCorpus
import graft.model.SourceFile
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so executors rebuild any row without shipping the
  * corpus and two runs with one seed see identical tables. The engine
  * only ever receives the generated tables.
  */
object Gen {

  /** splitmix64 finalizer over (seed, stream, index). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, stream, i), n.toLong).toInt

  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11).toDouble / (1L << 53).toDouble

  def sha256Hex(s: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }

  private def commitOf(repo: String, path: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(s"$repo/$path", 11)}%08x"

  // -------------------------------------------------- replicated fixture pages

  /** Replication of the 7 fixture pages: each block of 7 rows holds every
    * base page once, in a seeded order (so the page mix, and with it the
    * source table's size, hardly depends on the seed); ~30% of
    * rows in one hot repo; and every 1000th row, from row 250 on, a giant
    * page (the raw APS page with 50 appended copies of itself, which the
    * slicer reduces to the base page's triples).
    */
  final case class ColdSpec(seed: Long, pages: Int) {
    val GiantEvery = 1000
    val GiantFirst = 250
    val GiantFactor = 50
    def giants: Int = if (pages <= GiantFirst) 0 else (pages - GiantFirst - 1) / GiantEvery + 1
    def isGiant(i: Int): Boolean = i % GiantEvery == GiantFirst
    /** index into the base rows; giants are always base 0 */
    def baseOf(i: Int): Int = {
      val n = FixtureCorpus.fixtures.length
      val block = (0 until n).sortBy(k => mix(seed, 1, (i / n).toLong * n + k))
      if (isGiant(i)) 0 else block(i % n)
    }
  }

  def coldRow(spec: ColdSpec, base: IndexedSeq[SourceFile], i: Int): SourceFile = {
    val b = base(spec.baseOf(i))
    val repo = if (pick(spec.seed, 2, i, 10) < 3) "journals/hot-repo" else s"repo-${pick(spec.seed, 3, i, 20)}"
    val path = s"${b.path.stripSuffix(".page")}_s${spec.seed}_r$i.page"
    val content =
      if (spec.isGiant(i)) b.content + ("\n" + b.content) * spec.GiantFactor else b.content
    SourceFile(repo, path, commitOf(repo, path), b.lang, content)
  }

  /** Expectations the replicated-page gates check against. */
  final case class ColdTruth(multiplicity: Map[Int, Long], shaByContentKind: Map[String, String],
      sourceBytes: Long)

  def coldTruth(spec: ColdSpec, base: IndexedSeq[SourceFile]): ColdTruth = {
    val mult = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var bytes = 0L
    val baseBytes = base.map(_.content.getBytes(StandardCharsets.UTF_8).length.toLong)
    (0 until spec.pages).foreach { i =>
      val b = spec.baseOf(i)
      mult(b) += 1
      bytes += (if (spec.isGiant(i)) baseBytes(b) * (spec.GiantFactor + 1) + spec.GiantFactor else baseBytes(b))
    }
    val shas = base.indices.map(b => s"base$b" -> sha256Hex(base(b).content)).toMap +
      ("giant" -> sha256Hex(base(0).content + ("\n" + base(0).content) * spec.GiantFactor))
    ColdTruth(mult.toMap, shas, bytes)
  }

  def coldContentKind(spec: ColdSpec, i: Int): String =
    if (spec.isGiant(i)) "giant" else s"base${spec.baseOf(i)}"

  // ------------------------------------------------------- planted-name pages

  private val syllables = IndexedSeq(
    "ka", "lo", "mi", "ren", "tas", "vor", "del", "im", "sa", "gun", "bre", "tho", "nal",
    "quin", "zo", "per", "ul", "ros", "fen", "dar", "wik", "ost", "ja", "mel", "cor", "vin",
    "eth", "bax", "lun", "sid", "hol", "tre", "gar", "pim", "nok", "ulf", "yar", "zen", "bra",
    "dov", "kir", "mos", "ped", "rau", "sev", "tob", "vel", "wes", "xan", "yul", "zar", "fi",
    "go", "hu", "ne", "po", "ri", "su", "te", "va")

  private def word(seed: Long, stream: Long, i: Long, parts: Int): String = {
    val s = (0 until parts).map(k => syllables(pick(seed, stream + k, i, syllables.length))).mkString
    s.head.toUpper + s.tail
  }

  /** Same shingling as the linker documents: lowercase alphanumerics,
    * character 3-grams. Re-implemented here so the generator's
    * distinctness guarantee does not depend on the code under test.
    */
  def foldKey(s: String): String = s.toLowerCase.filter(_.isLetterOrDigit)
  def grams(s: String): Set[String] = {
    val k = foldKey(s)
    if (k.length <= 3) Set(k) else k.sliding(3).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.intersect(b).size.toDouble
    if (a.isEmpty && b.isEmpty) 1.0 else i / (a.size + b.size - i)
  }

  /** One planted person: the canonical surface, exact-fold variants
    * (case, punctuation, spacing) and one one-character typo.
    */
  final case class Person(id: Int, canonical: String, exact: IndexedSeq[String], typo: String,
      institution: Int)

  final case class LinkSpec(seed: Long, people: Int, institutions: Int, pages: Int,
      authorsPerPage: Int)

  final case class LinkWorld(spec: LinkSpec, persons: IndexedSeq[Person],
      institutions: IndexedSeq[String])

  /** Draws names until each is far (3-gram Jaccard < maxSim) from every
    * name drawn before, so distinct planted entities can never be linked
    * by a correct linker — an inverted gram index keeps this linear.
    */
  private def distinctNames(n: Int, maxSim: Double)(draw: Long => String): IndexedSeq[String] = {
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val out = mutable.ArrayBuffer.empty[String]
    val outGrams = mutable.ArrayBuffer.empty[Set[String]]
    var attempt = 0L
    while (out.size < n) {
      val name = draw(attempt)
      attempt += 1
      val g = grams(name)
      val overlap = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
      g.foreach(x => index.get(x).foreach(_.foreach(j => overlap(j) += 1)))
      val close = overlap.exists { case (j, inter) =>
        inter.toDouble / (g.size + outGrams(j).size - inter) >= maxSim
      }
      if (!close && g.size >= 8) {
        val id = out.size
        out += name
        outGrams += g
        g.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += id)
      }
      require(attempt < n.toLong * 200, s"name generator exhausted at ${out.size}/$n")
    }
    out.toIndexedSeq
  }

  def linkWorld(spec: LinkSpec): LinkWorld = {
    val seed = spec.seed
    val names = distinctNames(spec.people, 0.3) { a =>
      s"${word(seed, 10, a, 2)} ${word(seed, 20, a, 3)}"
    }
    // the shared "Institute" suffix is 7 of each name's grams, so the
    // bar sits higher here — still well under the linker's tau = 0.55
    val insts = distinctNames(spec.institutions, 0.45) { a =>
      s"${word(seed, 30, a, 3)} ${word(seed, 40, a, 2)} Institute"
    }
    val persons = names.zipWithIndex.map { case (canon, id) =>
      val Array(first, last) = canon.split(" ", 2)
      val cut = 1 + pick(seed, 50, id, last.length - 1)
      val exact = IndexedSeq(
        s"$first ${last.toUpperCase}",                    // case
        s"$first ${last.take(cut)}'${last.drop(cut)}",    // punctuation
        s"$first ${last.take(cut)} ${last.drop(cut)}")    // spacing
      // one interior substitution in the family name, re-drawn until the
      // typo still verifies (Jaccard >= 0.6 > the linker's tau = 0.55),
      // so recall measures blocking, not the verify threshold
      val canonGrams = grams(canon)
      val typo = Iterator.from(0).map { k =>
        val pos = 1 + pick(seed, 60 + k, id, last.length - 1)
        val orig = last(pos)
        val repl = ('a' + (orig - 'a' + 1 + pick(seed, 70 + k, id, 24)) % 26).toChar
        s"$first ${last.updated(pos, repl)}"
      }.find(t => foldKey(t) != foldKey(canon) && jaccard(grams(t), canonGrams) >= 0.6)
        .getOrElse(canon + "x")
      Person(id, canon, exact, typo, pick(seed, 80, id, spec.institutions))
    }
    LinkWorld(spec, persons, insts)
  }

  /** Surface used for author slot `k` of page `i`: 55% canonical, 30% an
    * exact-fold variant, 15% the typo.
    */
  def authorSurface(world: LinkWorld, i: Int, k: Int): (Person, String) = {
    val seed = world.spec.seed
    val p = world.persons(pick(seed, 100 + k, i, world.persons.size))
    val u = unit(seed, 200 + k, i)
    val s = if (u < 0.55) p.canonical
      else if (u < 0.85) p.exact(pick(seed, 300 + k, i, p.exact.size))
      else p.typo
    (p, s)
  }

  def linkRow(world: LinkWorld, i: Int): SourceFile = {
    val seed = world.spec.seed
    val doi = s"10.5555/bench.$seed.$i"
    val title = s"${word(seed, 400, i, 3)} ${word(seed, 401, i, 2)} transport in layered systems $i"
    val sb = new StringBuilder
    sb ++= "<html>\n<head>\n"
    sb ++= "<meta name=\"citation_journal_title\" content=\"Physical Review B\"/>\n"
    sb ++= s"""<meta name="citation_doi" content="$doi"/>\n"""
    sb ++= s"""<meta name="citation_title" content="$title"/>\n"""
    sb ++= s"""<meta name="citation_publication_date" content="2024/0${1 + i % 9}/1${i % 10}"/>\n"""
    val seen = mutable.HashSet.empty[Int]
    (0 until world.spec.authorsPerPage).foreach { k =>
      val (p, surface) = authorSurface(world, i, k)
      if (seen.add(p.id)) {
        sb ++= s"""<meta name="citation_author" content="$surface"/>\n"""
        sb ++= s"""<meta name="citation_author_institution" content="Department of Physics, ${world.institutions(p.institution)}, Oslo, Norway"/>\n"""
      }
    }
    sb ++= s"""<meta name="citation_abstract" content="We report measurements on sample $i."/>\n"""
    sb ++= s"<title>$title | Phys. Rev. B</title>\n</head>\n<body>\n"
    sb ++= "<div class=\"article-content\">No structured author markup on this page variant.</div>\n"
    sb ++= "</body>\n</html>\n"
    val repo = s"repo-${pick(seed, 500, i, 20)}"
    val path = s"link_s${seed}_p$i.html"
    SourceFile(repo, path, commitOf(repo, path), "aps-html", sb.toString)
  }

  /** (personId, surface, variant) for every author surface the corpus
    * actually contains; variant is "canonical" | "exact" | "typo".
    */
  def plantedSurfaces(world: LinkWorld): Seq[(Int, String, String)] = {
    val out = mutable.LinkedHashSet.empty[(Int, String, String)]
    (0 until world.spec.pages).foreach { i =>
      val seen = mutable.HashSet.empty[Int]
      (0 until world.spec.authorsPerPage).foreach { k =>
        val (p, s) = authorSurface(world, i, k)
        if (seen.add(p.id)) {
          val v = if (s == p.canonical) "canonical" else if (s == p.typo) "typo" else "exact"
          out += ((p.id, s, v))
        }
      }
    }
    out.toSeq
  }

  /** kg_build row i: fixture replication first, planted-name pages after */
  def kgRow(cold: ColdSpec, base: IndexedSeq[SourceFile], world: LinkWorld, nFixture: Int, i: Int): SourceFile =
    if (i < nFixture) coldRow(cold, base, i) else linkRow(world, i - nFixture)

  // ---------------------------------------------------------- similarity_suite
  //
  // Shapes measured on the sf0.1 documents and embeddings tables the
  // query layer is developed against: 5,000 documents of 10-100 words
  // (uniform) drawn uniformly from one 30-word vocabulary, 5% of them an
  // exact copy of another document's text with " dup" appended, `source`
  // round-robin over 20 values, `lang` 40% en and 15% each de/fr/es/zh;
  // 2,000 unit-norm 64-dim float embeddings with isotropic Gaussian
  // directions (no near-duplicate pairs: the closest pair has cosine
  // ~0.6) and a uniform label 0-9 independent of the vector.

  val SimDocs = 5000
  val SimEmbs = 2000
  private val vocab = IndexedSeq(
    "data", "query", "small", "row", "slow", "stream", "filter", "sort", "hash", "batch",
    "big", "group", "order", "column", "part", "table", "join", "window", "fast", "agg",
    "line", "the", "a", "spark", "value", "key", "scan", "merge", "customer", "vector")
  private val langs = IndexedSeq("en", "en", "en", "en", "en", "en", "en", "en", "de", "de",
    "de", "fr", "fr", "fr", "es", "es", "es", "zh", "zh", "zh")

  private def isDupDoc(seed: Long, i: Int): Boolean = unit(seed, 610, i) < 0.05

  /** documents row i's text: fresh words, or (5%) a copy of a seeded
    * non-copy document's text with " dup" appended.
    */
  def docText(seed: Long, i: Int, docs: Int): String = {
    def fresh(j: Int): String = {
      val n = 10 + pick(seed, 600, j, 91)
      Iterator.tabulate(n)(k => vocab(pick(seed, 601 + k, j, vocab.length))).mkString(" ")
    }
    if (!isDupDoc(seed, i)) fresh(i)
    else {
      val src = Iterator.from(0).map(k => pick(seed, 611 + k, i, docs)).find(j => !isDupDoc(seed, j)).get
      fresh(src) + " dup"
    }
  }

  def docRow(seed: Long, i: Int, docs: Int): (Long, String, String, String, Long) = {
    val t = docText(seed, i, docs)
    (i.toLong, t, langs(pick(seed, 620, i, langs.length)), s"src${i % 20}", t.length.toLong)
  }

  val EmbDim = 64
  val EmbLabels = 10

  /** embeddings row i: a unit-norm isotropic Gaussian direction and a
    * uniform label.
    */
  def embRow(seed: Long, i: Int): (Long, Array[Float], Int) = {
    def gauss(stream: Long): Double = {
      val u1 = math.max(unit(seed, stream, i), 1e-12)
      val u2 = unit(seed, stream + 1, i)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val v = Array.tabulate(EmbDim)(d => gauss(700 + 2 * d))
    val n = math.sqrt(v.map(x => x * x).sum)
    (i.toLong, v.map(x => (x / n).toFloat), pick(seed, 712, i, EmbLabels))
  }
}
