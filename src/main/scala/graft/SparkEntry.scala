package graft

import graft.fixtures.FixtureCorpus
import graft.queries.{KgQueries, PinnedOracles, RelationalQueries, SimilarityQueries, TextQueries}
import graft.stages.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` is the flagship KG pipeline over the bundled fixture corpus;
  * `queries` covers the operator inventory (SURVEY.md §2) plus the
  * training-data-pipeline operators (dedup / similarity / text analysis)
  * over the driver's testdata tables; `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible query (same column names, both
  * sides ordered).
  */
object SparkEntry {

  /** Flagship: full KG-construction pipeline (slice -> extract -> triple
    * emit -> entity link -> canonicalize) on a small replicated fixture
    * corpus, with the entity table CONSUMED (author objects carry their
    * canonical entity id) AND the dedup last mile attached (round-4
    * VERDICT #6): the replicated corpus is exactly the near-dup shape
    * s01/s10 handle at scale, so the page set runs through the shared
    * MinHash-LSH pair engine -> connected components -> keeper, and the
    * per-page verdicts roll up to the paper rows the smoke checks.
    *
    * Column semantics: triples are emitted per PAPER while dedup runs
    * per PAGE (many replicated pages carry one paper), so a per-triple
    * is_dropped flag would be ill-typed; instead each output row carries
    * its paper's page-cluster summary — `keeper_doc_id` (the one page id
    * the dedup keeps for this paper), `n_pages` (pages carrying it) and
    * `n_dropped_pages` (replicas the keeper displaces). Applying the
    * keeper IS the dedup: a production run would extract only keeper
    * pages. Driver smoke-checks rows > 0.
    *
    * Each page is parsed once: [[Pipeline.run]] materializes one
    * extraction pass, and the triples, the entity table and the
    * page -> paper bridge that joins dedup verdicts to papers are all
    * read from it. A page whose parse quarantines has no bridge row, so
    * it counts toward no paper's `n_pages`.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val files = FixtureCorpus.corpus(spark, 50, 8)

    // dedup last mile over the page corpus: page identity = hash of
    // repo/path, near-dup pairs from the shared s01 MinHash-LSH engine
    // over page content, keeper = component min (s10 semantics)
    val pages = files.map(f => (entryPageId(f.repo, f.path), f.content)).toDF("doc_id", "text")
    val pairs = SimilarityQueries.neardupPairsOf(pages)
    val keep = SimilarityQueries.keeperAssignments(pairs, pages.select("doc_id"))

    val (triples, ents, parsedPages) = Pipeline.run(spark, files)
    val bridge = parsedPages.as[(String, String, String)]
      .map { case (repo, path, docId) => (entryPageId(repo, path), docId) }
      .toDF("doc_id", "docId")
    val dedup = bridge.join(keep, Seq("doc_id"))
      .groupBy(col("docId"))
      .agg(min(when(!col("is_dropped"), col("doc_id"))).as("keeper_doc_id"),
        count(lit(1)).as("n_pages"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped_pages"))

    val authorCanon = ents.filter(col("kind") === "author")
      .select(concat(lit("author:"), col("name")).as("obj"),
        col("entityId").as("canonical_author"))
    triples.toDF().join(broadcast(authorCanon), Seq("obj"), "left")
      .join(broadcast(dedup), Seq("docId"), "left")
      .select("docId", "subj", "pred", "obj", "canonical_author",
        "keeper_doc_id", "n_pages", "n_dropped_pages")
  }

  /** Stable page identity for the flagship dedup stage (driver-side and
    * executor-side uses must agree, so it's plain Scala, not a Column).
    * Round 6 (ADVICE): a genuine 64-bit id — two differently-seeded
    * murmur passes packed into one Long — replacing the widened 32-bit
    * hash whose birthday bound (~50% collision odds at ~77k pages)
    * would silently merge two distinct pages into one doc_id at the
    * documented production scale.
    */
  private def entryPageId(repo: String, path: String): Long = {
    val k = s"$repo/$path"
    (scala.util.hashing.MurmurHash3.stringHash(k, 0x9747b28c).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(k, 0x85ebca6b).toLong & 0xffffffffL)
  }

  /** NOTE on the `sfDir` argument: the relational (q*), text (t*) and
    * similarity (s*) queries read the driver's parquet tables under
    * `sfDir`; the kg* queries intentionally IGNORE it — their input is
    * the deterministic in-memory fixture corpus (the reference's journal
    * pages, which have no sfDir analogue), so their outputs are
    * byte-stable across scale factors and can be VALUES-pinned in
    * `oracleSql`.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++ KgQueries.all

  def oracleSql: Map[String, String] = oracleSqlFor(PinnedOracles.dataDependentSf)

  /** sfDir-aware oracle set (what Verify ships): identical to
    * [[oracleSql]] at the pin-capture sf (sf0.01 — the driver's Verify
    * sf), but data-dependent VALUES pins are DROPPED for any other
    * sfDir so a mismatched run degrades to rows-only checks instead of
    * spuriously hard-failing the compare.
    */
  def oracleSqlFor(sfDir: String): Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++ SimilarityQueries.oracle ++
      KgQueries.oracle ++ PinnedOracles.forSfDir(sfDir)
}
