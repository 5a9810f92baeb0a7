package graft.stages

import graft.exec.Checkpoint
import graft.model._
import graft.rules.TripleEmit
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The full KG-construction flow (SURVEY.md §3.4):
  *
  *   source files --(ingest: sha256 invariant)-->
  *   records --(mention detect, mapPartitions)-->
  *   triples + entity mentions --(entity link: broadcast dict +
  *   MinHash-LSH fuzzy self-join)--> same-entity edges --(canonicalize:
  *   iterative-join CC)--> entity table + canonicalized triples.
  *
  * Shuffle inventory: extraction is shuffle-free (narrow mapPartitions);
  * linking shuffles the *distinct names* (tiny vs corpus); CC shuffles
  * edges per iteration; the final rewrite joins triples against the
  * broadcast canonical map. At 100 TB the content-bearing stage stays
  * embarrassingly parallel and nothing re-shuffles page bodies.
  */
object Pipeline {

  /** Seed canonical dictionary (FIXTURES.md §4): institution/venue alias
    * clusters the fixtures exercise. In production this is a real alias
    * table; it is broadcast-sized by construction.
    */
  def canonicalDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("inst", "Westlake Institute for Advanced Study", "Westlake University"),
      ("inst", "Massachusetts General Hospital", "Massachusetts General Hospital"),
      ("venue", "Phys. Rev. Research", "Physical Review Research"),
      ("venue", "PRX Quantum", "PRX Quantum"),
      ("venue", "Nature Physics", "Nature Physics")
    ).toDF("kind", "alias", "canonical")
  }

  def mentionsOfRecord(r: PaperRecord): Seq[Mention] = {
    val inst = r.authors.flatMap(_.affiliations).distinct
      .map(a => Mention(r.docId, "inst", graft.rules.AffiliationNormalizer.institution(graft.rules.Text.cleanWs(a))))
    val auth = r.authors.map(a => Mention(r.docId, "author", graft.rules.Text.cleanWs(a.name)))
    val venue = r.journalName.map(j => Mention(r.docId, "venue", graft.rules.Text.cleanWs(j))).toSeq
    inst ++ auth ++ venue
  }

  def mentionsOf(records: Dataset[PaperRecord]): Dataset[Mention] = {
    import records.sparkSession.implicits._
    records.flatMap(mentionsOfRecord _)
  }

  /** Entity resolution over mention names: exact dictionary edges +
    * fuzzy LSH edges -> connected components -> canonical map
    * (name -> canonicalId = lexicographic min of its component).
    */
  def canonicalMap(spark: SparkSession, mentions: Dataset[Mention]): DataFrame =
    canonicalMapFromNames(spark, EntityLink.namesOf(mentions))

  /** Same, over an already-distinct (kind, name) frame — callers that
    * also need the name frame persist it once and pass it in, so the
    * mention stream (and the page parse feeding it) evaluates once.
    */
  def canonicalMapFromNames(spark: SparkSession, names: DataFrame): DataFrame = {
    val exact = EntityLink.dictEdges(names, canonicalDict(spark))
    val fuzzy = EntityLink.fuzzyEdges(names, EntityLink.Tau).select("kind", "src", "dst")
    val edges = exact.union(fuzzy)
      .select(concat_ws("|", col("kind"), col("src")).as("src"),
        concat_ws("|", col("kind"), col("dst")).as("dst"))
    Canonicalize.connectedComponents(edges)
      .select(split(col("id"), "\\|", 2).getItem(0).as("kind"),
        split(col("id"), "\\|", 2).getItem(1).as("name"),
        split(col("canonicalId"), "\\|", 2).getItem(1).as("canonicalName"))
  }

  /** Entity table: every distinct mention name, mapped to its canonical
    * id (singleton components keep their own name). The distinct-name
    * frame is persisted: it feeds the dictionary join, the LSH banding,
    * and the final left join — without the persist each of those pulls
    * would re-parse every page body upstream.
    */
  def entities(spark: SparkSession, mentions: Dataset[Mention]): DataFrame = {
    // eager localCheckpoint, not persist: materializes the (small,
    // distinct) name set once, truncates lineage so no consumer re-parses
    // pages, and the blocks are context-cleaned when the frame becomes
    // unreachable — a plain persist here would pin one copy per call for
    // the session lifetime (entities is called per query / per bench rep)
    val names = EntityLink.namesOf(mentions).localCheckpoint(true)
    val cmap = canonicalMapFromNames(spark, names)
    names
      .join(cmap, Seq("kind", "name"), "left")
      .select(col("kind"), col("name"),
        coalesce(col("canonicalName"), col("name")).as("entityId"))
  }

  /** End-to-end: files -> (triples, entity table, page bridge), from ONE
    * parse per page.
    *
    * [[MentionDetect.extract]] parses every page once and is materialized
    * once with an eager localCheckpoint (as [[entities]] does for names),
    * so triples, mentions and the bridge are projections of those rows
    * and no consumer re-parses a page body. The bridge has one
    * (repo, path, docId) row per page whose full parse succeeded; a
    * quarantined page has no bridge row, no triples and no mentions.
    */
  def run(spark: SparkSession, files: Dataset[SourceFile]): (Dataset[Triple], DataFrame, DataFrame) = {
    import spark.implicits._
    val parsed = MentionDetect.extract(files).localCheckpoint(true)
    def tagged(tag: String) = parsed.filter(col("tag") === tag)
    val triples = tagged("triple").select("docId", "subj", "pred", "obj").as[Triple]
    val mentions = tagged("mention").select("docId", "kind", "surface").as[Mention]
    (triples, entities(spark, mentions), tagged("page").select("repo", "path", "docId"))
  }

  /** Checkpointed variant: each stage commits to <root>/<stage>/data with
    * per-partition lineage; a re-run with the same snapshot skips
    * completed stages (resume-from-kill).
    *
    * Layout (see [[graft.exec.Checkpoint]]): every stage is zstd parquet
    * with one file per write task. `triples` and `entities` are not
    * `partitionBy`'d: at 16 predicates that wrote up to 16 small files
    * per task, each with its own footer and page headers. With zstd,
    * dropping it took the `triples` stage of the kg_build benchmark from
    * 261 KB to 94 KB. Each stage sorts its rows inside its task instead
    * (`triples` by pred, subj, obj, docId; `entities` by kind, name), the
    * same per-task sort the partitioned write paid, so a `pred` or `kind`
    * filter still skips row groups (and parquet column-index pages) by
    * their min/max statistics once a task's output spans several.
    *
    * `records` ends in a rebalance by `docId`, sorted by `docId` inside
    * each task. Without it the stage had no shuffle and wrote one file
    * per source read split: on the kg_build benchmark (4 cores, 650
    * pages) 4 files and 104,745 B, of which 31 KB were the four parquet
    * footers (2.1 KB of each is Spark's row-schema JSON), and every file
    * repeated the dictionaries of the same replicated pages. AQE now
    * sizes the files from the shuffled bytes: that stage is 1 file of
    * 44,691 B, and `triples`, which reads it back, 1 file of 59,845 B
    * (93,688 B before); the whole root went from 270.6 KB to 176.3 KB.
    * Above AQE's advisory partition size the rebalance keeps several
    * writers and splits skewed `docId`s. The cost is time: the
    * rebalance's map stage (where the page parse runs) is one more Spark
    * job, and the small stage is written by one task, so the stage's
    * wall grew by 0.10-0.28 s on that benchmark.
    */
  def runCheckpointed(spark: SparkSession, files: Dataset[SourceFile],
      ckpt: Checkpoint, snapshotId: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    // Ingest metadata stage: content sha256 invariant surface + the
    // north-rule lineage shape (per-partition inputFiles + sha256s).
    // Metadata-only — content never reaches this table.
    ckpt.stage(spark, "ingest", snapshotId) {
      Ingest.withSha(files).select("repo", "path", "commit", "lang", "sha256")
    }
    val recordsDf = ckpt.stage(spark, "records", snapshotId) {
      MentionDetect.records(files).toDF()
        .hint("rebalance", col("docId")).sortWithinPartitions("docId")
    }
    val triplesDf = ckpt.stage(spark, "triples", snapshotId) {
      implicit val enc = org.apache.spark.sql.Encoders.product[Triple]
      recordsDf.as[PaperRecord].flatMap(TripleEmit.emit).toDF()
        .sortWithinPartitions("pred", "subj", "obj", "docId")
    }
    val entitiesDf = ckpt.stage(spark, "entities", snapshotId) {
      entities(spark, mentionsOf(recordsDf.as[PaperRecord]))
        .sortWithinPartitions("kind", "name")
    }
    (triplesDf, entitiesDf)
  }
}
