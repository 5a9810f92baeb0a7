package graft.perfbench

import graft.exec.Checkpoint
import graft.fixtures.FixtureCorpus
import graft.model.{PaperRecord, SourceFile}
import graft.rules.TripleEmit
import graft.stages.{Canonicalize, EntityLink, Ingest, MentionDetect, Pipeline}
import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.mutable

/** One benchmark workload. `generate`, `prepare` and `run` are timed by
  * [[Main]]; every other hook runs outside the clock.
  */
trait Workload {
  /** input generation and write (repeated; the median is reported) */
  def generate(rep: Int): Unit
  /** the first, cold-JIT run plus any index or root it leaves behind */
  def prepare(): Unit
  def checkSetup(): Option[String]
  def beforeRun(i: Int): Unit = ()
  def run(i: Int, tr: Tracer): Unit
  def verify(i: Int): Option[String]
  def afterTracedRun(i: Int, wallS: Double): Unit = ()
  def afterRun(i: Int): Unit = ()
  def finalCheck(): Seq[String] = Nil
  def outRows: Double
  def storeAmp: Double
  /** per-layer metrics, after the timed window (trace mode only) */
  def traceMetrics(tr: Tracer): Seq[(String, (Double, String))]
  /** (metric name, span name) pairs whose job counts are reported */
  def spanJobMetrics: Seq[(String, String)] =
    Layers.queries.map(q => s"query.$q.jobs" -> s"query.$q")
  def describe: String
  def oracleDir: Option[String] = None
}

/** Per-layer metric names every workload reports (0 where the workload
  * does not reach the layer), so one name means one thing everywhere.
  */
object Layers {
  val counterLayers = Seq("ingest", "parse", "emit", "link", "cc", "ckpt", "resume", "query")
  val stages = Seq("ingest", "records", "triples", "entities")
  val probeNames = Seq(
    "ingest.wall_s" -> "s", "ingest.bytes" -> "bytes",
    "parse.records_wall_s" -> "s", "parse.fused_wall_s" -> "s", "parse.pages" -> "count",
    "parse.quarantined" -> "count",
    "emit.wall_s" -> "s", "emit.triples" -> "count",
    "link.wall_s" -> "s", "link.names" -> "count", "link.fuzzy_edges" -> "count",
    "link.variant_recall" -> "ratio",
    "cc.wall_s" -> "s", "cc.edges" -> "count", "cc.components" -> "count", "cc.label_prop" -> "bool")
  val ckptNames: Seq[(String, String)] =
    stages.flatMap(s => Seq(s"ckpt.$s.wall_s" -> "s", s"ckpt.$s.rows" -> "count", s"ckpt.$s.bytes" -> "bytes")) ++
      Seq("ckpt.bookkeeping_s" -> "s", "ckpt.stages_skipped" -> "count", "ckpt.stages_total" -> "count",
        "ckpt.recon_gap_s" -> "s")
  /** ANN top-k (s03 exact, s04 over the persisted LSH index),
    * incremental near-dup over a persisted snapshot (s12) and the
    * span-hash contamination query (t15): ~4 s a pass on 4 cores, so 3
    * timed passes fit one process */
  val queries = Seq(
    "s03_ann_cosine_topk", "s04_ann_lsh_topk", "s12_incremental_neardup", "t15_contamination")
  val resumeNames = Seq("resume.wall_s" -> "s", "resume.stages_recomputed" -> "count")
  val queryNames: Seq[(String, String)] = queries.map(q => s"query.$q.wall_s" -> "s")

  def zeros(names: Seq[(String, String)]): mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap(names.map { case (n, u) => n -> (0.0, u) }: _*)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Reads a committed stage table the way Checkpoint does (recorded
    * schema first, so empty partitioned stages still read).
    */
  def readStage(spark: SparkSession, root: String, stage: String): DataFrame = {
    val schema = new File(s"$root/$stage/_SCHEMA.json")
    val reader =
      if (schema.isFile) spark.read.schema(DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(schema.toPath), "UTF-8")).asInstanceOf[StructType])
      else spark.read
    reader.parquet(s"$root/$stage/data")
  }

  /** Stages committed under `root`, oldest commit first (marker mtime). */
  def committedStages(root: String): Seq[String] =
    Option(new File(root).listFiles).toSeq.flatten
      .filter(d => new File(d, "_SUCCESS_SNAPSHOT").isFile)
      .sortBy(d => java.nio.file.Files.getLastModifiedTime(new File(d, "_SUCCESS_SNAPSHOT").toPath).toMillis)
      .map(_.getName)
}

/** Checkpoint numbers of one traced pipeline run, summed over runs. */
final class CkptAccumulator(spark: SparkSession) {
  private val sums = Layers.zeros(Layers.ckptNames)
  private var runs = 0
  /** stages the pipeline recomputed in the last traced run */
  var recomputed: Set[String] = Set.empty

  private def mtimeMs(f: File): Double =
    java.nio.file.Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0

  def add(root: String, runId: String, wallS: Double): Unit = {
    runs += 1
    val stages = Layers.committedStages(root)
    var walls = 0.0
    var book = 0.0
    var skipped = 0
    val rec = mutable.Set.empty[String]
    stages.foreach { s =>
      val lin = spark.read.parquet(s"$root/$s/lineage")
        .agg(first("runId"), max("wallMs"), sum("rowCount")).head()
      val fresh = lin.getString(0) == runId
      val bytes = Main.duBytes(new File(s"$root/$s/data")).toDouble
      if (fresh) {
        rec += s
        val w = lin.getLong(1) / 1000.0
        // the stage's wall ends when its data commit lands (_SUCCESS);
        // lineage, count, schema sidecar and marker follow until the
        // marker's mtime — that tail is the bookkeeping
        val b = math.max(0.0, (mtimeMs(new File(s"$root/$s/_SUCCESS_SNAPSHOT")) -
          mtimeMs(new File(s"$root/$s/data/_SUCCESS"))) / 1000.0)
        walls += w
        book += b
        bump(s"ckpt.$s.wall_s", w)
      } else skipped += 1
      bump(s"ckpt.$s.rows", lin.getLong(2).toDouble)
      bump(s"ckpt.$s.bytes", bytes)
    }
    recomputed = rec.toSet
    bump("ckpt.bookkeeping_s", book)
    bump("ckpt.stages_skipped", skipped)
    bump("ckpt.stages_total", stages.size)
    bump("ckpt.recon_gap_s", wallS - walls - book)
  }

  private def bump(k: String, v: Double): Unit =
    if (sums.contains(k)) sums(k) = (sums(k)._1 + v, sums(k)._2)

  def averaged: Seq[(String, (Double, String))] =
    sums.toSeq.map { case (k, (v, u)) => k -> (v / math.max(runs, 1), u) }
}

/** kg_build: one corpus with the two shapes the KG layers care about.
  *
  *  - Fixture replication (the production shape): the 7 fixture pages
  *    replicated with a seeded base per row, ~30% of rows in one hot
  *    repo and every 1000th row a giant page. Parse, ingest hashing and
  *    Checkpoint writes do the work; the pages carry ~45 names.
  *  - Planted-name pages: cheap-to-parse APS meta pages, unique DOI and
  *    title each, whose authors come from a large pool of seeded people
  *    under exact-fold variants (case, punctuation, spacing) and one
  *    one-character typo each. EntityLink and Canonicalize do the work.
  *
  * Each run is `Pipeline.runCheckpointed` over the parquet source table
  * made in set-up, into a fresh checkpoint root.
  */
final class KgBuild(val spark: SparkSession, a: Main.Args) extends Workload {
  import spark.implicits._
  val srcDir = s"${a.work}/source"
  def snapshot: String = Checkpoint.snapshotId(s"${a.workload}-s${a.seed}", pages)
  def files: Dataset[SourceFile] = spark.read.parquet(srcDir).as[SourceFile]
  def rootFor(i: Int): String = s"${a.work}/ckpt/run-$i"
  val ckpt = new CkptAccumulator(spark)
  var lastRoot = ""
  var ampSample = 0.0
  /** digests of the committed tables of the set-up build */
  var ref: Map[String, Gates.Digest] = Map.empty
  val checkedStages = Seq("ingest", "triples", "entities")
  var plantedDf: Option[DataFrame] = None
  var outputTriples = 0L

  def pipeline(root: String, runId: String): (DataFrame, DataFrame) =
    Pipeline.runCheckpointed(spark, files, Checkpoint(root, runId), snapshot)

  def digests(root: String): Map[String, Gates.Digest] =
    checkedStages.map(s => s -> Gates.digest(Layers.readStage(spark, root, s))).toMap

  def sameAsRef(root: String): Option[String] = {
    val got = digests(root)
    val bad = checkedStages.flatMap(s => Gates.sameDigest(s"$s table", got(s), ref(s)))
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def sourceBytes: Double = Main.duBytes(new File(srcDir)).toDouble

  def run(i: Int, tr: Tracer): Unit = {
    lastRoot = rootFor(i)
    tr.span("ckpt.run") { pipeline(lastRoot, s"run-$i") }
  }

  def verify(i: Int): Option[String] = sameAsRef(lastRoot)

  override def afterTracedRun(i: Int, wallS: Double): Unit = ckpt.add(lastRoot, s"run-$i", wallS)

  // roots stay until the work directory goes: deleting thousands of
  // small files next to a timed run puts the disk's discard traffic in it
  override def afterRun(i: Int): Unit =
    if (ampSample == 0.0) ampSample = Main.duBytes(new File(lastRoot)) / sourceBytes

  def outRows: Double = outputTriples.toDouble
  def storeAmp: Double = ampSample

  def traceMetrics(tr: Tracer): Seq[(String, (Double, String))] = {
    val m = Layers.zeros(Layers.probeNames)
    m ++= ckpt.averaged
    // probe only the layers the traced runs actually ran: a stage that
    // was read back instead of recomputed leaves its layer at 0
    val root = probeRoot()
    val rec = ckpt.recomputed
    val f = files
    if (rec("ingest")) {
      m("ingest.wall_s") = (Main.time(tr.span("ingest.sha") {
        Layers.noop(Ingest.withSha(f).select("repo", "path", "commit", "lang", "sha256"))
      })._2, "s")
      m("ingest.bytes") = (f.agg(sum(length(col("content")).cast("long"))).head().getLong(0).toDouble, "bytes")
    }
    if (rec("records")) {
      m("parse.records_wall_s") = (Main.time(tr.span("parse.records") {
        Layers.noop(MentionDetect.records(f).toDF())
      })._2, "s")
      m("parse.fused_wall_s") = (Main.time(tr.span("parse.fused") {
        Layers.noop(MentionDetect.triplesDirect(f).toDF())
      })._2, "s")
      m("parse.pages") = (f.count().toDouble, "count")
      m("parse.quarantined") = (tr.span("parse.quarantine") { MentionDetect.quarantine(f).count() }.toDouble, "count")
    }
    val records = Layers.readStage(spark, root, "records").as[PaperRecord]
    if (rec("triples")) {
      m("emit.wall_s") = (Main.time(tr.span("emit.triples") {
        Layers.noop(records.flatMap(TripleEmit.emit).toDF())
      })._2, "s")
      m("emit.triples") = (Layers.readStage(spark, root, "triples").count().toDouble, "count")
    }
    if (rec("entities")) {
      val ((names, fuzzy, edges), linkS) = Main.time(tr.span("link.resolve") {
        val mentions = tr.span("link.mentions") { Pipeline.mentionsOf(records).localCheckpoint(true) }
        val names = tr.span("link.names") { EntityLink.namesOf(mentions).localCheckpoint(true) }
        val dict = tr.span("link.dict") {
          EntityLink.dictEdges(names, Pipeline.canonicalDict(spark)).localCheckpoint(true)
        }
        val fuzzy = tr.span("link.fuzzy") { EntityLink.fuzzyEdges(names, 0.55).localCheckpoint(true) }
        // the same edge frame Pipeline.canonicalMapFromNames hands to CC
        val edges = dict.union(fuzzy.select("kind", "src", "dst"))
          .select(concat_ws("|", col("kind"), col("src")).as("src"),
            concat_ws("|", col("kind"), col("dst")).as("dst"))
          .localCheckpoint(true)
        (names, fuzzy, edges)
      })
      m("link.wall_s") = (linkS, "s")
      m("link.names") = (names.count().toDouble, "count")
      m("link.fuzzy_edges") = (fuzzy.filter(col("jaccard") < 1.0).count().toDouble, "count")
      val nEdges = edges.count()
      val (components, ccS) = Main.time(tr.span("cc.components") {
        Canonicalize.connectedComponents(edges).agg(countDistinct("canonicalId")).head().getLong(0)
      })
      m("cc.wall_s") = (ccS, "s")
      m("cc.edges") = (nEdges.toDouble, "count")
      m("cc.components") = (components.toDouble, "count")
      m("cc.label_prop") = (if (nEdges > Canonicalize.DefaultSmallCutoff) 1.0 else 0.0, "bool")
      plantedDf.foreach { p =>
        m("link.variant_recall") = (Gates.variantRecall(Layers.readStage(spark, root, "entities"), p), "ratio")
      }
    }
    // the same entity table from the fused path (a second full parse,
    // so checked here rather than in every process)
    traceErrors ++= Gates.sameDigest("entities vs Pipeline.entities(mentionsDirect)",
      Gates.digest(Layers.readStage(spark, root, "entities")),
      Gates.digest(Pipeline.entities(spark, MentionDetect.mentionsDirect(f))))
    m ++= resumeProbe(tr, root)
    m ++= Layers.zeros(Layers.queryNames)
    m.toSeq
  }

  val traceErrors = mutable.ArrayBuffer.empty[String]
  override def finalCheck(): Seq[String] = traceErrors.toSeq

  /** A freshly committed root the layer probes read their records from. */
  private def probeRoot(): String = {
    val r = s"${a.work}/ckpt/probe"
    pipeline(r, "probe")
    r
  }

  /** Resume from a committed root: drop the markers of the last two
    * stages the pipeline committed and rerun. Committed stages are read
    * back instead of recomputed; the rerun tables must equal the ones
    * they replace.
    */
  private def resumeProbe(tr: Tracer, root: String): Seq[(String, (Double, String))] = {
    val dropped = Layers.committedStages(root).takeRight(2)
    val before = dropped.map(s => s -> Gates.digest(Layers.readStage(spark, root, s))).toMap
    val ck = Checkpoint(root, "resume")
    dropped.foreach(ck.invalidate(spark, _))
    val (_, wallS) = Main.time(tr.span("resume.run") { pipeline(root, "resume") })
    traceErrors ++= dropped.flatMap(s =>
      Gates.sameDigest(s"resumed $s table", Gates.digest(Layers.readStage(spark, root, s)), before(s)))
    val resumed = new CkptAccumulator(spark)
    resumed.add(root, "resume", wallS)
    Seq("resume.wall_s" -> (wallS, "s"),
      "resume.stages_recomputed" -> (resumed.recomputed.size.toDouble, "count"))
  }

  /** Writes the generated rows (row i from `row(i)`) as the source table. */
  protected def writeSource(n: Int)(row: Int => SourceFile): Unit = {
    Main.rmrf(new File(srcDir))
    spark.range(0, n.toLong, 1L, a.cpus * 4).mapPartitions(_.map(i => row(i.toInt)))
      .write.parquet(srcDir)
  }

  // a run is ~6 s on 4 cores and mostly per-job overhead (~40 Spark
  // jobs), so the input stays small: 3 timed runs fit one process
  val fixturePages = 400
  val linkSpec = Gen.LinkSpec(a.seed, people = 700, institutions = 70, pages = 250, authorsPerPage = 8)
  val pages: Int = fixturePages + linkSpec.pages
  val cold = Gen.ColdSpec(a.seed, fixturePages)
  val base = FixtureCorpus.baseRows.toIndexedSeq
  lazy val truth = Gen.coldTruth(cold, base)
  /** triples one copy of each base page emits (giants emit base 0's) */
  lazy val perBase: IndexedSeq[Long] = base.map { f =>
    MentionDetect.parseOne(f).toOption.map(TripleEmit.emit(_).size.toLong).getOrElse(0L)
  }
  var world: Gen.LinkWorld = _
  var nSurfaces = 0

  def generate(rep: Int): Unit = {
    world = Gen.linkWorld(linkSpec)
    val (c, b, w, nFix) = (cold, base, world, fixturePages)
    writeSource(pages)(i => Gen.kgRow(c, b, w, nFix, i))
  }

  def prepare(): Unit = {
    val planted = Gen.plantedSurfaces(world)
    nSurfaces = planted.size
    plantedDf = Some(planted.map { case (p, s, v) => (p, s, v, Gen.foldKey(s)) }
      .toDF("person", "surface", "variant", "fold").localCheckpoint(true))
    lastRoot = s"${a.work}/ckpt/setup"
    pipeline(lastRoot, "setup")
  }

  def checkSetup(): Option[String] = {
    val (c, shas, b, w, nFix) = (cold, truth.shaByContentKind, base, world, fixturePages)
    // the generator's own hash: per content kind for the replicated
    // pages, per page for the planted-name pages
    val manifest = spark.range(0, pages.toLong).map { i =>
      val r = Gen.kgRow(c, b, w, nFix, i.toInt)
      (r.path, if (i < nFix) shas(Gen.coldContentKind(c, i.toInt)) else Gen.sha256Hex(r.content))
    }.toDF("path", "expected_sha")
    val triples = Layers.readStage(spark, lastRoot, "triples")
    val goldenDocs = Gates.goldenTriples(spark).select("docId").distinct()
    val fixtureTriples = triples.join(broadcast(goldenDocs), Seq("docId"))
    val want = truth.multiplicity.map { case (k, n) => n * perBase(k) }.sum
    outputTriples = triples.count()
    ref = digests(lastRoot)
    val errs = Seq(
      Gates.ingestSha(Layers.readStage(spark, lastRoot, "ingest"), manifest, pages),
      Gates.goldenPR(spark, fixtureTriples),
      Gates.tripleCount(fixtureTriples.count(), want),
      Gates.linkGroups(Layers.readStage(spark, lastRoot, "entities"), plantedDf.get)).flatten
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def describe: String =
    s"$fixturePages replicated fixture pages (~30% hot repo, ${cold.giants} giant, " +
      s"${truth.sourceBytes} content bytes) + ${linkSpec.pages} planted-name pages " +
      s"(${linkSpec.people} people, $nSurfaces distinct author surfaces, ${linkSpec.institutions} institutions)"
}

/** similarity_suite: near-duplicate, ANN and span queries over generated
  * documents and embeddings tables, each materialized to the noop sink.
  * Every pass checks each result by an order-free digest observed during
  * the write itself, against the first pass (which the DuckDB oracle
  * checks where one exists).
  */
final class SimilaritySuite(spark: SparkSession, a: Main.Args) extends Workload {
  import spark.implicits._
  // the data is fixed; the seed only permutes the query order
  val DataSeed = 42L
  val Docs: Int = Gen.SimDocs
  val Embs: Int = Gen.SimEmbs
  val dir = s"${a.work}/sim"
  val outDir = s"${a.work}/sim-out"
  val indexRoot: String = sys.env.getOrElse("GRAFT_ANN_INDEX_ROOT", s"${a.work}/ann-index")
  val order: Seq[String] = new scala.util.Random(a.seed).shuffle(Layers.queries)
  private val qmap = graft.SparkEntry.queries
  var ref: Map[String, Gates.Digest] = Map.empty
  private val passWall = mutable.LinkedHashMap.empty[String, Double]
  private var tracedPasses = 0
  private val passErrors = mutable.ArrayBuffer.empty[String]

  def generate(rep: Int): Unit = {
    Main.rmrf(new File(dir))
    val (s, n) = (DataSeed, Docs)
    spark.range(0, n.toLong, 1L, 1).map(i => Gen.docRow(s, i.toInt, n))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    spark.range(0, Embs.toLong, 1L, 1).map(i => Gen.embRow(s, i.toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
  }

  /** First pass: builds the persisted indexes and keeps every result for
    * the oracle compare.
    */
  def prepare(): Unit = {
    Main.rmrf(new File(indexRoot))
    Main.rmrf(new File(outDir))
    ref = order.map { q =>
      val (d, t) = Main.time(Gates.observedDigest(qmap(q)(spark, dir))(_.write.parquet(s"$outDir/$q")))
      System.err.println(f"[perfbench] first pass: $q%-26s $t%7.3f s")
      q -> d
    }.toMap
  }

  def checkSetup(): Option[String] = {
    val oracle = graft.SparkEntry.oracleSqlFor(dir).filter { case (k, _) => order.contains(k) }
    val json = oracle.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(new File(s"$outDir/oracle_sql.json").toPath, json.getBytes("UTF-8"))
    val bad = order.flatMap(q => Gates.sameDigest(s"$q parquet read-back",
      Gates.digest(spark.read.parquet(s"$outDir/$q")), ref(q)))
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def run(i: Int, tr: Tracer): Unit = order.foreach { q =>
    val t0 = System.nanoTime()
    val d = tr.span(s"query.$q") { Gates.observedDigest(qmap(q)(spark, dir))(Layers.noop) }
    if (tr.enabled) passWall(q) = passWall.getOrElse(q, 0.0) + (System.nanoTime() - t0) / 1e9
    Gates.sameDigest(s"$q pass $i", d, ref(q)).foreach(passErrors += _)
  }

  def verify(i: Int): Option[String] = {
    val e = passErrors.toList
    passErrors.clear()
    if (e.isEmpty) None else Some(e.mkString("; "))
  }

  override def afterTracedRun(i: Int, wallS: Double): Unit = tracedPasses += 1

  def outRows: Double = ref.values.map(_.rows).sum.toDouble

  def storeAmp: Double =
    Main.duBytes(new File(indexRoot)).toDouble /
      (Main.duBytes(new File(s"$dir/documents.parquet")) + Main.duBytes(new File(s"$dir/embeddings.parquet")))

  def traceMetrics(tr: Tracer): Seq[(String, (Double, String))] = {
    val m = Layers.zeros(Layers.probeNames ++ Layers.ckptNames ++ Layers.resumeNames ++ Layers.queryNames)
    passWall.foreach { case (q, s) => m(s"query.$q.wall_s") = (s / math.max(tracedPasses, 1), "s") }
    m.toSeq
  }

  def describe: String = s"$Docs documents, $Embs embeddings (dim ${Gen.EmbDim}), ${order.size} queries"

  override def oracleDir: Option[String] = Some(outDir)
}
