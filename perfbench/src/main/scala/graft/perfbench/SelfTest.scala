package graft.perfbench

import graft.exec.Checkpoint
import graft.fixtures.FixtureCorpus
import graft.model.SourceFile
import graft.rules.TripleEmit
import graft.stages.{MentionDetect, Pipeline}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Shows every correctness gate passing on a correct output and failing
  * on a deliberately corrupted one, on small inputs. The DuckDB oracle
  * half of the similarity gate is exercised by run.py on the clean and
  * corrupted result directories written here.
  */
object SelfTest {

  def run(spark: SparkSession, a: Main.Args): String = {
    import spark.implicits._
    val results = mutable.ArrayBuffer.empty[(String, Boolean, Boolean)]
    def gate(name: String, clean: => Option[String], corrupt: => Option[String]): Unit = {
      val c = clean
      val k = corrupt
      c.foreach(e => System.err.println(s"[selftest] $name rejected the clean output: $e"))
      System.err.println(s"[selftest] $name on corrupted output: ${k.getOrElse("NOT CAUGHT")}")
      results += ((name, c.isEmpty, k.isDefined))
    }
    def build(src: String, rows: Seq[SourceFile], root: String): Unit = {
      rows.toDS().repartition(4).write.mode("overwrite").parquet(src)
      Pipeline.runCheckpointed(spark, spark.read.parquet(src).as[SourceFile],
        Checkpoint(root, "selftest"), s"selftest-${rows.size}")
    }

    // kg_build gates: replicated fixture pages
    val base = FixtureCorpus.baseRows.toIndexedSeq
    val spec = Gen.ColdSpec(a.seed, 300)
    val coldRoot = s"${a.work}/selftest/cold"
    build(s"${a.work}/selftest/cold-src", (0 until spec.pages).map(Gen.coldRow(spec, base, _)), coldRoot)
    val truth = Gen.coldTruth(spec, base)
    val manifest = (0 until spec.pages).map { i =>
      (Gen.coldRow(spec, base, i).path, truth.shaByContentKind(Gen.coldContentKind(spec, i)))
    }.toDF("path", "expected_sha")
    val ingest = Layers.readStage(spark, coldRoot, "ingest")
    val firstPath = ingest.select("path").head().getString(0)
    gate("kg_build ingest sha256",
      Gates.ingestSha(ingest, manifest, spec.pages),
      Gates.ingestSha(ingest.withColumn("sha256",
        when(col("path") === firstPath, sha2(lit("corrupted"), 256)).otherwise(col("sha256"))),
        manifest, spec.pages))
    val triples = Layers.readStage(spark, coldRoot, "triples")
    gate("kg_build golden P/R",
      Gates.goldenPR(spark, triples),
      Gates.goldenPR(spark, triples.filter(pmod(hash(col("obj")), lit(4)) =!= 0)))
    val perBase = base.map(f => MentionDetect.parseOne(f).toOption.map(TripleEmit.emit(_).size.toLong).getOrElse(0L))
    val want = truth.multiplicity.map { case (b, n) => n * perBase(b) }.sum
    val nTriples = triples.count()
    gate("kg_build fixture triple count",
      Gates.tripleCount(nTriples, want),
      Gates.tripleCount(triples.union(triples.limit(1)).count(), want))

    // per-run and resume digest gate
    val d = Gates.digest(triples)
    val firstObj = triples.select("obj").head().getString(0)
    gate("kg_build committed-table digest (every run, resume)",
      Gates.sameDigest("triples", Gates.digest(Layers.readStage(spark, coldRoot, "triples")), d),
      Gates.sameDigest("triples", Gates.digest(triples.withColumn("obj",
        when(col("obj") === firstObj, concat(col("obj"), lit("x"))).otherwise(col("obj")))), d))

    // kg_build gates: planted-name pages
    val lspec = Gen.LinkSpec(a.seed, people = 200, institutions = 20, pages = 150, authorsPerPage = 6)
    val world = Gen.linkWorld(lspec)
    val linkRoot = s"${a.work}/selftest/link"
    val linkSrc = s"${a.work}/selftest/link-src"
    build(linkSrc, (0 until lspec.pages).map(Gen.linkRow(world, _)), linkRoot)
    val planted = Gen.plantedSurfaces(world).map { case (p, s, v) => (p, s, v, Gen.foldKey(s)) }
      .toDF("person", "surface", "variant", "fold")
    val entities = Layers.readStage(spark, linkRoot, "entities").cache()
    val variant = planted.filter(col("variant") === "exact").select("surface").head().getString(0)
    gate("kg_build exact-fold groups",
      Gates.linkGroups(entities, planted),
      Gates.linkGroups(entities.withColumn("entityId",
        when(col("name") === variant, lit("split-off")).otherwise(col("entityId"))), planted))
    val p0 = planted.filter(col("person") === 0).select("surface").as[String].collect().toSet
    val p1 = planted.filter(col("person") === 1).select("surface").as[String].collect().toSet
    val id0 = entities.filter(col("name").isin(p0.toSeq: _*)).select("entityId").head().getString(0)
    gate("kg_build distinct people",
      Gates.linkGroups(entities, planted),
      Gates.linkGroups(entities.withColumn("entityId",
        when(col("name").isin(p1.toSeq: _*), lit(id0)).otherwise(col("entityId"))), planted))
    val direct = Gates.digest(Pipeline.entities(spark,
      MentionDetect.mentionsDirect(spark.read.parquet(linkSrc).as[SourceFile])))
    gate("kg_build entities == Pipeline.entities(mentionsDirect)",
      Gates.sameDigest("entities", Gates.digest(entities), direct),
      Gates.sameDigest("entities", Gates.digest(entities.filter(col("name") =!= variant)), direct))

    // similarity_suite: digest gate here, oracle gate in run.py
    val simDir = s"${a.work}/selftest/sim"
    spark.range(0, 400L, 1L, 1).map(i => Gen.docRow(42L, i.toInt, 400))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$simDir/documents.parquet")
    spark.range(0, 300L, 1L, 1).map(i => Gen.embRow(42L, i.toInt))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$simDir/embeddings.parquet")
    val oracle = graft.SparkEntry.oracleSqlFor(simDir).filter { case (k, _) => Layers.queries.contains(k) }
    val qmap = graft.SparkEntry.queries
    Seq("clean", "corrupt").foreach { kind =>
      val out = s"${a.work}/selftest/sim-out-$kind"
      oracle.keys.foreach { q =>
        val df = qmap(q)(spark, simDir)
        val n = df.count()
        (if (kind == "clean") df else df.limit((n - 1).toInt.max(0))).write.parquet(s"$out/$q")
      }
      val json = oracle.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(new File(s"$out/oracle_sql.json").toPath, json.getBytes("UTF-8"))
    }
    val q = "s12_incremental_neardup"
    val qd = Gates.digest(qmap(q)(spark, simDir))
    gate(s"similarity_suite digest ($q)",
      Gates.sameDigest(q, Gates.digest(qmap(q)(spark, simDir)), qd),
      Gates.sameDigest(q, Gates.digest(qmap(q)(spark, simDir).limit(qd.rows.toInt - 1)), qd))

    val ok = results.forall { case (_, c, k) => c && k }
    val extra = Seq(
      "gates" -> results.map { case (n, c, k) =>
        s"""{"gate":${Json.str(n)},"clean_passes":$c,"corruption_caught":$k}"""
      }.mkString("[", ",", "]"),
      "oracle_clean_dir" -> Json.str(s"${a.work}/selftest/sim-out-clean"),
      "oracle_corrupt_dir" -> Json.str(s"${a.work}/selftest/sim-out-corrupt"),
      "sim_dir" -> Json.str(simDir))
    Json.result(ok, results.size, results.count { case (_, c, k) => !(c && k) }, Nil, extra)
  }

  /** A short pass over every code path the workloads use, on tiny
    * inputs: run.py records the classes it loads into the JVM's
    * class-data-sharing archive.
    */
  def trainClasses(spark: SparkSession, a: Main.Args): String = {
    import spark.implicits._
    val base = FixtureCorpus.baseRows.toIndexedSeq
    val world = Gen.linkWorld(Gen.LinkSpec(a.seed, people = 60, institutions = 10, pages = 40, authorsPerPage = 6))
    val rows = (0 until 60).map(Gen.coldRow(Gen.ColdSpec(a.seed, 60), base, _)) ++
      (0 until 40).map(Gen.linkRow(world, _))
    val src = s"${a.work}/train/src"
    rows.toDS().write.parquet(src)
    val root = s"${a.work}/train/ckpt"
    Pipeline.runCheckpointed(spark, spark.read.parquet(src).as[SourceFile], Checkpoint(root, "train"), "train")
    Gates.digest(Layers.readStage(spark, root, "triples"))
    Gates.goldenPR(spark, Layers.readStage(spark, root, "triples"))
    val simDir = s"${a.work}/train/sim"
    spark.range(0, 120L, 1L, 1).map(i => Gen.docRow(42L, i.toInt, 120))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$simDir/documents.parquet")
    spark.range(0, 100L, 1L, 1).map(i => Gen.embRow(42L, i.toInt))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$simDir/embeddings.parquet")
    Layers.queries.foreach(q => Gates.observedDigest(graft.SparkEntry.queries(q)(spark, simDir))(Layers.noop))
    Json.result(true, 1, 0, Nil, Nil)
  }
}
