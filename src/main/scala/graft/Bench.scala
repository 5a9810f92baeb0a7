package graft

import graft.fixtures.FixtureCorpus
import graft.stages.{MentionDetect, Pipeline}

/** Benchmark main (driver contract): one JSON line on stdout.
  *
  * Two sections:
  *  - headline operator queries over SPARK_GRAFT_SF_DIR (seconds each);
  *  - the KG pipeline over a replicated fixture corpus
  *    (SPARK_GRAFT_KG_N pages, default 6000): reports wall seconds and
  *    triples/sec — the BASELINE.json headline metric.
  *
  * Scaling protocol (BASELINE.md): run twice with SPARK_GRAFT_CPUS=8 and
  * =32 on the same inputs; efficiency = (tps_32 / tps_8) / 4.
  */
object Bench {

  // Headline subset: one per operator family (full set runs in Verify).
  private val headline = Seq(
    "q01_pricing_agg", "q02_revenue_by_nation", "q03_top_orders",
    "q06_filter_pushdown_agg", "q07_window_running", "q08_distinct_agg",
    "q11_events_json_hourly", "q13_rollup", "q15_asof_join", "q17_sessionize",
    "t01_dedup_exact", "t02_token_count", "t03_quality_score", "t04_lang_id",
    "t06_bpe_tokens", "t08_repetition_ratio", "t09_train_split", "t12_redact",
    "t15_contamination", "t17_dup_spans", "t18_seq_pack", "t19_span_removal",
    "s01_minhash_neardup", "s02_simhash_neardup", "s03_ann_cosine_topk",
    "s04_ann_lsh_topk", "s05_multimodal_decode", "s06_embedding_neardup",
    "s07_ann_ivf_topk", "s08_frame_sample", "s09_ann_sq8_rerank",
    "s10_dedup_keeper", "s11_cluster_stats", "s12_incremental_neardup",
    "s13_incremental_keeper")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // default sized so the extract stage dominates fixed overheads
    // (6k pages under-reported steady-state throughput ~2x in round 1)
    val kgN = sys.env.getOrElse("SPARK_GRAFT_KG_N", "60000").toInt
    val spark = MainUtil.session(cpus)
    import MainUtil.timed

    // Warm up the session (scheduler, codegen, parquet footer reads) and
    // the extraction rule maps (C2-compiling the regex paths is a
    // measured 4x on a cold first pass) so timed numbers are steady-state.
    spark.range(1000000).selectExpr("sum(id)").count()
    spark.read.parquet(s"$sfDir/lineitem.parquet").select("l_orderkey").limit(1).count()
    MentionDetect.triplesDirect(FixtureCorpus.corpus(spark, 3000, cpus.toInt)).count()

    // Best of 3 per query, like the KG section: the first execution pays
    // one-time codegen + JIT + parquet-footer costs (measured 9.6 s cold
    // vs 0.8 s steady for q01) and the host has bursty multi-second
    // stalls — steady-state capability is the number that scales.
    //
    // Timed via the noop sink, NOT .count(): under count() Catalyst
    // prunes every column no aggregate consumes, so a projection-only
    // query (t03/t06/t08/t12 compute-then-orderBy shapes) degenerates to
    // a zero-column parquet row count and the bench would measure a
    // near-free metadata scan instead of the operator.
    val qmap = SparkEntry.queries
    val repFailures = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Scaling cycles set SPARK_GRAFT_SKIP_QUERIES=1 to run ONLY the KG
    // sections: the headline loop adds 60-90 s of fixed per-run cost
    // that is pure measurement noise for the c8/c32 efficiency
    // protocol. The driver never sets it, so driver runs always emit
    // the full record.
    val skipQueries = sys.env.get("SPARK_GRAFT_SKIP_QUERIES").contains("1")
    val benched = if (skipQueries) Seq.empty else headline
    // a headline name missing from the registry surfaces IN-BAND as the
    // -1.0 failure sentinel (same as an all-reps-failed query): the
    // driver discards stderr, so a warning alone would let a dropped
    // query read as a green, smaller total
    val missing = benched.filterNot(qmap.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[bench] headline queries MISSING from registry: $missing")
      missing.foreach(repFailures(_) = 3)
    }
    // All raw rep samples are kept and reported (failed reps as -1.0):
    // best-of-3 is the headline, but a real regression must not be able
    // to hide behind one lucky rep (round-2 VERDICT "What's wrong" #3 —
    // q08's 4x move was unexplainable without per-rep evidence).
    val rawSamples: Seq[(String, Seq[Double])] = benched.map { name =>
      if (!qmap.contains(name)) name -> Seq.empty
      else name -> (1 to 3).map { _ =>
        try timed(materialize(qmap(name)(spark, sfDir)))._2
        catch {
          case e: Throwable =>
            // transient failures don't discard the clean samples, but
            // they must stay observable: count per query + warn
            System.err.println(s"[bench] $name rep failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            repFailures(name) = repFailures.getOrElse(name, 0) + 1
            -1.0
        }
      }
    }
    val results = rawSamples.map { case (name, raw) =>
      val secs = raw.filter(_ >= 0)
      name -> (if (secs.isEmpty) -1.0 else secs.min)
    }

    // KG pipeline: extraction throughput (mapPartitions, shuffle-free) —
    // the content-bearing stage that dominates at 100 TB. Best of 3:
    // the host shows bursty multi-second stalls (documented in
    // BASELINE.md), so a single sample under-reports capability.
    val files = FixtureCorpus.corpus(spark, kgN, cpus.toInt * 4)
    val samples = (1 to 3).map(_ => timed(MentionDetect.triplesDirect(files).count()))
    val nTriples = samples.head._1
    val kgSec = samples.map(_._2).min
    val tps = nTriples / kgSec

    // Linking + canonicalization over the distinct-name space (best of 2:
    // the first run pays the plan's one-time codegen like everything else).
    val linkSamples = (1 to 2).map { _ =>
      timed {
        val ment = MentionDetect.mentionsDirect(
          FixtureCorpus.corpus(spark, math.min(kgN, 2000), cpus.toInt * 2))
        Pipeline.entities(spark, ment).count()
      }._2
    }
    val linkSec = linkSamples.min

    // JsonOut: shared escaping + Locale.ROOT numbers with Verify — the
    // driver hard-fails on invalid JSON, so sfDir is escaped (quotes,
    // backslashes) and cpus goes through toInt (a zero-padded "08" env
    // value spliced raw would be rejected by json.load)
    import graft.JsonOut.{num, str}
    val qs = (results ++ Seq("kg_extract_pipeline" -> kgSec, "kg_entity_link" -> linkSec))
      .map { case (k, v) => str(k) + ":" + num(v, 3) }.mkString("{", ",", "}")
    val sampleJson = (rawSamples ++ Seq("kg_extract_pipeline" -> samples.map(_._2),
        "kg_entity_link" -> linkSamples))
      .map { case (k, vs) => str(k) + ":" + vs.map(num(_, 3)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val fails = repFailures.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum + kgSec + linkSec
    // TWO records, same fields except `samples`:
    //  - compact (no per-rep samples, ~1.1 kB) is the FINAL stdout line —
    //    the driver's tail capture is a bounded window and round 3 proved
    //    the samples-bearing line (~3.4 kB) outgrows it (BENCH_r03.json
    //    "parsed": null with the recorded tail starting mid-JSON);
    //  - full (with samples) goes to BENCH_OUT.json for the per-rep
    //    evidence trail (round-2 q08 noise diagnosis depends on it).
    // skip_queries is recorded IN the record: a KG-only total (scaling
    // cycles) must be self-describing — a leaked env var in a driver run
    // would otherwise read as a dramatic, unexplained speedup
    val common =
      s""""unit":"sec","queries":$qs,"rep_failures":$fails,"sf":${str(sfDir)},"cpus":${cpus.trim.toInt},"skip_queries":$skipQueries,"kg_pages":$kgN,"kg_triples":$nTriples,"kg_triples_per_sec":${num(tps, 1)}"""
    val compactJson = s"""{"metric":"total","value":${num(total, 3)},$common}"""
    val fullJson =
      s"""{"metric":"total","value":${num(total, 3)},$common,"samples":$sampleJson}"""
    // the driver machine-parses the final stdout line; under sbt, stdout
    // lines get an "[info] " prefix and trailing [success] lines follow —
    // so (a) write the full record to a file and (b) print the compact
    // line AFTER spark.stop() so no Spark shutdown logs trail it
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
    println(compactJson)
  }
}
