package graft

import graft.exec.{BandJoin, IndexStore}
import graft.fixtures.FixtureCorpus
import graft.queries.SimilarityQueries
import graft.stages.{Canonicalize, EntityLink, MentionDetect}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement instruments (not part of the driver contract), one main:
  *
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe <tool> [args]"
  *
  *   alloc                                  bytes allocated per parsed page (no Spark session)
  *   ann [n] [dir] [queries] [k] [nprobe]   ANN recall and walls of the production s03/s04/s07/s09
  *   cc [edgeCounts]                        CC union-find vs label-prop crossover
  *   dedup [n] [dir]                        s01/s10 dedup recall + keepers, t15/t17/t19 gates
  *   incremental [n] [dir]                  s12/s13 warm incremental batch after a real append
  *   plans <sfDir> <outDir> [queries]       formatted plans of each query and its index builds
  * }}}
  *
  * Defaults: `ann` n = 1000000, dir /tmp/graft_ann_scale, queries
  * s04_ann_lsh_topk,s07_ann_ivf_topk,s09_ann_sq8_rerank, k and nprobe
  * the pinned s07 configuration; `cc` 132000,500000,1000000,2000000;
  * `dedup` n = 1000000, dir /tmp/graft_dedup_scale; `incremental`
  * n = 1000000, dir /tmp/graft_inc_scale; `plans` all queries.
  * SPARK_GRAFT_CPUS (default 4) sizes the session.
  *
  * Every Spark tool runs on [[MainUtil.session]], the session Bench and
  * Verify run on, so its evidence is gathered under the same extensions
  * and settings. Each tool is a function of a session that never stops
  * it ([[run]]), so a spec can run a tool at a small size on the test
  * session. Tools print `PROBE` lines and hard-gate (require) their
  * correctness checks.
  */
object Probe {

  val Tools: Seq[String] = Seq("alloc", "ann", "cc", "dedup", "incremental", "plans")

  def main(args: Array[String]): Unit = {
    val tool = args.headOption.getOrElse("")
    checkTool(tool)
    if (tool == "alloc") alloc()
    else {
      val spark = MainUtil.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      try run(spark, tool, args.toSeq.drop(1)) finally spark.stop()
    }
  }

  /** Runs `tool` with its positional `args` (missing ones take the
    * defaults above) on `spark`, which it leaves running.
    */
  def run(spark: SparkSession, tool: String, args: Seq[String]): Unit = {
    checkTool(tool)
    def arg(i: Int, default: => String): String = args.lift(i).getOrElse(default)
    def list(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    tool match {
      case "alloc" => alloc()
      case "ann" => ann(spark, arg(0, "1000000").toLong, arg(1, "/tmp/graft_ann_scale"),
        list(arg(2, "s04_ann_lsh_topk,s07_ann_ivf_topk,s09_ann_sq8_rerank")),
        arg(3, SimilarityQueries.IvfK.toString).toInt,
        arg(4, SimilarityQueries.IvfNProbe.toString).toInt)
      case "cc" => cc(spark, list(arg(0, "132000,500000,1000000,2000000")).map(_.toLong))
      case "dedup" => dedup(spark, arg(0, "1000000").toLong, arg(1, "/tmp/graft_dedup_scale"))
      case "incremental" =>
        incremental(spark, arg(0, "1000000").toLong, arg(1, "/tmp/graft_inc_scale"))
      case "plans" =>
        def usage = throw new IllegalArgumentException("plans needs <sfDir> <outDir>")
        plans(spark, arg(0, usage), arg(1, usage), args.lift(2).map(list(_).toSet))
    }
  }

  private def checkTool(tool: String): Unit =
    require(Tools.contains(tool),
      s"unknown probe tool '$tool'; valid: ${Tools.mkString(", ")}")

  // ---- synthetic corpus shared by `dedup` and `incremental` ----------
  // ONE copy of the magic constants (seed multipliers, word counts, vocab
  // size, mutation-position formula), so a tweak to one tool's skew model
  // cannot silently diverge the other tool's documented corpus shape.

  /** 40 identical nav lines — the giant-bucket boilerplate page. */
  private val NavTemplate: String =
    (1 to 40).map(i => s"navitem$i home search login").mkString(" ")

  /** 30-word shared header carried by 30% of unique docs
    * (partial-signature banded-join skew, no true dups).
    */
  private val BoilerPrefix: String = (1 to 30).map(i => s"sitehdr$i").mkString(" ")

  /** A cluster's 240 base words, seeded by cluster id. */
  private def clusterBase(cid: Long): Array[String] = {
    val rnd = new scala.util.Random(cid * 2654435761L)
    Array.fill(240)("w" + rnd.nextInt(500000))
  }

  /** Near-dup cluster member text: replaces k base words at
    * deterministic scattered positions (seeded by cid and salt) with
    * `tag`-prefixed member-unique tokens — spanning exact dups (k=0)
    * down to pairs straddling the 0.8 verification threshold. The tag
    * keeps different tools' mutation vocabularies disjoint.
    */
  private def mutated(cid: Long, salt: Int, k: Int, tag: String): String = {
    val words = clusterBase(cid)
    var p = 0
    while (p < k) {
      val pos = (((cid * 7919 + salt * 104729 + p * 1299709) % 240 + 240) % 240).toInt
      words(pos) = s"$tag${cid}_${salt}_$p"
      p += 1
    }
    words.mkString(" ")
  }

  /** 120 unique words seeded by id; 30% of ids carry [[BoilerPrefix]]. */
  private def uniqueText(id: Long): String = {
    val rnd = new scala.util.Random(id * 31)
    val unique = Array.fill(120)("w" + rnd.nextInt(500000)).mkString(" ")
    if (id % 10 < 3) BoilerPrefix + " " + unique else unique
  }

  // ---- alloc ----------------------------------------------------------

  private lazy val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated on this thread across `iters` runs of `f`, after
    * `warm` warm-up runs (JIT + lazy statics), divided by iters.
    */
  private def bytesPer(warm: Int, iters: Int)(f: => Unit): Long = {
    var i = 0
    while (i < warm) { f; i += 1 }
    val tid = Thread.currentThread().getId
    val before = tmx.getThreadAllocatedBytes(tid)
    i = 0
    while (i < iters) { f; i += 1 }
    (tmx.getThreadAllocatedBytes(tid) - before) / iters
  }

  /** Extraction-hot-path allocation profiler (round-4 BASELINE addendum:
    * store-bearing memory traffic is the binding 8->32-thread ceiling on
    * this host, and allocation per extracted page is the one term the
    * ENGINE controls — fewer bytes stored per page is both a single-VM
    * scaling lever and fewer GC pauses per executor at 100x).
    *
    * Measures bytes allocated per parseOne call for every fixture shape
    * (plus the 2 MB giant-row variant and the slicer stage alone) via
    * com.sun.management.ThreadMXBean#getThreadAllocatedBytes — exact
    * per-thread allocation counters, no sampling, no JFR file dance.
    * Driver-side single-thread on purpose: the number measured is
    * bytes/page of the pure extraction code, not Spark plumbing.
    */
  def alloc(): Unit = {
    require(tmx.isThreadAllocatedMemorySupported)
    tmx.setThreadAllocatedMemoryEnabled(true)

    val base = FixtureCorpus.baseRows.toIndexedSeq
    println(f"${"page"}%-28s ${"bytes"}%12s ${"bytes/page"}%12s  ratio")
    for (b <- base) {
      val n = b.content.length
      val per = bytesPer(200, 1000)(MentionDetect.parseOne(b))
      println(f"${b.lang + ":" + b.path.take(20)}%-28s $n%12d $per%12d  ${per.toDouble / n}%5.1fx")
    }
    // the slicer stage alone on the two raw-crawl pages (the corpus
    // byte-dominant shape: ~86% of fixture-corpus bytes are aps-md raw)
    for (b <- base.filter(f => f.lang == "aps-md" && f.content.length > 10000)) {
      val per = bytesPer(200, 1000)(graft.rules.MarkdownSlicer.slice(b.content))
      println(f"${"slice-only:" + b.path.take(17)}%-28s ${b.content.length}%12d $per%12d  ${per.toDouble / b.content.length}%5.1fx")
    }
    // giant-row variant (every 1000th corpus row): base raw page + 50
    // appended copies — the slicer's early window should keep this from
    // costing 51x, and allocation here is what the skew row really pays
    val g = base.head
    val giant = g.copy(content = g.content + ("\n" + g.content) * FixtureCorpus.GiantFactor)
    val perG = bytesPer(20, 50)(MentionDetect.parseOne(giant))
    println(f"${"giant:" + g.path.take(22)}%-28s ${giant.content.length}%12d $perG%12d  ${perG.toDouble / giant.content.length}%5.1fx")
  }

  // ---- ann ------------------------------------------------------------

  /** ANN scale-headroom instrument: runs the PRODUCTION similarity
    * queries (s03 brute force, then each of `approxNames` — s04
    * multi-table LSH, s07 IVF at quantizer size `k` probing `nProbe`
    * lists, s09 SQ8 rerank) unchanged against a synthesized n x 64-dim
    * embedding table in `dir`, so the 100 TB claims rest on the same code
    * the driver checks at sf0.01 — not on a parallel implementation.
    *
    * Corpus: ids 0-9 are the probes; ids 10-999 are planted near-duplicates
    * (probe + 5% noise, cosine ~0.95+ — the semantic-dedup retrieval case);
    * the rest isotropic noise. Deterministic (id-seeded), partitioned
    * generation. Recall is measured vs the exact brute-force answer.
    */
  def ann(spark: SparkSession, n: Long, dir: String, approxNames: Seq[String],
      k: Int, nProbe: Int): Unit = {
    import spark.implicits._
    val cpus = spark.sparkContext.defaultParallelism

    // fail fast on a typo'd query name: resolving it lazily after the
    // corpus write + brute-force reference run would discard all that
    // completed work on a NoSuchElementException
    val unknown = ("s03_ann_cosine_topk" +: approxNames).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown ann query names: ${unknown.mkString(",")} — valid: " +
        SparkEntry.queries.keys.filter(_.startsWith("s0")).toSeq.sorted.mkString(","))

    val dim = 64
    def vecOf(id: Long): Array[Float] = {
      val rnd = new scala.util.Random(id)
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    }
    spark.range(0, n, 1, cpus * 4).map { id =>
      val v =
        if (id >= 10 && id < 1000) {
          // planted near-duplicate of probe id%10 (cosine ~0.95+)
          val base = vecOf(id % 10)
          val rnd = new scala.util.Random(id * 7919)
          base.map(x => x + (rnd.nextDouble() * 2 - 1).toFloat * 0.05f)
        } else vecOf(id)
      (id, v, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    println(s"PROBE ann corpus written: $n vectors x $dim dims")

    // two LIKE-FOR-LIKE samples (both collect the 50-row result — the
    // driver transfer is negligible next to the scans), the second also
    // yields the rows; a third untimed collect would re-run the full
    // scan for no extra information, and a count()-vs-collect() pair
    // would make "best" the min of two differently-shaped measurements
    import MainUtil.timed
    def query(name: String) =
      if (name == "s07_ann_ivf_topk") SimilarityQueries.annIvfAt(spark, dir, k, nProbe)
      else SparkEntry.queries(name)(spark, dir)
    def run(name: String): Map[(Long, Long), Double] = {
      def sample() = timed(query(name).select("probe_id", "vec_id", "cosine").collect())
      val (_, w1) = sample()
      val (collected, w2) = sample()
      val rows = collected.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      println(f"PROBE $name cpus=$cpus n=$n walls=$w1%.2f,$w2%.2f best=${math.min(w1, w2)}%.2f rows=${rows.size}")
      rows
    }

    val brute = run("s03_ann_cosine_topk")
    // the query list (validated up front, before the corpus write)
    // narrows the approximate paths — e.g. "s07_ann_ivf_topk" for the
    // 10M k=128 run, where rebuilding the LSH and SQ8 indexes too would
    // add tens of minutes for no new information
    for (name <- approxNames) {
      val approx = run(name)
      val common = approx.keySet.intersect(brute.keySet)
      // report drift instead of crashing: a cosine mismatch would discard
      // all completed 1M-vector measurements if it threw here
      val mismatched = common.count(k => approx(k) != brute(k))
      if (mismatched > 0)
        println(s"PROBE $name WARNING: $mismatched/${common.size} cosine mismatches vs s03")
      println(f"PROBE $name recall@5 vs exact: ${common.size.toDouble / brute.size}%.3f")
    }
  }

  // ---- cc -------------------------------------------------------------

  /** CC crossover instrument: measures BOTH Canonicalize paths on the
    * same k-edge graphs (one per entry of `sizes`) around the
    * union-find / label-prop boundary — the evidence behind
    * [[Canonicalize.DefaultSmallCutoff]]. The graph shape is the worst
    * case for BOTH sides: all-distinct string vertices (maximum driver
    * memory per edge for the union-find collect) arranged in 1,000 long
    * chains (maximum pointer-jump rounds for label propagation). Driver
    * heap cost of the union-find call is sampled by a 10 ms poller and
    * reported as peak-minus-baseline; both paths must agree on row count
    * and an order-independent (id, canonicalId) hash.
    */
  def cc(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import MainUtil.timed
    val cpus = spark.sparkContext.defaultParallelism

    def fingerprint(cc: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = cc.agg(count(lit(1)),
        sum(pmod(xxhash64(concat(col("id"), col("canonicalId"))),
          lit(1000000000000L)))).head()
      (r.getLong(0), r.getLong(1))
    }

    val rt = Runtime.getRuntime
    for (n <- sizes) {
      val comps = 1000L // 1,000 chains of n/1000 edges: diameter n/1000
      val edges = spark.range(0L, n, 1L, cpus)
        .select(format_string("v%09d", col("id")).as("src"),
          format_string("v%09d", col("id") + comps).as("dst"))
        .localCheckpoint(true) // same materialized input for both paths

      System.gc(); Thread.sleep(200)
      val base = rt.totalMemory - rt.freeMemory
      @volatile var peak = base
      @volatile var sampling = true
      val poller = new Thread(() => {
        while (sampling) {
          peak = math.max(peak, rt.totalMemory - rt.freeMemory)
          Thread.sleep(10)
        }
      })
      poller.setDaemon(true); poller.start()
      val (ufFp, wUf) = timed(fingerprint(
        Canonicalize.connectedComponents(edges, smallCutoff = Long.MaxValue)))
      sampling = false; poller.join()

      val (lpFp, wLp) = timed(fingerprint(
        Canonicalize.connectedComponents(edges, smallCutoff = 0)))
      require(ufFp == lpFp, s"paths disagree at $n edges: uf=$ufFp lp=$lpFp")
      println(f"PROBE cc edges=$n chains=$comps uf=$wUf%.2f s " +
        f"(driver heap +${(peak - base) / 1048576} MB peak) lp=$wLp%.2f s " +
        f"vertices=${ufFp._1} agree=true")
    }
  }

  // ---- dedup ----------------------------------------------------------

  /** Does s01's edge count over `members` identical pages match the
    * bucket cap? At or below [[BandJoin.GiantBucketCap]] their bucket is
    * enumerated in full, C(members, 2) pairs; above it the spanning double
    * chain emits fewer than 3 edges per member.
    */
  private[graft] def giantClusterEdgesOk(members: Long, edges: Long): Boolean =
    if (members <= BandJoin.GiantBucketCap) edges == members * (members - 1) / 2
    else edges < 3 * members

  /** Member j of a cluster replaces j base words at deterministic
    * scattered positions with member-unique tokens.
    */
  private def clusterText(cid: Long, member: Int): String =
    mutated(cid, salt = member, k = member, tag = "u")

  private def dedupText(id: Long, clusterEnd: Long, navEnd: Long): String =
    if (id < clusterEnd) clusterText(id / 5, (id % 5).toInt)
    else if (id < navEnd) NavTemplate
    else uniqueText(id)

  /** Document-dedup scale-headroom instrument: runs the PRODUCTION s01
    * (MinHash-LSH near-dup pairs) and s10 (pairs -> connected components
    * -> keeper) query paths unchanged against a synthesized corpus of
    * `n` documents in `dir`, so the "first production job of a
    * training-data pipeline" claim rests on the same code the driver
    * oracles at sf0.01.
    *
    * Corpus (deterministic, id-seeded, generated in parallel):
    *  - planted near-dup clusters of 5 (ids [0, N/50)): member j of a
    *    cluster replaces j of the cluster's 240 base words with unique
    *    tokens, spanning exact dups (J=1.0) down to pairs straddling the
    *    0.8 verification threshold. Ground truth = exact shingle Jaccard
    *    per in-cluster pair, recomputed independently (same generator,
    *    EntityLink.jaccard directly — no LSH).
    *  - one giant boilerplate cluster (ids [N/50, N/50 + N/20)): IDENTICAL
    *    template pages — every band hashes them into one bucket, the
    *    banded-join skew case the spanning-chain guard in
    *    [[graft.queries.SimilarityQueries.neardupPairsOf]] exists for.
    *  - the rest: unique 120-word docs, 30% carrying a shared 30-word
    *    boilerplate prefix (partial-signature skew, no true dups).
    *
    * Reported: recall of detected pairs vs planted truth, keeper
    * correctness vs an independent driver-side union-find over the
    * detected pairs (all N assignments checked distributively), the giant
    * cluster collapsing to one keeper, and per-stage walls — s01 cold
    * (shingle+band+join+verify+persist), s01 warm (persisted read-back),
    * s10 (warm pairs -> CC -> keeper attach over all N docs). The tool
    * also runs and HARD-GATES (require) the round-5 text ops over the
    * same corpus: t17 duplicated-span inventory (every boilerplate page
    * must be 100% duplicated spans, zero phantom dups on pure-unique
    * docs), t15 contamination (every non-eval boilerplate page
    * flagged, zero pure-unique false positives, adversarially large
    * eval broadcast), and t19 span removal (exactly one canonical
    * boilerplate page survives — its clean text pinned to the template's
    * byte length, which also forces the rebuild projection into the
    * timed plan — every other boilerplate page fully empty, zero unique
    * docs lose a word).
    *
    * At 1M: SPARK_DRIVER_MEM=48g. Run at CPUS=8 then 32 for a dedup
    * scaling cycle.
    */
  def dedup(spark: SparkSession, n: Long, dir: String): Unit = {
    import spark.implicits._
    import MainUtil.timed
    val cpus = spark.sparkContext.defaultParallelism

    val clusterEnd = n / 50 / 5 * 5 // whole clusters of 5
    val navEnd = clusterEnd + n / 20
    val nClusters = clusterEnd / 5

    spark.range(0, n, 1, cpus * 4)
      .map(id => (id, dedupText(id, clusterEnd, navEnd)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    println(s"PROBE dedup corpus written: $n docs " +
      s"($nClusters planted clusters of 5, ${navEnd - clusterEnd} boilerplate pages)")

    // planted ground truth: exact shingle Jaccard per in-cluster pair,
    // via the SAME jaccard/shingle code the engine verifies with but NO
    // LSH in the path (what LSH recall is measured against)
    val truth = spark.range(0, nClusters).flatMap { cid =>
      val texts = (0 until 5).map(m => SimilarityQueries.wordShingles(clusterText(cid, m)))
      for {
        i <- 0 until 5; j <- (i + 1) until 5
        jac = EntityLink.jaccard(texts(i), texts(j))
        if jac >= 0.8
      } yield (cid * 5 + i, cid * 5 + j)
    }.collect().toSet
    println(s"PROBE planted truth: ${truth.size} in-cluster pairs with exact J >= 0.8")

    // s01: cold build (shingle + band + chain/join + verify + persist),
    // then warm read-back of the persisted pair table
    def s01() = timed(SparkEntry.queries("s01_minhash_neardup")(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
    val (pairs, wCold) = s01()
    val (_, wWarm) = s01()
    println(f"PROBE s01 cpus=$cpus n=$n cold=$wCold%.2f warm=$wWarm%.2f " +
      f"pairs=${pairs.length} docs_per_sec_cold=${n / wCold}%.0f")

    val detected = pairs.toSet
    val hit = truth.count(detected.contains)
    println(f"PROBE s01 recall vs planted truth: ${hit.toDouble / truth.size}%.4f " +
      s"($hit/${truth.size})")
    val navChain = pairs.count { case (a, b) => a >= clusterEnd && a < navEnd && b < navEnd }
    val navN = navEnd - clusterEnd
    println(s"PROBE giant cluster: $navChain chain edges for $navN identical pages " +
      s"(all-pairs would be ${navN * (navN - 1) / 2})")
    require(giantClusterEdgesOk(navN, navChain),
      s"s01 emitted $navChain edges for $navN identical pages (bucket cap ${BandJoin.GiantBucketCap})")

    // s10 over the warm pair table: CC + keeper attach across all N docs
    val (s10df, wS10) = timed {
      val df = SparkEntry.queries("s10_dedup_keeper")(spark, dir)
      df.count()
      df
    }
    println(f"PROBE s10 cpus=$cpus n=$n wall=$wS10%.2f (warm pairs -> CC -> keeper attach)")

    // independent keeper recompute: driver-side union-find over the
    // DETECTED pairs, checked distributively against every engine row
    val find = MainUtil.unionFindRoots(pairs)
    val pairedDocs = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val compMin = scala.collection.mutable.Map.empty[Long, Long]
    pairedDocs.foreach { d =>
      val r = find(d)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), d)
    }
    val expectedDf = pairedDocs.map(d => (d, compMin(find(d)))).toSeq
      .toDF("doc_id", "exp_keeper")
    val mismatches = s10df.join(expectedDf, Seq("doc_id"))
      .filter(col("keeper_doc_id") =!= col("exp_keeper")).count()
    val totalDropped = s10df.filter(col("is_dropped")).count()
    val expectedDropped = pairedDocs.length - compMin.size
    println(s"PROBE s10 keeper check: $mismatches mismatches vs union-find; " +
      s"dropped=$totalDropped expected=$expectedDropped " +
      s"(components=${compMin.size}, paired docs=${pairedDocs.length})")
    require(mismatches == 0 && totalDropped == expectedDropped,
      "s10 keeper assignments diverge from independent union-find")

    // t17 duplicated-span inventory over the same corpus: the heaviest
    // NEW shuffle shape of round 5 (every doc emits ~n_words rolling
    // hashes; the 50k identical boilerplate pages put 7M span instances
    // on 141 distinct keys — a skew stress for the partial aggregation).
    // Planted expectations: every boilerplate page is 100% duplicated
    // spans; pure-unique docs (no shared prefix) have zero.
    // ONE uncached execution: the planted checks fold into a single
    // aggregation over the query result, so the pipeline runs exactly
    // once (separate per-check counts would re-execute it; a cache()
    // would materialize every output column and triple the wall vs the
    // pipeline itself)
    val (t17checks, wT17) = timed {
      val row = SparkEntry.queries("t17_dup_spans")(spark, dir).agg(
        sum(when(col("doc_id") >= clusterEnd && col("doc_id") < navEnd &&
          col("dup_fraction") =!= 1.0, 1L).otherwise(0L)).as("navBad"),
        sum(when(col("doc_id") >= navEnd && pmod(col("doc_id"), lit(10)) >= 3 &&
          col("n_dup_spans") =!= 0L, 1L).otherwise(0L)).as("uniqueBad")).head()
      (row.getLong(0), row.getLong(1))
    }
    val (navBad, uniqueBad) = t17checks
    println(f"PROBE t17 cpus=$cpus n=$n wall=$wT17%.2f (span inventory)")
    println(s"PROBE t17 planted check: $navBad boilerplate pages not fully duplicated, " +
      s"$uniqueBad unique docs with phantom dup spans")
    require(navBad == 0 && uniqueBad == 0, "t17 planted-duplicate expectations violated")

    // t15 contamination: at this corpus the %7 eval convention makes an
    // ADVERSARIALLY large eval set (~143k docs -> ~20M distinct eval
    // grams broadcast) — production eval sets are orders smaller; green
    // here means the broadcast path survives the unrealistic extreme.
    // Planted: every non-eval boilerplate page shares ALL its grams
    // with the eval boilerplate pages.
    val (t15checks, wT15) = timed {
      val row = SparkEntry.queries("t15_contamination")(spark, dir).agg(
        sum(when(col("doc_id") >= clusterEnd && col("doc_id") < navEnd, 1L)
          .otherwise(0L)).as("navFlagged"),
        // FALSE-POSITIVE side: a pure-unique doc (no shared prefix, not
        // itself eval) shares no 13-gram with anything — flagging one
        // means the join key degenerated; recall alone would miss that
        sum(when(col("doc_id") >= navEnd && pmod(col("doc_id"), lit(10)) >= 3, 1L)
          .otherwise(0L)).as("uniqueFlagged")).head()
      (row.getLong(0), row.getLong(1))
    }
    val (navFlagged, uniqueFlagged) = t15checks
    println(f"PROBE t15 cpus=$cpus n=$n wall=$wT15%.2f (contamination, adversarial eval size)")
    val navNonEval = (clusterEnd until navEnd).count(_ % 7 != 0)
    println(s"PROBE t15 planted check: $navFlagged/$navNonEval boilerplate pages flagged, " +
      s"$uniqueFlagged pure-unique docs falsely flagged")
    require(navFlagged == navNonEval, "t15 missed contaminated boilerplate pages")
    require(uniqueFlagged == 0, "t15 flagged pure-unique docs (degenerate join key?)")

    // t19 span removal: the heaviest removal shape — every boilerplate
    // page's spans are corpus-duplicated, so the removable-occurrence
    // explode runs at full tilt (~50k pages x ~160 spans x 20 positions).
    // Planted: exactly ONE boilerplate page (the canonical min (doc_id,
    // pos) holder) keeps words; every other one empties out; no-prefix
    // unique docs never lose a word.
    val (t19checks, wT19) = timed {
      val row = SparkEntry.queries("t19_span_removal")(spark, dir).agg(
        sum(when(col("doc_id") >= clusterEnd && col("doc_id") < navEnd &&
          col("n_removed_words") === col("n_words"), 1L).otherwise(0L)).as("navEmptied"),
        sum(when(col("doc_id") >= navEnd && pmod(col("doc_id"), lit(10)) >= 3 &&
          col("n_removed_words") =!= 0L, 1L).otherwise(0L)).as("uniqueTouched"),
        // summing clean_text LENGTHS forces the rebuild projection into
        // the timed plan (count-only checks let Catalyst column-prune
        // the array_except/transform rebuild entirely) AND pins its
        // value: the canonical page alone keeps the template verbatim
        sum(when(col("doc_id") >= clusterEnd && col("doc_id") < navEnd,
          length(col("clean_text"))).otherwise(0L)).as("navCleanLen")).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    val (navEmptied, uniqueTouched, navCleanLen) = t19checks
    println(f"PROBE t19 cpus=$cpus n=$n wall=$wT19%.2f (span removal, rebuild executed)")
    println(s"PROBE t19 planted check: $navEmptied/${navN - 1} boilerplate pages fully " +
      s"emptied, $uniqueTouched unique docs losing words, " +
      s"surviving boilerplate bytes=$navCleanLen (template=${NavTemplate.length})")
    require(navEmptied == navN - 1, "t19 kept words in a non-canonical boilerplate page")
    require(uniqueTouched == 0, "t19 removed words from pure-unique docs")
    require(navCleanLen == NavTemplate.length,
      "surviving boilerplate text is not exactly the canonical page's template")
  }

  // ---- incremental ----------------------------------------------------

  private def incMutated(cid: Long, salt: Int, k: Int): String =
    mutated(cid, salt, k, tag = "m")

  /** Layout boundaries for corpus size n and the production cutoff. */
  private final case class Layout(n: Long, cutoff: Long) {
    val oldClusterEnd = 20000L   // 5k clusters of 4
    val navEnd = 70000L          // 50k identical old boilerplate pages
    val crossEnd = cutoff + 5000 // delta mutations of old cluster bases
    val newnewEnd = crossEnd + 2000 // 1k delta-internal near-dup pairs
    val deltaNavEnd = newnewEnd + 3000 // delta boilerplate pages
  }

  private def incText(id: Long, L: Layout): String =
    if (id < L.oldClusterEnd) incMutated(id / 4, salt = (id % 4).toInt, k = (id % 4).toInt)
    else if (id < L.navEnd) NavTemplate
    else if (id < L.cutoff) uniqueText(id)
    else if (id < L.crossEnd) incMutated(cid = id - L.cutoff, salt = 7777, k = (id % 3 + 1).toInt)
    else if (id < L.newnewEnd) {
      val pairId = (id - L.crossEnd) / 2
      // fresh bases disjoint from old cids (offset past 5k old clusters)
      incMutated(cid = 1000000L + pairId, salt = 100 + (id % 2).toInt, k = (id % 2 + 1).toInt)
    }
    else if (id < L.deltaNavEnd) NavTemplate
    else uniqueText(id)

  /** Incremental-dedup scale-headroom instrument: runs the PRODUCTION
    * s12 path unchanged through the real ingest sequence — write the old
    * corpus, build the old-bands index, APPEND a batch as new parquet
    * files, run the incremental query against the surviving index — and
    * measures the claim the op exists for: a warm incremental batch
    * costs O(delta), not O(corpus). The append step is load-bearing: the
    * round-5 index was keyed on a whole-table snapshot,
    * so this exact sequence rebuilt O(N) every batch and the "warm" wall
    * was only reachable by re-running a byte-identical corpus; the tool
    * proves the slice-keyed index stays warm across the append before
    * timing it.
    *
    * Corpus (deterministic, id-seeded, generated in parallel; the layout
    * is fixed, so n must exceed ~100k):
    *  - old planted clusters: ids [0, 20k) = 5k clusters of 4 (member j
    *    mutates j of 240 base words) — realistic old-old content that the
    *    index must hold without s12 emitting it.
    *  - old giant boilerplate: ids [20k, 70k) IDENTICAL template pages.
    *  - old unique: ids [70k, cutoff), 120 words, 30% sharing a 30-word
    *    boilerplate prefix (banded-join skew, no true dups).
    *  - delta CROSS dups: the first 5k delta ids mutate old cluster bases
    *    (1-3 words) — exact J vs each old member recomputed independently
    *    (same generator + EntityLink.jaccard, NO LSH) as planted truth,
    *    including pairs straddling the 0.8 threshold.
    *  - delta NEW-NEW dups: next 2k ids = 1k mutual near-dup pairs over
    *    fresh bases (must come from the delta self-run).
    *  - delta boilerplate: next 3k ids = the SAME old template (an
    *    over-cap delta bucket probing an over-cap old bucket — both
    *    giant guards at once; checked by connectivity, not enumeration).
    *  - delta unique filler: the rest.
    *
    * Reported: cross+newnew recall vs planted truth, zero non-delta
    * pairs, boilerplate connectivity through the representative links,
    * and walls — index build (old 90% of docs, pre-append), warm batch
    * ×2 (delta work only, post-append), and a full s01 rebuild over the
    * appended corpus as the per-batch cost the incremental path
    * replaces. Point GRAFT_ANN_INDEX_ROOT at a fresh directory for a
    * true cold start.
    */
  def incremental(spark: SparkSession, n: Long, dir: String): Unit = {
    import spark.implicits._
    import MainUtil.timed
    val cpus = spark.sparkContext.defaultParallelism

    val cutoff = (n - 1) / 10 * 9
    val L = Layout(n, cutoff)
    require(L.deltaNavEnd < n, s"n=$n too small for the delta layout")

    // (1) the OLD corpus lands alone — the state a continuously-
    // ingesting pipeline is in before a batch arrives
    spark.range(0, cutoff, 1, cpus * 4)
      .map(id => (id, incText(id, L)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    println(s"PROBE incremental OLD corpus written: $cutoff docs (pinned cutoff=$cutoff)")

    // (2) cold = the old-bands index build alone (the delta slice is
    // empty pre-append, so this wall isolates the O(N) cost the warm
    // path amortizes); the ingest pins its own batch boundary
    val (pairsCold, wCold) = timed(
      SimilarityQueries.incrementalNeardupAt(spark, dir, cutoff)
        .select("a", "b").collect())
    require(pairsCold.isEmpty, "pre-append run emitted pairs with an empty delta")
    require(SimilarityQueries.indexes.isWarm(spark, IndexStore.oldBands(spark, dir, cutoff)),
      "old-bands index not committed after the cold build")
    println(f"PROBE s12 cpus=$cpus index build (old=$cutoff docs) wall=$wCold%.2f")

    // (3) the batch lands as a parquet APPEND — the exact sequence that
    // invalidated the whole-table-keyed index before the round-5 fix
    spark.range(cutoff, n, 1, cpus)
      .map(id => (id, incText(id, L)))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val deltaN = n - cutoff
    println(s"PROBE delta batch appended: $deltaN docs " +
      s"(5000 cross, 2000 newnew, 3000 boilerplate)")
    require(SimilarityQueries.indexes.isWarm(spark, IndexStore.oldBands(spark, dir, cutoff)),
      "tail append invalidated the old-bands index — warm path unreachable")
    // post-append, the default id-tail cutoff rule resolves to the same
    // pinned boundary, so the registered production query is usable as-is
    val gotCutoff = IndexStore.incrementalCutoff(spark, dir)
    require(gotCutoff == cutoff, s"production cutoff $gotCutoff != layout cutoff $cutoff")

    // planted truth (exact Jaccard, same generator, NO LSH): cross pairs
    // (old cluster member, delta mutation) and newnew pairs
    import SimilarityQueries.wordShingles
    import EntityLink.jaccard
    val crossTruthJ = spark.range(0, 5000).flatMap { k =>
      val d = wordShingles(incMutated(k, 7777, ((cutoff + k) % 3 + 1).toInt))
      (0 until 4).flatMap { j =>
        val jac = jaccard(wordShingles(incMutated(k, j, j)), d)
        if (jac >= 0.8) Some((k * 4 + j, cutoff + k, jac)) else None
      }
    }.collect()
    val crossTruth = crossTruthJ.map(t => (t._1, t._2)).toSet
    val newnewTruth = (0 until 1000).flatMap { p =>
      val a = L.crossEnd + 2 * p; val b = a + 1
      val ja = jaccard(
        wordShingles(incMutated(1000000L + p, 100 + (a % 2).toInt, (a % 2 + 1).toInt)),
        wordShingles(incMutated(1000000L + p, 100 + (b % 2).toInt, (b % 2 + 1).toInt)))
      if (ja >= 0.8) Some((a, b)) else None
    }.toSet
    println(s"PROBE planted truth: ${crossTruth.size} cross pairs, " +
      s"${newnewTruth.size} newnew pairs with exact J >= 0.8")

    // (4) warm batch = the production registered query against the
    // index that survived the append; two reps for timing stability
    def s12() = timed(SparkEntry.queries("s12_incremental_neardup")(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
    val (pairs, wWarm) = s12()
    val (pairsWarm2, wWarm2) = s12()
    println(f"PROBE s12 cpus=$cpus n=$n delta=$deltaN warm=$wWarm%.2f warm2=$wWarm2%.2f " +
      f"pairs=${pairs.length} delta_docs_per_sec_warm=${deltaN / wWarm}%.0f")
    require(pairs.toSet == pairsWarm2.toSet, "warm reps disagree")

    val detected = pairs.toSet
    require(pairs.forall { case (a, b) => a < b && b >= cutoff },
      "s12 emitted a pair not touching the delta")
    val crossHit = crossTruth.count(detected.contains)
    val nnHit = newnewTruth.count(detected.contains)
    println(f"PROBE s12 recall: cross ${crossHit.toDouble / crossTruth.size}%.4f " +
      s"($crossHit/${crossTruth.size}), newnew ${nnHit}/${newnewTruth.size}")
    // hard gate calibrated to LSH theory: at the 16x4 band scheme a pair
    // at J = 0.80 has p_miss ~ 1.4e-4, so over ~10k borderline planted
    // pairs a handful of misses is EXPECTED behavior, not a defect —
    // require perfection only where theory does (J >= 0.85: p_miss
    // ~ 7e-6), and >= 99.5% overall
    val confident = crossTruthJ.filter(_._3 >= 0.85).map(t => (t._1, t._2))
    val confHit = confident.count(detected.contains)
    require(confHit == confident.length,
      s"s12 missed ${confident.length - confHit} planted pairs with J >= 0.85")
    require(crossHit.toDouble / crossTruth.size >= 0.995,
      "s12 cross recall below the LSH-theoretical floor")
    require(nnHit == newnewTruth.size, "s12 missed planted newnew pairs")

    // boilerplate connectivity: the 3000 delta template pages must form
    // ONE component over s12 pairs alone and that component must touch
    // the old giant cluster (representative links)
    val navDelta = (L.newnewEnd until L.deltaNavEnd)
    val find = MainUtil.unionFindRoots(pairs)
    val navRoots = navDelta.map(find).toSet
    val linkedToOld = pairs.exists { case (a, b) =>
      a >= L.oldClusterEnd && a < L.navEnd && navDelta.contains(b)
    }
    println(s"PROBE s12 boilerplate: ${navRoots.size} component(s) over 3000 delta " +
      s"template pages, linked to old giant cluster=$linkedToOld")
    require(navRoots.size == 1 && linkedToOld,
      "delta boilerplate pages failed to connect through representatives")

    // s13: the batch's keeper update. First call builds the persisted
    // old-keeper table from the committed bands (no re-shingle); second
    // is the steady-state warm batch (s12 delta run + quotient-graph CC
    // + relabel attach).
    def s13() = timed(
      SimilarityQueries.incrementalKeeperAt(spark, dir, cutoff)
        .filter(col("is_dropped")).count())
    val (_, wK13Build) = s13()
    require(SimilarityQueries.indexes.isWarm(spark, IndexStore.oldKeepers(spark, dir, cutoff)),
      "old-keeper table not committed after the build run")
    val (nDropped, wK13) = s13()
    println(f"PROBE s13 cpus=$cpus keeper_build_run=$wK13Build%.2f warm=$wK13%.2f " +
      s"dropped=$nDropped")

    // planted keeper expectations for every s12-linked delta doc (old
    // clusters are verified-Jaccard isolated, so their keepers are
    // analytic): cross dup of old cluster k -> 4k; delta boilerplate ->
    // the old giant cluster's min; newnew pair -> its own min
    val expKeeper = scala.collection.mutable.Map.empty[Long, Long]
    pairs.foreach { case (a, b) =>
      if (b < L.crossEnd) { if (a < cutoff) expKeeper(b) = 4L * (b - cutoff) }
      else if (b >= L.newnewEnd && b < L.deltaNavEnd) expKeeper(b) = L.oldClusterEnd
    }
    (0 until 1000).foreach { p =>
      val a = L.crossEnd + 2 * p
      if (detected((a, a + 1))) { expKeeper(a) = a; expKeeper(a + 1) = a }
    }
    val expDf = expKeeper.toSeq.toDF("doc_id", "exp_keeper")
    // LEFT join from the expectations: a doc missing from the s13
    // output entirely must count as a failure, not silently shrink the
    // checked set (an inner join would pass on an incomplete table)
    val k13Mismatch = expDf
      .join(SimilarityQueries.incrementalKeeperAt(spark, dir, cutoff),
        Seq("doc_id"), "left")
      .filter(col("keeper_doc_id").isNull ||
        col("keeper_doc_id") =!= col("exp_keeper")).count()
    println(s"PROBE s13 planted keeper check: $k13Mismatch mismatches/missing " +
      s"over ${expKeeper.size} linked delta docs")
    require(k13Mismatch == 0, "s13 keepers diverge from planted expectations")

    // the per-batch cost the incremental pair stage replaces: a full s01
    // rebuild over the appended corpus (cold — fresh pair-table stage for
    // this snapshot); s10 on top of the now-warm pair table isolates the
    // full-graph CC + attach the s13 quotient formulation avoids
    val (_, wFull) = timed(
      SparkEntry.queries("s01_minhash_neardup")(spark, dir).count())
    println(f"PROBE s01 full rebuild cpus=$cpus n=$n wall=$wFull%.2f " +
      f"-> warm-incremental speedup ${wFull / wWarm}%.1fx")
    val (_, wS10) = timed(
      SparkEntry.queries("s10_dedup_keeper")(spark, dir).filter(col("is_dropped")).count())
    // the incremental batch total is wK13 ALONE: s13 computes the s12
    // delta pairs inside itself, so a batch that needs pairs + keepers
    // runs one query (summing wWarm + wK13 would double-count the delta
    // pair work)
    println(f"PROBE s10 full last mile (warm pairs) cpus=$cpus wall=$wS10%.2f " +
      f"-> batch total full=${wFull + wS10}%.2f vs incremental=$wK13%.2f " +
      f"(${(wFull + wS10) / wK13}%.1fx)")
  }

  // ---- plans ----------------------------------------------------------

  /** Plan dump into `outDir` for every declared query over `sfDir`
    * (only those in `only`, when given): `<name>.txt` is the query's
    * `.explain("formatted")`, and `<name>.build.<stage>.txt` the executed
    * plan of each index data write the query ran while its DataFrame was
    * constructed (an index-backed query's own plan only reads the index
    * back). Building a DataFrame runs jobs: input fingerprints, the
    * builds of indexes that are not warm, and eager steps such as s07's
    * centroid collect and s12's `localCheckpoint`.
    */
  def plans(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def explain(qe: QueryExecution): String =
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def write(file: String, plan: String): Unit = {
      java.nio.file.Files.write(out.resolve(file), plan.getBytes("UTF-8"))
      println(s"[plandump] ${out.resolve(file)}")
    }
    // (stage, plan) per index build: Checkpoint writes a stage's rows to
    // <root>/<stage>/data
    val builds = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: InsertIntoHadoopFsRelationCommand if w.outputPath.getName == "data" =>
            builds.add((w.outputPath.getParent.getName, explain(qe)))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n))).foreach { name =>
      try write(s"$name.txt", explain(SparkEntry.queries(name)(spark, sfDir).queryExecution))
      catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      Iterator.continually(builds.poll()).takeWhile(_ != null)
        .foreach { case (stage, plan) => write(s"$name.build.$stage.txt", plan) }
    } finally spark.listenerManager.unregister(listener)
  }
}
