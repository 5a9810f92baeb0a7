package graft.stages

import graft.SparkSpec
import graft.model.Mention
import org.apache.spark.sql.functions._

/** Entity linking (J6) + canonicalization (J7) over the fixture alias
  * clusters from FIXTURES.md §4.
  */
class LinkingSpec extends SparkSpec {

  test("minhash LSH finds the fixture name variants (O'Dea/ODea, Centre/Center)") {
    import spark.implicits._
    val names = Seq(
      ("author", "Nicholas O'Dea"), ("author", "Nicholas ODea"),
      ("inst", "Center for Quantum Science and Engineering"),
      ("inst", "Centre for Quantum Science and Engineering"),
      ("inst", "Stanford University"), ("inst", "Seoul National University"),
      ("author", "Zheng Yan")).toDF("kind", "name")
    val edges = EntityLink.fuzzyEdges(names, 0.55)
      .select("src", "dst").as[(String, String)].collect().toSet
    assert(edges.contains(("Nicholas O'Dea", "Nicholas ODea")))
    assert(edges.contains(("Center for Quantum Science and Engineering",
      "Centre for Quantum Science and Engineering")))
    // distinct institutions must NOT be linked
    assert(!edges.exists { case (a, b) =>
      Set(a, b) == Set("Stanford University", "Seoul National University")
    })
  }

  test("O'Dea/ODea collapse to identical shingle keys (punctuation folding)") {
    assert(EntityLink.shingleKey("Nicholas O’Dea") == EntityLink.shingleKey("Nicholas ODea"))
    assert(EntityLink.jaccard(
      EntityLink.shingles("Nicholas O’Dea"), EntityLink.shingles("Nicholas ODea")) == 1.0)
  }

  test("connected components: min-id labels, independent of partitioning") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "a"))
      .toDF("src", "dst")
    val cc = Canonicalize.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    // {a,b,c,p,q,r} one component (r-a bridge), {x,y} another
    assert(Seq("a", "b", "c", "p", "q", "r").forall(cc(_) == "a"))
    assert(cc("x") == "x" && cc("y") == "x")

    val cc1 = Canonicalize.connectedComponents(edges.repartition(7))
      .as[(String, String)].collect().toMap
    assert(cc1 == cc) // partitioning-invariant (SURVEY.md §5.2.4)

    // the distributed label-propagation path must agree with the
    // driver union-find fast path (smallCutoff = 0 forces it)
    val ccDist = Canonicalize.connectedComponents(edges, smallCutoff = 0)
      .as[(String, String)].collect().toMap
    assert(ccDist == cc)
  }

  /** Driver-side fuzzyEdges over distinct (kind, name) rows, for inputs
    * whose LSH buckets all sit under the cap: star edges to each
    * shingle-key minimum, plus every pair of those minima that shares a
    * `bandKeys` entry and verifies at J >= tau.
    */
  private def referenceEdges(names: Seq[(String, String)], tau: Double): Seq[(String, String, String)] = {
    val groups = keyGroups(names)
    val star = groups.flatMap { g =>
      val (k, rep) = g.min
      g.filter(_._2 != rep).map(n => (k, rep, n._2))
    }
    val buckets = repBuckets(groups.map(_.min))
    assert(buckets.forall(_.size <= graft.exec.BandJoin.GiantBucketCap), "input has a giant bucket")
    val fuzzy = buckets.flatMap(b => for ((k, x) <- b; (_, y) <- b if x < y) yield (k, x, y)).distinct
      .filter { case (_, x, y) => EntityLink.jaccard(EntityLink.shingles(x), EntityLink.shingles(y)) >= tau }
    (star ++ fuzzy).sorted
  }

  /** Distinct (kind, name) rows grouped by (kind, shingle key). */
  private def keyGroups(names: Seq[(String, String)]): Seq[Seq[(String, String)]] =
    names.distinct.groupBy { case (k, n) => (k, EntityLink.shingleKey(n)) }.values.toSeq

  /** LSH buckets of (kind, representative name) rows: one member list
    * per (kind, band, bandKey).
    */
  private def repBuckets(reps: Seq[(String, String)]): Seq[Seq[(String, String)]] =
    reps.flatMap { case (k, n) => EntityLink.bandKeys(n).map(bk => ((k, bk), (k, n))) }
      .groupBy(_._1).values.map(_.map(_._2)).toSeq

  test("fuzzyEdges equals a driver-side reference where no LSH bucket is over the cap") {
    import spark.implicits._
    val fixture = Seq(
      ("author", "Nicholas O'Dea"), ("author", "Nicholas ODea"),
      ("inst", "Center for Quantum Science and Engineering"),
      ("inst", "Centre for Quantum Science and Engineering"),
      ("inst", "Stanford University"), ("inst", "Seoul National University"),
      ("author", "Zheng Yan"))
    // typo and punctuation variants of 150 generated author names, plus
    // the 1,500 punctuation variants of the guard case below (one shingle
    // key, so one representative)
    val rnd = new scala.util.Random(7)
    def word(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString.capitalize
    val typos = (0 until 150).flatMap { _ =>
      val name = s"${word(5)} ${word(8)}"
      val i = 1 + rnd.nextInt(name.length - 1)
      Seq(name, name.updated(i, ('a' + rnd.nextInt(26)).toChar), name.toUpperCase.replace(" ", ". "))
    }.map(("author", _))
    val variants = (0 until 1500).map(i => ("author", "John Smith" + ("." * (i + 1))))
    for (names <- Seq(fixture, fixture ++ typos ++ variants)) {
      val got = EntityLink.fuzzyEdges(names.toDF("kind", "name"), 0.55)
        .as[(String, String, String, Double)].collect().toSeq
      val expected = referenceEdges(names, 0.55)
      assert(got.map(e => (e._1, e._2, e._3)).sorted == expected)
      assert(got.forall(e => e._4 == EntityLink.jaccard(EntityLink.shingles(e._2), EntityLink.shingles(e._3))))
    }
  }

  /** 1,500 punctuation variants of one name (identical shingle keys) and
    * 1,200 same-prefix boilerplate names that share their dominant minhash
    * slots: LSH buckets far over the cap.
    */
  private val hostile = (0 until 1500).map(i => ("author", "John Smith" + ("." * (i + 1)))) ++
    (0 until 1200).map(i => ("author", s"the common prefix entry $i"))
  private def hostileNames = {
    import spark.implicits._
    hostile.toDF("kind", "name")
  }

  test("identical-key groups fold linearly; giant LSH buckets are chained") {
    // Pairwise LSH over the variants would be ~1.1M candidates; the star
    // fold emits 1499 edges and only ONE representative enters LSH
    val (edges, jobs) = countJobs(EntityLink.fuzzyEdges(hostileNames, tau = 0.55).collect())
    assert(jobs <= 7, s"$jobs jobs to build and collect the fuzzy edges")
    // every variant links to the group minimum ("John Smith." — shortest
    // sorts first), so CC resolves the whole group through 1499 edges
    val star = edges.filter(r =>
      r.getString(1) == "John Smith." && r.getString(2).startsWith("John Smith."))
    assert(star.length == 1499, s"star edges: ${star.length}")
    // the boilerplate names are genuinely mutually similar (long shared
    // prefix), so above-tau pairs among them are CORRECT output; the
    // guards bound candidate generation, so far fewer than all pairs
    val allPairsBound = 1499 + 1200 * 1199 / 2
    assert(edges.length < allPairsBound, s"edges: ${edges.length}")
    // every edge verifies at J >= tau, with its reported jaccard
    edges.foreach { r =>
      val j = EntityLink.jaccard(EntityLink.shingles(r.getString(1)), EntityLink.shingles(r.getString(2)))
      assert(j >= 0.55 && j == r.getDouble(3), r)
    }
    // giant buckets contribute at most 2 edges per member per band: the
    // fuzzy edges no bucket under the cap explains are chain edges
    val (giant, small) = repBuckets(keyGroups(hostile).map(_.min))
      .partition(_.size > graft.exec.BandJoin.GiantBucketCap)
    assert(giant.nonEmpty, "no bucket over the cap: the guard is not exercised")
    val smallPairs = small.flatMap(b => for ((_, x) <- b; (_, y) <- b if x < y) yield (x, y)).toSet
    val viaChain = edges.filter(_.getDouble(3) < 1.0).map(r => (r.getString(1), r.getString(2)))
      .filterNot(smallPairs)
    assert(viaChain.nonEmpty, "no chain edge in the output")
    assert(viaChain.length <= giant.map(2 * _.size).sum,
      s"${viaChain.length} chain edges over ${giant.size} giant buckets of ${giant.map(_.size).sum} members")
  }

  test("fuzzyEdges builds its band rows and its keyed exchange once") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val df = EntityLink.fuzzyEdges(hostileNames, tau = 0.55)
    df.collect()
    // every node of the final adaptive plan; a reused exchange's subtree
    // is not walked, since it does not run again
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.queryExecution.executedPlan)
    def keysOf(e: SparkPlan) = e.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute].name)
      case _ => Nil
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => keysOf(e) }
    val reused = plan.collect { case r: ReusedExchangeExec => keysOf(r.child) }
    val shown = s"exchanges $exchanges, reused $reused, final plan:\n" +
      df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    // the bandKeys flatMap (the one MapPartitions) runs once
    assert(plan.count(_.nodeName == "MapPartitions") == 1, shown)
    // the (kind, skey) exchange runs once and the star edges reuse it;
    // the band rows shuffle once, for the bucket-size window, and the
    // self-join and the chain reuse that exchange
    assert(exchanges.count(_ == Seq("kind", "skey")) == 1, shown)
    assert(reused.contains(Seq("kind", "skey")), shown)
    assert(exchanges.count(_ == Seq("kind", "band", "bkey")) == 1, shown)
    assert(exchanges.length == 3, shown)
  }

  test("distributed CC converges on a high-diameter chain within maxIter") {
    import spark.implicits._
    // a 200-hop rename chain: plain min-label propagation moves the min
    // one hop per round and would NOT converge in 20 iterations — the
    // pointer-jump step (label <- label(label)) must carry it
    val chain = (0 until 200)
      .map(i => (f"v$i%04d", f"v${i + 1}%04d")).toDF("src", "dst")
    val cc = Canonicalize.connectedComponents(chain, maxIter = 20, smallCutoff = 0)
      .as[(String, String)].collect().toMap
    assert(cc.size == 201)
    assert(cc.values.toSet == Set("v0000"), s"labels: ${cc.values.toSet}")
  }

  test("CC crossover: cutoff edges take the union-find, cutoff + 1 label propagation, same labels") {
    import spark.implicits._
    // three chains: 7 edges over 3 components, materialized in 3
    // partitions so the probe below reads them without a shuffle
    val edges = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("y", "x"), ("z", "y"),
      ("p", "q"), ("q", "r")).toDF("src", "dst").repartition(3).localCheckpoint(true)
    val n = edges.count()
    def run(cutoff: Long) = countJobs(Canonicalize.connectedComponents(edges, smallCutoff = cutoff)
      .as[(String, String)].collect().toMap)
    val (atCutoff, ufJobs) = run(n)          // n edges <= cutoff: union-find
    val (overCutoff, lpJobs) = run(n - 1)    // n = cutoff + 1 edges: label propagation
    val (unbounded, _) = run(Long.MaxValue)  // limit bound must not overflow
    val (pinned, pinnedJobs) = run(0)        // the kg15 pin: always distributed
    val expected = Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x", "p" -> "p", "q" -> "p", "r" -> "p")
    assert(atCutoff == expected && overCutoff == expected && unbounded == expected &&
      pinned == expected)
    // the union-find path is ONE bounded collect job over 3 partitions;
    // label propagation runs its shuffle rounds after that probe
    assert(ufJobs == 1, s"union-find path ran $ufJobs jobs")
    assert(lpJobs > 1 && pinnedJobs > 1, s"label propagation ran $lpJobs / $pinnedJobs jobs")
  }

  test("CC at the default cutoff fits a 512 MB driver on worst-case chain edges") {
    // DefaultSmallCutoff edges over all-distinct string vertices take the
    // driver union-find, whose collect, vertex map and result rows are
    // the largest driver allocation in the engine
    val root = java.nio.file.Files.createTempDirectory("graft-cc-heap").toString
    val (exit, log) = runChild(CcHeapChild, root)
    val line = log.find(_.startsWith("CC ")).getOrElse(
      fail(s"child (exit $exit) printed no CC line:\n${log.takeRight(30).mkString("\n")}"))
    assert(exit == 0, log.takeRight(30).mkString("\n"))
    val n = Canonicalize.DefaultSmallCutoff
    assert(line.startsWith(s"CC edges=$n path=union-find vertices=${n + 1000} components=1000 "), line)
  }

  test("dictionary linking folds Westlake variants via canonical alias") {
    import spark.implicits._
    val mentions = Seq(
      Mention("d1", "inst", "Westlake University"),
      Mention("d2", "inst", "Westlake Institute for Advanced Study"),
      Mention("d3", "venue", "Phys. Rev. Research")).toDS()
    val ents = Pipeline.entities(spark, mentions)
      .select("name", "entityId").as[(String, String)].collect().toMap
    assert(ents("Westlake University") == ents("Westlake Institute for Advanced Study"))
    assert(ents("Phys. Rev. Research") == "Phys. Rev. Research" ||
      ents("Phys. Rev. Research") == "Physical Review Research")
  }

  test("dictEdges plans no shuffle or aggregate over a distinct name set; entities rows hold") {
    import spark.implicits._
    val dict = Pipeline.canonicalDict(spark)
    val names = Seq(("inst", "Westlake University"),
      ("inst", "Westlake Institute for Advanced Study"), ("venue", "Phys. Rev. Research"),
      ("venue", "PRX Quantum")).toDF("kind", "name").localCheckpoint(true)
    // AQE wraps the tree in AdaptiveSparkPlanExec (opaque to collect),
    // so build this one plan with AQE off to walk the physical tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = EntityLink.dictEdges(names, dict).queryExecution.executedPlan
      val extra = plan.collect {
        case p if p.nodeName.contains("Aggregate") ||
          p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] => p.nodeName
      }
      assert(extra.isEmpty, s"names side shuffled or aggregated:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // a repeated name only repeats its edges, and CC ignores repeats
    val dup = names.union(names)
    def edges(n: org.apache.spark.sql.DataFrame) =
      EntityLink.dictEdges(n, dict).as[(String, String, String)].collect().sorted.toSeq
    val once = edges(names)
    assert(once.length == 2 && edges(dup) == once.flatMap(e => Seq(e, e)), once)
    def cc(n: org.apache.spark.sql.DataFrame) =
      Canonicalize.connectedComponents(EntityLink.dictEdges(n, dict).select("src", "dst"))
        .as[(String, String)].collect().toMap
    assert(cc(dup) == cc(names))

    // entities over mentions that repeat names: one row per distinct
    // (kind, name), each mapped to its component minimum
    val mentions = Seq(
      Mention("d1", "inst", "Westlake University"),
      Mention("d2", "inst", "Westlake Institute for Advanced Study"),
      Mention("d3", "inst", "Westlake University"),
      Mention("d1", "author", "Nicholas O'Dea"), Mention("d2", "author", "Nicholas ODea"),
      Mention("d3", "venue", "Phys. Rev. Research"), Mention("d4", "venue", "Phys. Rev. Research"),
      Mention("d4", "venue", "PRX Quantum")).toDS()
    val rows = Pipeline.entities(spark, mentions).as[(String, String, String)].collect().sorted.toSeq
    assert(rows == Seq(
      ("author", "Nicholas O'Dea", "Nicholas O'Dea"),
      ("author", "Nicholas ODea", "Nicholas O'Dea"),
      ("inst", "Westlake Institute for Advanced Study", "Westlake Institute for Advanced Study"),
      ("inst", "Westlake University", "Westlake Institute for Advanced Study"),
      ("venue", "PRX Quantum", "PRX Quantum"),
      ("venue", "Phys. Rev. Research", "Phys. Rev. Research")), rows)
  }

  test("pipeline canonical map links the full fixture corpus deterministically") {
    import spark.implicits._
    val files = spark.createDataset(graft.fixtures.FixtureCorpus.baseRows)(
      org.apache.spark.sql.Encoders.product[graft.model.SourceFile])
    val records = MentionDetect.records(files)
    val cmap1 = Pipeline.canonicalMap(spark, Pipeline.mentionsOf(records))
      .orderBy("kind", "name").collect().toSeq
    val cmap2 = Pipeline.canonicalMap(spark, Pipeline.mentionsOf(records))
      .orderBy("kind", "name").collect().toSeq
    assert(cmap1 == cmap2 && cmap1.nonEmpty)
    // Westlake University + Westlake Institute for Advanced Study appear
    // in the pyzr-jmvw fixture and must share a canonical id.
    val m = cmap1.map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(m.contains(("inst", "Westlake University")))
    assert(m.contains(("inst", "Westlake Institute for Advanced Study")))
    assert(m(("inst", "Westlake University")) ==
      m(("inst", "Westlake Institute for Advanced Study")))
  }
}
