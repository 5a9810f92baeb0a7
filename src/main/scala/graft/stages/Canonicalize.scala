package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Canonicalization (J7): duplicate-entity resolution via connected
  * components — canonical id = component minimum (deterministic),
  * no RDD/GraphX.
  *
  * Two physical paths behind one semantics:
  *  - small graphs (edge count <= smallCutoff): union-find on the driver,
  *    over the edges of the one bounded collect that picks the path.
  *    The edge set of an entity-resolution graph is the *distinct
  *    name-variant pair* space — metadata-sized even for huge corpora —
  *    so this is the common case, and it avoids paying one shuffle +
  *    three scheduler round-trips per iteration for a graph of a few
  *    thousand rows (measured: 70 s of pure orchestration at 60 names).
  *  - large graphs: iterative DataFrame label propagation, one shuffle
  *    per iteration, lineage truncated with localCheckpoint, fixpoint
  *    detected by a change count. This is the 100 TB path; both paths
  *    are asserted equal in LinkingSpec, at the crossover too.
  */
object Canonicalize {

  /** Crossover between the driver union-find and distributed label
    * propagation, in edges — MEASURED, not estimated, by
    * `graft.Probe cc` on the worst-case shape for both sides
    * (all-distinct string vertices in 1,000 long chains; local[32]):
    *
    *   edges   union-find wall / driver-heap peak   label-prop wall
    *   132k    2.6 s / +0.9 GB                      14.8 s
    *   500k    2.6 s / +2.4 GB                      14.2 s
    *   1M      4.9 s / +4.4 GB                      21.1 s
    *   2M     10.3 s / +5.0 GB                      37.1 s
    *
    * The distributed path pays a fixed per-round orchestration cost
    * (shuffle + count + localCheckpoint, ~10-15 rounds) that cores
    * cannot shrink — it was taking 19-22 s on the dedup probes' mid-size
    * 132k-edge pair graph at BOTH local[8] and local[32] before round 5
    * raised this constant from 100k. The ceiling on raising it further
    * is driver memory: the collect, the vertex map and the result rows
    * sit on the driver together. Above the default, label-prop +
    * pointer jumping is the only shape that works at 100 TB pair
    * graphs; both paths are value-equal (spec-asserted, and kg15 pins
    * the distributed path under the driver oracle via smallCutoff = 0).
    *
    * DRIVER-HEAP REQUIREMENT: the default fits a 512 MB driver. At the
    * union-find's worst case, 500k chain edges over 501k all-distinct
    * string vertices, a child JVM at -Xmx512m (local[2], 4-vCPU shared
    * host) finds the 1,000 components in 9.35 s (400k edges: 7.15 s).
    * LinkingSpec runs that 500k case in a -Xmx512m child JVM (17.9 s
    * there, with a vertex count and a component count on top). Spark
    * itself refuses heaps below ~450 MB, so any driver it starts on can
    * run the default. The gigabyte peaks in the table above are what
    * the same work allocates on a roomy heap, where garbage is collected
    * late, not what it needs. Pass smallCutoff explicitly to move the
    * crossover on a larger driver.
    */
  val DefaultSmallCutoff = 500000L

  /** @param edges (src, dst) undirected string edges
    * @return (id, canonicalId) for every vertex appearing in edges
    *
    * The path is picked by ONE bounded collect of at most
    * `smallCutoff + 1` edges: when it returns at most `smallCutoff`, those
    * are all the edges and the union-find runs on them; otherwise the
    * graph is large and label propagation reads the edges afresh. No
    * persist or count pass runs first. `smallCutoff` at or above
    * Int.MaxValue (a `limit` bound is an Int) collects every edge, and a
    * negative one always takes label propagation.
    */
  def connectedComponents(edges: DataFrame,
      smallCutoff: Long = DefaultSmallCutoff): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    val small =
      if (smallCutoff < 0) None
      else {
        // coalesce(1): the limit's take then reads the edge partitions in
        // ONE task, in order, and stops at the bound — a plain limit
        // scans one partition first and starts a second job when that
        // partition holds fewer rows than the bound
        val probe =
          if (smallCutoff < Int.MaxValue) e.coalesce(1).limit(smallCutoff.toInt + 1) else e
        Some(probe.as[(String, String)].collect()).filter(_.length <= smallCutoff)
      }
    small match {
      case Some(pairs) => driverUnionFind(spark, pairs)
      case None => distributedLabelProp(e)
    }
  }

  /** Driver-side union-find with path compression; deterministic
    * min-string canonical ids. Bounded by smallCutoff edges.
    */
  private def driverUnionFind(spark: SparkSession, pairs: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // union by min string => canonical id is the component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.sorted.map(v => (v, find(v)))
    spark.createDataset(rows).toDF("id", "canonicalId")
  }

  private val MaxIter = 20

  /** Large-graph path: min-label propagation with pointer jumping.
    *
    * Plain neighbor propagation moves the component minimum one hop per
    * round — O(diameter) shuffles, and a high-diameter graph (a long
    * rename chain) silently fails to converge within [[MaxIter]] rounds.
    * Each round here adds a pointer-jump step (label <- label(label), one
    * self-join) which halves the remaining distance, giving O(log
    * diameter) convergence: a 10^6-long chain resolves in ~20 rounds
    * instead of 10^6. Labels only decrease and every label is itself a
    * vertex id, so the jump lookup always resolves and the fixpoint is
    * the component min (asserted equal to union-find in LinkingSpec).
    */
  private def distributedLabelProp(edges: DataFrame): DataFrame = {
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    sym.count() // materialize once; reused every iteration

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)

    var iter = 0
    var converged = false
    while (iter < MaxIter && !converged) {
      // neighbor labels: edge (src,dst) proposes label(src) to dst
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      // checkpointed: it feeds BOTH sides of the jump self-join (without
      // this the groupBy runs twice per round, and the raw self-join of
      // the same lazy plan trips Catalyst attribute resolution at depth)
      val combined = msgs.union(labels.select(col("id"), col("label")))
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      // pointer jump: follow the label one step (label of my label)
      val next = combined
        .join(combined.select(col("id").as("jid"), col("label").as("jlabel")),
          col("label") === col("jid"), "left")
        .select(col("id"), coalesce(col("jlabel"), col("label")).as("label"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      // logged, never silent: labels returned below are partially
      // propagated — one true component may carry several canonicalIds
      // (rounds needed grow O(log diameter) with pointer jumping).
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connected components did NOT converge in $MaxIter rounds — labels are partial")
    sym.unpersist()
    labels.select(col("id"), col("label").as("canonicalId"))
  }
}
