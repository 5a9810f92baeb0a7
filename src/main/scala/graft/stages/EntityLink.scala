package graft.stages

import graft.model.Mention
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Entity linking (J6): mention surfaces -> candidate same-entity edges.
  *
  * Two match paths, both shuffle-lean:
  *  - exact-alias match against a broadcast canonical dictionary
  *    (tiny build side -> broadcast hash join);
  *  - fuzzy matching of name variants (O'Dea/ODea, Centre/Center, ...)
  *    via hand-rolled banded MinHash-LSH over character 3-gram shingles:
  *    explode to (band, bandKey) -> equi self-join per bucket -> verified
  *    Jaccard filter. Keeps the dependency surface at spark-sql (no
  *    spark-ml vectors) and the join an equi join Catalyst can plan.
  *
  * Determinism: fixed hash seeds; band keys derived from MurmurHash3.
  * Scale: the self-join is per (kind, band, bandKey) bucket — cardinality
  * per bucket is bounded by near-duplicate density, never all-pairs.
  */
object EntityLink {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  private val Prime = 2038074743L // large prime < 2^31 * ~0.95

  // Fixed affine coefficients (seeded, deterministic across JVMs).
  private val coeffs: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Shingling key: lowercase alphanumerics only — folds case,
    * punctuation and spacing variants (O'Dea == ODea) before hashing.
    */
  def shingleKey(s: String): String = s.toLowerCase.filter(_.isLetterOrDigit)

  def shingles(s: String, k: Int = 3): Set[String] = {
    val key = shingleKey(s)
    if (key.length <= k) Set(key) else key.sliding(k).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val inter = a.intersect(b).size.toDouble
      inter / (a.size + b.size - inter)
    }
  }

  def signature(sh: Set[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    sh.foreach { g =>
      val h = MurmurHash3.stringHash(g, 0x9747b28c).toLong & 0xffffffffL
      var i = 0
      while (i < NumHashes) {
        val (a, b) = coeffs(i)
        val v = (a * h + b) % Prime
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Key of band `b` of a MinHash signature: the hash of its
    * RowsPerBand slots. Same band key in the same band => LSH candidate
    * pair. The one band-key recipe, shared by name linking and document
    * near-dup blocking (`SimilarityQueries.bandedOf`).
    */
  def bandKey(sig: Array[Long], b: Int): Long =
    MurmurHash3.arrayHash(sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand), 0x85ebca6b).toLong

  /** Band keys of a name: (band, [[bandKey]]) for each of the Bands. */
  def bandKeys(name: String): Seq[(Int, Long)] = {
    val sig = signature(shingles(name))
    (0 until Bands).map(b => (b, bandKey(sig, b)))
  }

  /** Distinct (kind, name) -> verified same-entity edges
    * (kind, src, dst, jaccard).
    *
    * Two scale guards from the blocking literature keep the self-join
    * linear on hostile inputs:
    *  - **identical-key folding**: names with the same normalized shingle
    *    key (case/punctuation/spacing variants — jaccard exactly 1) link
    *    as a star to the group minimum: g-1 edges instead of g(g-1)/2
    *    LSH candidates, and only one representative per key enters LSH;
    *  - **block purging**: an LSH bucket larger than `maxBucket` is
    *    non-discriminative boilerplate (shared-prefix corpora collapse
    *    whole corpora into one bucket) and is dropped — true near-dups
    *    also collide in rarer buckets of the other bands. Purged buckets
    *    are logged with their count, never silent; the count is tallied
    *    by the job that materializes the pruned band table, not by a job
    *    of its own.
    *
    * Jobs: the pruned band table is one eager localCheckpoint (its
    * shuffle stages for the keyed dedup + min-window and the bucket
    * window, then its result stage); the returned frame is lazy.
    */
  def fuzzyEdges(names: DataFrame, tau: Double, maxBucket: Int = 1000): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._

    // self-sufficient contract: dedup the input here — a non-distinct
    // (kind, name) frame must not emit duplicate star/jaccard edges.
    // ONE exchange serves both the dedup and the min-window: the shingle
    // key is a function of the name, so hash-partitioning by (kind, skey)
    // co-locates every copy of a (kind, name) row, and the distinct on
    // (kind, name, skey) and the window over (kind, skey) both run inside
    // that partitioning.
    // NOT localCheckpointed (round 6): keyed's two consumers are the
    // star-edge projection (in the final plan) and the band build
    // (materialized below) — recomputing the cheap shingle key +
    // min-window from the caller's checkpointed name set costs one small
    // exchange, where an eager checkpoint costs a job barrier on every
    // call. The EXPENSIVE per-name work (the 64-hash minhash signature in
    // bandKeys) stays computed exactly once, inside pruned's checkpoint.
    val keyed = names.select("kind", "name").as[(String, String)]
      .map { case (k, n) => (k, n, shingleKey(n)) }
      .toDF("kind", "name", "skey")
      .repartition(col("kind"), col("skey"))
      .distinct()
      .withColumn("rep", min(col("name")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("kind"), col("skey"))))

    val starEdges = keyed.filter(col("name") =!= col("rep"))
      .select(col("kind"), col("rep").as("src"), col("name").as("dst"),
        lit(1.0).as("jaccard"))

    val banded = keyed.filter(col("name") === col("rep"))
      .select("kind", "name").as[(String, String)]
      .flatMap { case (kind, name) =>
        bandKeys(name).map { case (b, k) => (kind, name, b, k) }
      }.toDF("kind", "name", "band", "bkey")

    // Bucket sizes as a count-over-window on the SAME keys the self-join
    // below partitions by (round 6: the groupBy + join-back formulation
    // paid an aggregation exchange plus a join exchange for the same
    // pruning). The purge runs inside the eager localCheckpoint that
    // materializes the pruned band table, so the expensive per-name work
    // (the 64-hash minhash signature in bandKeys) runs exactly once, and
    // the purge is tallied by the job that runs anyway: that job's
    // result stage applies each task's accumulator update exactly once,
    // and every band row passes the filter. A purged bucket is counted
    // at its minimum name (names are distinct inside a bucket), so the
    // tally is a bucket count; it is logged, never silent.
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("kind"), col("band"), col("bkey"))
    val purged = spark.sparkContext.longAccumulator
    val keep = udf { (size: Long, bucketMin: Boolean) =>
      if (size > maxBucket && bucketMin) purged.add(1)
      size <= maxBucket
    }.asNondeterministic()
    val pruned = banded
      .withColumn("__bsz", count(lit(1)).over(bucket))
      .withColumn("__bmin", min(col("name")).over(bucket))
      .filter(keep(col("__bsz"), col("name") === col("__bmin")))
      .drop("__bsz", "__bmin")
      .localCheckpoint(true)
    if (purged.value > 0) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"fuzzyEdges: purged ${purged.value} LSH buckets larger than $maxBucket names")

    val l = pruned.as("l")
    // hint("merge") (round 6, the s02 lesson): without it the planner
    // broadcasts one side at small name counts, and the broadcast build
    // is a job of its own that collects the band table on the driver.
    // The sort-merge join hash-partitions the checkpointed table once by
    // the join keys and reuses that exchange for the other side.
    val r = pruned.as("r").hint("merge")
    val candidates = l.join(r,
        $"l.kind" === $"r.kind" && $"l.band" === $"r.band" &&
          $"l.bkey" === $"r.bkey" && $"l.name" < $"r.name")
      .select($"l.kind".as("kind"), $"l.name".as("src"), $"r.name".as("dst"))
      .distinct()

    val fuzzy = candidates.as[(String, String, String)]
      .map { case (kind, a, b) => (kind, a, b, jaccard(shingles(a), shingles(b))) }
      .toDF("kind", "src", "dst", "jaccard")
      .filter($"jaccard" >= tau)

    starEdges.unionByName(fuzzy)
  }

  /** Exact-alias edges from a canonical dictionary (kind, alias,
    * canonical): broadcast hash join, no shuffle or aggregate of the
    * mention side.
    *
    * Precondition: `names` is already distinct on (kind, name), as
    * every caller's is ([[namesOf]], the name set `Pipeline.entities`
    * checkpoints). A duplicate name only repeats its edges, which
    * `Canonicalize.connectedComponents` ignores; deduplicating here
    * would cost an aggregate and a shuffle in every entities build.
    */
  def dictEdges(names: DataFrame, dict: DataFrame): DataFrame = {
    // (kind, alias) is the hash-join key — joining on kind alone and
    // filtering afterwards would probe every dictionary entry of that
    // kind per mention (quadratic once the dictionary grows).
    names.select("kind", "name").as("n")
      .join(broadcast(dict.as("d")),
        col("n.kind") === col("d.kind") && col("n.name") === col("d.alias"))
      .filter(col("n.name") =!= col("d.canonical"))
      .select(col("n.kind").as("kind"), col("n.name").as("src"), col("d.canonical").as("dst"))
  }

  /** Mentions -> distinct (kind, name) frame. */
  def namesOf(mentions: Dataset[Mention]): DataFrame =
    mentions.toDF().select(col("kind"), col("surface").as("name")).distinct()
}
