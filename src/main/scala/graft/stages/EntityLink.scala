package graft.stages

import graft.exec.BandJoin
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
    * Two scale guards keep the self-join linear on hostile inputs:
    *  - **identical-key folding**: names with the same normalized shingle
    *    key (case/punctuation/spacing variants — jaccard exactly 1) link
    *    as a star to the group minimum: g-1 edges instead of g(g-1)/2
    *    LSH candidates, and only one representative per key enters LSH;
    *  - **the giant-bucket chain** of [[graft.exec.BandJoin]]: an LSH
    *    bucket over its cap (shared-prefix name lists collapse into one
    *    bucket) pairs each name with its next two in [[BandJoin.sigOrderKey]]
    *    order of the name's signature, computed for those names only.
    *
    * Plan: `keyed` is one (kind, skey) exchange, reused by the star
    * edges; the band rows are built once, under the bucket-size window's
    * exchange, which the self-join and the chain both sit on. No eager
    * job: the returned frame is lazy.
    */
  def fuzzyEdges(names: DataFrame, tau: Double): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._

    // self-sufficient contract: dedup the input here — a non-distinct
    // (kind, name) frame must not emit duplicate star/jaccard edges.
    // ONE exchange serves both the dedup and the min-window: the shingle
    // key is a function of the name, so hash-partitioning by (kind, skey)
    // co-locates every copy of a (kind, name) row, and the distinct on
    // (kind, name, skey) and the window over (kind, skey) both run inside
    // that partitioning.
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

    val keys = Seq("kind", "band", "bkey")
    val sized = keyed.filter(col("name") === col("rep"))
      .select("kind", "name").as[(String, String)]
      .flatMap { case (kind, name) =>
        bandKeys(name).map { case (b, k) => (kind, name, b, k) }
      }.toDF("kind", "name", "band", "bkey")
      .withColumn(BandJoin.Size, BandJoin.bucketSize(keys))
    val orderKey = udf((n: String) => BandJoin.sigOrderKey(signature(shingles(n))))
    val candidates = BandJoin.pairs(sized, keys, "name",
        _.withColumn("__ord", orderKey(col("name"))), (l, _) => Seq(l("kind").as("kind")))
      .select(col("kind"), col("a").as("src"), col("b").as("dst"))
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
