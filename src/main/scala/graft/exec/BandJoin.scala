package graft.exec

import graft.stages.EntityLink.{Bands, RowsPerBand}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The banded self-join shared by name linking (`EntityLink.fuzzyEdges`)
  * and the near-dup engines (s01/s10/s13, s02, s12), with its one
  * giant-bucket guard.
  *
  * Input rows are band rows: bucket key columns, an id column, and any
  * payload the caller's pair columns read, annotated with [[bucketSize]]
  * as [[Size]]. A bucket of at most [[GiantBucketCap]] rows is joined in
  * full. A larger bucket is boilerplate skew: a web corpus's template
  * pages, or a name list's shared prefix, put thousands of rows into one
  * bucket of every band, and all pairs would be O(c^2) candidates per
  * bucket. Such a bucket emits a SPANNING DOUBLE CHAIN instead: members
  * sorted in a similarity order the caller supplies, each paired with its
  * next two neighbors. That is O(2c) candidates, which keep a true
  * cluster connected for a components stage (one failed verification
  * cannot split it) and still pass the caller's exact verification.
  * Oversized buckets are split, not dropped, so a giant bucket that is a
  * genuine dup cluster is kept (after CPSJoin, "Scalable and Robust Set
  * Similarity Join", ICDE 2018).
  *
  * Chain order matters: one band key can also collide for rows that are
  * not similar (a boilerplate block that supplies all of one band's
  * minhash rows), interleaving several true clusters in one bucket. An
  * id-ordered chain links uncorrelated neighbors there, which fail
  * verification, and a sub-cluster whose members sit more than 2 apart
  * fragments. A similarity order ([[sigOrderKey]], a simhash fingerprint)
  * keeps each cluster contiguous. Residual loss: a true pair whose only
  * co-colliding band is a giant bucket and whose keys sort non-adjacently
  * in it; for J >= 0.8 the other Bands-1 bands catch it with
  * p = 1-(1-J^RowsPerBand)^(Bands-1) (~0.94 at 0.8). The order key is
  * computed for giant-bucket rows only, so normal buckets never pay it.
  */
object BandJoin {

  /** Bucket-size cap: a bucket with more rows is a giant bucket, chained
    * by [[pairs]] and represented by [[GiantBucketReps]] rows in the s12
    * index ([[isRep]]). Both numbers decide what the s12 index stores, so
    * its snapshot carries them (`IndexStore.oldBands`).
    */
  val GiantBucketCap = 256
  val GiantBucketReps = 8

  /** The bucket-size column [[pairs]] reads. */
  val Size = "__bsz"

  /** Rows in this row's bucket: a count over a window on the bucket keys.
    * Its exchange is the one shuffle of the self-join: [[pairs]] joins and
    * chains on the same keys, so both sit on this partitioning.
    */
  def bucketSize(keys: Seq[String]): Column =
    count(lit(1)).over(Window.partitionBy(keys.map(col): _*))

  /** Accessor of one side of a candidate pair: column name => column. */
  type Side = String => Column

  /** Candidate pairs (a, b, extra...) of `sized`'s buckets on `keys`,
    * a < b by `id`: all pairs of each bucket of at most [[GiantBucketCap]]
    * rows, and the spanning double chain of each larger one in the order
    * of the `__ord` column that `order` adds to the giant-bucket rows.
    * `extra` reads further pair columns off the two sides (key and payload
    * columns); it must be symmetric, since chain pairs come in either
    * orientation. Not deduplicated: a pair colliding in several buckets
    * repeats.
    */
  def pairs(sized: DataFrame, keys: Seq[String], id: String, order: DataFrame => DataFrame,
      extra: (Side, Side) => Seq[Column] = (_, _) => Nil): DataFrame = {
    // a null key is in no bucket; filtering it on both paths (the join
    // would infer it on its side only) keeps the two paths' exchanges
    // identical, so the size window's shuffle runs once
    val rows = sized.filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val small = rows.filter(col(Size) <= GiantBucketCap).drop(Size)
    // hint("merge"): at small inputs the planner otherwise broadcasts one
    // side, and the broadcast build is a job of its own that replays the
    // banded lineage instead of reusing the size window's exchange. The
    // sort-merge join is free here (the window already hash-partitioned
    // and sorted both sides by the keys) and is the only shape possible at
    // production N.
    val l: Side = c => col(s"l.$c")
    val r: Side = c => col(s"r.$c")
    val full = small.as("l").join(small.as("r").hint("merge"),
        keys.map(k => l(k) === r(k)).reduce(_ && _) && l(id) < r(id))
      .select(l(id).as("a") +: r(id).as("b") +: extra(l, r): _*)
    full.unionByName(chain(order(rows.filter(col(Size) > GiantBucketCap).drop(Size)),
      keys, id, extra))
  }

  /** Spanning double chain over `keyed`'s buckets: rows sort by
    * (`__ord`, id) and each pairs with its next two neighbors, as
    * (least id, greatest id, extra...). Every non-key column but `__ord`
    * is carried to the neighbor by `lead`. Both neighbors' pairs come
    * out of ONE window pass (an array exploded per row), so the chain
    * reads the bucket exchange once.
    */
  private[graft] def chain(keyed: DataFrame, keys: Seq[String], id: String,
      extra: (Side, Side) => Seq[Column] = (_, _) => Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__ord"), col(id))
    val carried = keyed.columns.filterNot(c => keys.contains(c) || c == "__ord")
    val led = keyed.select(col("*") +: (for (k <- 1 to 2; c <- carried)
      yield lead(col(c), k).over(w).as(s"__n${k}_$c")): _*)
    val pairs = (1 to 2).map { k =>
      val next: Side = c => if (keys.contains(c)) col(c) else col(s"__n${k}_$c")
      struct(next(id).isNotNull.as("__has") +: least(col(id), next(id)).as("a") +:
        greatest(col(id), next(id)).as("b") +: extra(col, next): _*)
    }
    led.select(explode(array(pairs: _*)).as("__p")).filter(col("__p.__has"))
      .select("__p.*").drop("__has")
  }

  /** Does this row represent its bucket? True on at most
    * [[GiantBucketReps]] rows, evenly spaced in `order` within the bucket
    * on `keys` of `size` rows: every ceil(size / reps)-th row.
    */
  def isRep(keys: Seq[String], size: Column, order: Column*): Column =
    pmod(row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)) - 1,
      greatest(ceil(size / lit(GiantBucketReps.toDouble)), lit(1L))) === 0

  /** Compact similarity order of a MinHash signature: the FIRST minhash
    * row of EVERY band (Bands = 16 longs, 128 B packed) instead of the
    * full 64-long signature. Identical rows get identical keys and stay
    * contiguous; near-dups agree on the leading rows with probability J
    * each; unrelated rows in a false-positive bucket differ in the first
    * rows of the OTHER bands whp. The width matters: in a giant bucket of
    * identical docs every sort comparison walks the whole key before the
    * id tiebreak, and the full-signature key measured 218 s vs 71 s
    * (c8, 1M docs, 50k-identical cluster) for the s01 cold build
    * (BASELINE.md round-5 close-out).
    */
  def sigOrderKey(sig: Array[Long]): Array[Byte] = {
    val strided = new Array[Long](Bands)
    var b = 0
    while (b < Bands) { strided(b) = sig(b * RowsPerBand); b += 1 }
    packSig(strided)
  }

  /** Long array packed to a byte key whose unsigned lexicographic order
    * (Spark's BinaryType ordering) equals the signed elementwise order of
    * the array: big-endian longs with the sign bit flipped.
    */
  private[graft] def packSig(sig: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](sig.length * 8)
    var i = 0
    while (i < sig.length) {
      val v = sig(i) ^ Long.MinValue
      var j = 0
      while (j < 8) { out(i * 8 + j) = (v >>> (56 - 8 * j)).toByte; j += 1 }
      i += 1
    }
    out
  }
}
