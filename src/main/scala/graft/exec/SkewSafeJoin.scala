package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-safe equi join: salt the (potentially skewed) probe side and
  * replicate the build side across the salt domain, so one hot key
  * (a giant repo/file — the skew the north rule names) spreads over
  * `saltBuckets` reducers instead of one straggler task.
  *
  * Complements AQE skew-join splitting (enabled in the session config):
  * AQE fixes skewed *partitions* after a shuffle; salting fixes a single
  * hot *key* that AQE cannot split inside one hash bucket of a
  * non-sort-merge plan.
  */
object SkewSafeJoin {

  /** Per-row salt in [0, saltBuckets): spreads rows of one hot key evenly
    * regardless of the key value (deterministic given the seed).
    */
  def salt(saltBuckets: Int) = (rand(42) * lit(saltBuckets)).cast("int")

  /** big ⋈ small on `key`, with the big side salted.
    *
    * Only probe-preserving join types are legal: the build side is
    * replicated `saltBuckets` times pre-join, so a right/full outer join
    * would keep every replica of an unmatched build row — saltBuckets
    * duplicates where the plain join yields one. Flip the arguments (or
    * use the plain join) for build-preserving semantics.
    */
  private val probePreserving =
    Set("inner", "cross", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")

  def join(big: DataFrame, small: DataFrame, key: String, saltBuckets: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(probePreserving(joinType.toLowerCase.replace(" ", "_")),
      s"salted join only supports probe-preserving join types, got '$joinType' " +
        "(a right/full outer join would duplicate unmatched build rows per salt)")
    val salted = big.withColumn("__salt", salt(saltBuckets))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
