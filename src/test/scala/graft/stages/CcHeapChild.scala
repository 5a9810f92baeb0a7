package graft.stages

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, format_string}

/** Child JVM of LinkingSpec's driver-heap test: runs
  * [[Canonicalize.connectedComponents]] at its default cutoff over
  * [[Canonicalize.DefaultSmallCutoff]] worst-case edges (all-distinct
  * string vertices in 1,000 chains) and prints one `CC` line with the
  * path taken, the vertex and component counts and the wall.
  * Usage: CcHeapChild <work dir>
  */
object CcHeapChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("cc-heap-child")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", args(0))
      .getOrCreate()
    val n = Canonicalize.DefaultSmallCutoff
    val chains = 1000L
    val edges = spark.range(0L, n, 1L, 2)
      .select(format_string("v%09d", col("id")).as("src"),
        format_string("v%09d", col("id") + chains).as("dst"))
    val t0 = System.nanoTime()
    val cc = Canonicalize.connectedComponents(edges)
    // the union-find path returns its labels as a driver-built relation
    val path = if (cc.queryExecution.analyzed.collectFirst { case r: LocalRelation => r }.nonEmpty)
      "union-find" else "label-prop"
    val vertices = cc.count()
    val components = cc.select("canonicalId").distinct().count()
    println(f"CC edges=$n path=$path vertices=$vertices components=$components " +
      f"wall_s=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}
