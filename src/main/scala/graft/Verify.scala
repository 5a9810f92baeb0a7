package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = MainUtil.session(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      // delete the previous output FIRST: overwrite only clears the old
      // directory when the new write executes, so a query that now
      // throws would leave a stale-but-green parquet for the compare to
      // read — a regression must show as a missing output, not a pass
      MainUtil.deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // shared escaping with Bench (graft.JsonOut): backslash, quote, and
    // ALL control chars — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    import graft.JsonOut.str
    // sfDir-aware: data-dependent VALUES pins ship only at their capture
    // sf (sf0.01); other sfDirs get rows-only for those queries instead
    // of a spurious hard-fail (PinnedOracles.forSfDir logs the drops)
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
