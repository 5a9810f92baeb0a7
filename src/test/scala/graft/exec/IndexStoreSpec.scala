package graft.exec

import graft.SparkSpec
import java.nio.file.Files

/** The index layer's input fingerprints: one memo per session, gated by
  * the table's file listing.
  */
class IndexStoreSpec extends SparkSpec {

  test("each session fingerprints a dir itself, a repeat runs no job, an append rescans") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-index-memo").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text").coalesce(1)
        .write.mode(mode).parquet(s"$dir/documents.parquet")
    write(0 until 40, "overwrite")

    // another session memoizes the dir first
    val other = spark.newSession()
    val (otherSnap, otherJobs) = countJobs(IndexStore.documents(other, dir))
    val (otherCut, otherCutJobs) = countJobs(IndexStore.incrementalCutoff(other, dir))
    assert(otherJobs.count > 0 && otherCutJobs.count > 0, s"$otherJobs\n$otherCutJobs")

    // this session's first fingerprint still runs its own jobs
    val (snap, jobs) = countJobs(IndexStore.documents(spark, dir))
    val (cut, cutJobs) = countJobs(IndexStore.incrementalCutoff(spark, dir))
    assert(jobs.count > 0, "a session was served another session's documents fingerprint")
    assert(cutJobs.count > 0, "a session was served another session's cutoff")
    assert(snap == otherSnap && snap.rows == 40 && cut == otherCut && cut == 27)

    // a repeat in the same session runs none
    val (snapAgain, repeatJobs) = countJobs(IndexStore.documents(spark, dir))
    val (cutAgain, repeatCutJobs) = countJobs(IndexStore.incrementalCutoff(spark, dir))
    assert(snapAgain == snap && repeatJobs.count == 0, repeatJobs)
    assert(cutAgain == 27L && repeatCutJobs.count == 0, repeatCutJobs)

    // a batch lands as one more parquet file: the cutoff rescans
    write(40 until 60, "append")
    val (cut1, appendJobs) = countJobs(IndexStore.incrementalCutoff(spark, dir))
    assert(appendJobs.count > 0 && cut1 == 45, s"cutoff $cut1 after the append ($appendJobs)")
    assert(IndexStore.documents(spark, dir).rows == 60)
  }
}
