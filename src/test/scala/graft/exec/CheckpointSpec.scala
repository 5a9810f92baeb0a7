package graft.exec

import graft.SparkSpec
import graft.fixtures.FixtureCorpus
import graft.stages.Pipeline
import java.nio.file.Files

/** Resumability (north rule): a re-run with the same input snapshot skips
  * completed stages and reproduces byte-identical outputs; a changed
  * snapshot recomputes.
  */
class CheckpointSpec extends SparkSpec {

  test("checkpointed pipeline resumes: stage skipped on re-run, outputs identical") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val ckpt = Checkpoint(root, runId = "run-1")
    val files = FixtureCorpus.corpus(spark, 20, 4)
    val snap = Checkpoint.snapshotId("fixture", 20)

    val (t1, e1) = Pipeline.runCheckpointed(spark, files, ckpt, snap)
    // materialize everything up front — the checkpoint tables are
    // overwritten further down when the snapshot changes
    val triples1 = t1.orderBy("docId", "subj", "pred", "obj").collect().toSeq
    val t1Count = triples1.size.toLong
    assert(e1.count() > 0)
    val marker = java.nio.file.Paths.get(s"$root/records/_SUCCESS_SNAPSHOT")
    val mtime1 = Files.getLastModifiedTime(marker)

    // Lineage rows exist with per-partition counts summing to the total.
    val lineage = ckpt.lineage(spark, "triples")
    val sum = lineage.agg(org.apache.spark.sql.functions.sum("rowCount")).head.getLong(0)
    assert(sum == t1Count)

    // Ingest lineage carries the north-rule provenance shape:
    // (partitionId, inputFiles, sha256s, rowCount).
    val ingestLineage = ckpt.lineage(spark, "ingest")
    assert(Seq("partitionId", "rowCount", "inputFiles", "sha256s")
      .forall(ingestLineage.columns.contains))
    val nFiles = ingestLineage
      .selectExpr("sum(size(inputFiles))").head.getLong(0)
    assert(nFiles == 20)

    // Simulated resume after kill: second run must NOT recompute.
    val ckpt2 = Checkpoint(root, runId = "run-2")
    val (t2, _) = Pipeline.runCheckpointed(spark, files, ckpt2, snap)
    val triples2 = t2.orderBy("docId", "subj", "pred", "obj").collect().toSeq
    assert(Files.getLastModifiedTime(marker) == mtime1, "stage was recomputed")
    assert(triples1 == triples2, "resume changed outputs")

    // New snapshot id (input changed) -> recompute happens.
    val files2 = FixtureCorpus.corpus(spark, 25, 4)
    val (t3, _) = Pipeline.runCheckpointed(spark, files2, ckpt2, Checkpoint.snapshotId("fixture", 25))
    assert(t3.count() != t1Count)
  }

  test("a pipeline-version bump invalidates pre-upgrade checkpoints") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-ver").toString
    val old = Checkpoint(root, runId = "run-old", version = "v-old")
    old.stage(spark, "s", "snap-1") { Seq(("a", 1)).toDF("k", "v") }
    // same snapshot, NEW code version: the stale stage must recompute —
    // resuming it would silently serve a pre-upgrade triple set with an
    // outdated schema sidecar (round-2 ADVICE, Checkpoint.scala:67)
    var recomputed = false
    val cur = Checkpoint(root, runId = "run-new", version = "v-new")
    val out = cur.stage(spark, "s", "snap-1") {
      recomputed = true
      Seq(("a", 2)).toDF("k", "v")
    }
    assert(recomputed, "stale-version checkpoint was served as complete")
    assert(out.select("v").head.getInt(0) == 2)
    // and the new marker resumes under the same version
    val out2 = cur.stage(spark, "s", "snap-1") {
      fail("recomputed despite matching snapshot+version"); ???
    }
    assert(out2.select("v").head.getInt(0) == 2)
  }

  test("an empty partitioned stage reads back via the schema sidecar") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-empty").toString
    val ckpt = Checkpoint(root, runId = "run-e")
    // e.g. a corpus where every file quarantined -> 0 triples: the
    // partitioned write emits no schema-bearing parquet file, so the
    // read-back must come from the recorded schema, not inference
    val out = ckpt.stage(spark, "triples", "snap-0", partitionByCols = Seq("pred")) {
      Seq.empty[(String, String, String, String)].toDF("docId", "subj", "pred", "obj")
    }
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("docId", "subj", "pred", "obj"))
    // resumed run reads the same empty stage without recomputing
    val out2 = ckpt.stage(spark, "triples", "snap-0", partitionByCols = Seq("pred")) {
      fail("stage recomputed despite completed snapshot"); ???
    }
    assert(out2.count() == 0)
  }

  test("marker records the committed row count for O(1) stage validation") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-rows").toString
    val ckpt = Checkpoint(root, runId = "run-r")
    ckpt.stage(spark, "s", "snap-1") { Seq(1, 2, 3).toDF("v") }
    // the rows line lets ANN index readers validate a shared-root stage
    // without the O(N) data scan the round-3 s04 read-back paid per query.
    // Rows only surface when the marker's snapshot line matches the
    // snapshot being validated — one atomic marker read, so a concurrent
    // writer committing the same stage for a DIFFERENT snapshot can't
    // make the rows check pass (round-4 ADVICE #3)
    assert(ckpt.committedRowsFor(spark, "s", "snap-1").contains(3L))
    assert(ckpt.isComplete(spark, "s", "snap-1"))
    assert(ckpt.committedRowsFor(spark, "s", "snap-2").isEmpty)
    // legacy marker (pre-rows format) and torn markers read as NOT
    // committed: the stage rebuilds through the normal path and writes a
    // clean marker. (Rewritten via java.nio, so Hadoop's LocalFileSystem
    // checksum sidecar goes stale — drop it or the re-read fails
    // ChecksumException.)
    val markerPath = java.nio.file.Paths.get(s"$root/s/_SUCCESS_SNAPSHOT")
    Seq(s"snap-1@${Checkpoint.PipelineVersion}", "", s"snap-1@${Checkpoint.PipelineVersion}\nrows=")
      .foreach { content =>
        java.nio.file.Files.writeString(markerPath, content)
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/s/._SUCCESS_SNAPSHOT.crc"))
        assert(!ckpt.isComplete(spark, "s", "snap-1"), content)
        var recomputed = false
        val out = ckpt.stage(spark, "s", "snap-1") { recomputed = true; Seq(1, 2, 3).toDF("v") }
        assert(recomputed, content)
        assert(out.count() == 3)
        assert(ckpt.committedRowsFor(spark, "s", "snap-1").contains(3L))
      }
  }

  test("expectedRows: a committed count that disagrees rebuilds once, then fails loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-expect").toString
    val ckpt = Checkpoint(root, runId = "run-x")
    ckpt.stage(spark, "s", "snap-1") { Seq(1, 2).toDF("v") }
    // a short table under the current snapshot's marker (e.g. left by a
    // second writer on a shared root) rebuilds once to the expected size
    var builds = 0
    val out = ckpt.stage(spark, "s", "snap-1", expectedRows = Some(3L)) {
      builds += 1
      Seq(1, 2, 3).toDF("v")
    }
    assert(builds == 1 && out.count() == 3)
    // a matching count is served without a rebuild
    ckpt.stage(spark, "s", "snap-1", expectedRows = Some(3L)) { fail("rebuilt a valid stage"); ??? }
    // a compute that keeps producing the wrong size fails after one rebuild
    intercept[IllegalArgumentException] {
      ckpt.stage(spark, "s", "snap-1", expectedRows = Some(4L)) { Seq(1, 2, 3).toDF("v") }
    }
  }

  test("a rewrite that fails in a task leaves the old snapshot uncommitted, not served empty") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-rewrite").toString
    val ckpt = Checkpoint(root, runId = "run-w")
    ckpt.stage(spark, "s", "snap-A") { Seq(1L, 2L, 3L).toDF("v") }
    assert(ckpt.isComplete(spark, "s", "snap-A"))
    val boom = org.apache.spark.sql.functions.udf { (v: Long) =>
      if (v == 5L) throw new IllegalStateException("boom in rewrite")
      v
    }
    intercept[Exception] {
      ckpt.stage(spark, "s", "snap-B") {
        spark.range(0, 8, 1, 2).select(boom(org.apache.spark.sql.functions.col("id")).as("v"))
      }
    }
    // the failed overwrite may already have emptied data/: snap-A's
    // marker must be gone with it, so snap-A recomputes
    assert(!ckpt.isComplete(spark, "s", "snap-A"))
    assert(!ckpt.isComplete(spark, "s", "snap-B"))
    var recomputed = false
    val out = ckpt.stage(spark, "s", "snap-A") { recomputed = true; Seq(1L, 2L, 3L).toDF("v") }
    assert(recomputed)
    assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("a JVM killed during a rewrite leaves neither snapshot committed; the next run resumes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-kill").toString
    val (exit, log) = runChild(CheckpointKillChild, root)
    assert(exit == CheckpointKillChild.HaltCode, s"child did not halt mid-write:\n${log.takeRight(30).mkString("\n")}")

    val ckpt = Checkpoint(root, runId = "run-resume")
    assert(!ckpt.isComplete(spark, "s", CheckpointKillChild.SnapA))
    assert(!ckpt.isComplete(spark, "s", CheckpointKillChild.SnapB))
    val out = ckpt.stage(spark, "s", CheckpointKillChild.SnapB) { spark.range(0, 8, 1, 2).toDF("v") }
    assert(out.as[Long].collect().sorted.toSeq == (0L until 8L))
    assert(ckpt.committedRowsFor(spark, "s", CheckpointKillChild.SnapB).contains(8L))
  }

  test("one stage commit launches at most two Spark jobs") {
    val root = Files.createTempDirectory("graft-ckpt-jobs").toString
    val ckpt = Checkpoint(root, runId = "run-j")
    val (_, jobs) = countJobs {
      ckpt.stage(spark, "s", "snap-1") { spark.range(0, 1000, 1, 4).toDF("v") }
    }
    // the data write, which tallies its own rows, then the one-file
    // lineage write; no pass over the stage output for either
    assert(jobs <= 2, s"$jobs jobs for one commit")
    assert(ckpt.committedRowsFor(spark, "s", "snap-1").contains(1000L))
    val lineage = ckpt.lineage(spark, "s").select("partitionId", "rowCount")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sorted.toSeq
    assert(lineage == (0 until 4).map(_ -> 250L))
  }

  test("one checkpointed KG build launches at most 18 Spark jobs") {
    val root = Files.createTempDirectory("graft-ckpt-build-jobs").toString
    val files = FixtureCorpus.corpus(spark, 20, 4)
    val (_, jobs) = countJobs {
      Pipeline.runCheckpointed(spark, files, Checkpoint(root, runId = "run-b"),
        Checkpoint.snapshotId("fixture", 20))
    }
    // four commits (ingest's provenance groupBy adds two jobs), the name
    // set, the edge probe and their shuffle stages; a lineage groupBy per
    // commit, an eager purge count and a persist + count before the edge
    // collect made it 32, a distinct over the already-distinct names in
    // dictEdges one more, and the eager pruned LSH band table (which
    // shuffled the name keys and the band rows a second time) three more
    assert(jobs <= 18, s"$jobs jobs for one checkpointed build")
  }

  test("lineage is exactly once when a write task is retried") {
    import org.apache.spark.sql.functions.{col, explode}
    val root = Files.createTempDirectory("graft-ckpt-retry").toString
    val (exit, log) = runChild(CheckpointRetryChild, root)
    def logTail = log.takeRight(30).mkString("\n")
    assert(exit == 0, s"child failed:\n$logTail")
    assert(log.exists(_.contains("first attempt of partition 1 fails")), s"no task attempt failed:\n$logTail")

    val ckpt = Checkpoint(root, runId = "reader")
    val snap = CheckpointRetryChild.Snap
    val s = ckpt.lineage(spark, "s").select("partitionId", "rowCount")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sorted.toSeq
    // one row per non-empty partition; the failed attempt's rows are not
    // counted a second time
    assert(s == Seq(0 -> 250L, 1 -> 250L, 2 -> 250L), s)
    assert(ckpt.committedRowsFor(spark, "s", snap).contains(750L))
    assert(ckpt.stage(spark, "s", snap) { fail("recomputed a committed stage"); ??? }.count() == 750L)

    val files = ckpt.lineage(spark, "files")
    assert(files.select("partitionId").distinct().count() == 4)
    assert(files.agg(org.apache.spark.sql.functions.sum("rowCount")).head.getLong(0) == 40L)
    assert(ckpt.committedRowsFor(spark, "files", snap).contains(40L))
    val paths = files.select(explode(col("inputFiles"))).collect().map(_.getString(0)).sorted.toSeq
    assert(paths == (0 until 40).map(i => f"p$i%03d"), paths)
    assert(files.select(explode(col("sha256s"))).distinct().count() == 40)
  }

  test("KG stages commit flat, sorted, zstd tables that read back in sidecar order") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-ckpt-layout").toString
    val ckpt = Checkpoint(root, runId = "run-l")
    val (t, e) = Pipeline.runCheckpointed(spark, FixtureCorpus.corpus(spark, 20, 4), ckpt,
      Checkpoint.snapshotId("fixture", 20))
    assert(t.count() > 0 && e.count() > 0)
    // no partition column is appended last on read-back
    assert(t.columns.toSeq == Seq("docId", "subj", "pred", "obj"))
    assert(e.columns.toSeq == Seq("kind", "name", "entityId"))

    def under(dir: String): Seq[java.nio.file.Path] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.toList finally s.close()
    }
    val dirs = under(root).filter(Files.isDirectory(_)).map(_.getFileName.toString)
    assert(!dirs.exists(d => d.startsWith("pred=") || d.startsWith("kind=")), dirs)

    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(stage: String) = under(s"$root/$stage/data")
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
    Seq("ingest", "records", "triples", "entities").foreach { st =>
      val fs = dataFiles(st)
      assert(fs.nonEmpty, st)
      fs.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        val codecs = try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
          finally r.close()
        assert(codecs.nonEmpty && codecs.forall(
          _ == org.apache.parquet.hadoop.metadata.CompressionCodecName.ZSTD), s"$f: $codecs")
      }
    }
    // one file per write task: lineage has one row per task with rows
    assert(dataFiles("triples").size <= ckpt.lineage(spark, "triples").count())

    // rows sorted inside each file, in Spark's (unsigned UTF-8 byte) order
    def sortedWithin(stage: String, cols: String*): Unit = dataFiles(stage).foreach { f =>
      val keys = spark.read.parquet(f.toString).select(cols.head, cols.tail: _*).collect()
        .map(r => cols.indices.map(i => Option(r.getString(i)).getOrElse("").getBytes("UTF-8")))
      def le(a: Seq[Array[Byte]], b: Seq[Array[Byte]]): Boolean =
        a.zip(b).map { case (x, y) => java.util.Arrays.compareUnsigned(x, y) }
          .find(_ != 0).forall(_ < 0)
      assert(keys.zip(keys.drop(1)).forall { case (a, b) => le(a, b) }, s"$f not sorted by $cols")
    }
    sortedWithin("triples", "pred", "subj", "obj", "docId")
    sortedWithin("entities", "kind", "name")
  }

  test("a failing stage write leaves no cached entry behind") {
    val root = Files.createTempDirectory("graft-ckpt-fail").toString
    val ckpt = Checkpoint(root, runId = "run-f")
    val before = org.apache.spark.sql.CacheProbe.entries(spark)
    val boom = org.apache.spark.sql.functions.udf { (v: Long) =>
      if (v == 5L) throw new IllegalStateException("boom in stage write")
      v
    }
    val err = intercept[Exception] {
      ckpt.stage(spark, "s", "snap-1") {
        spark.range(0, 8, 1, 2).select(boom(org.apache.spark.sql.functions.col("id")).as("v"))
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom in stage write")), err)
    assert(org.apache.spark.sql.CacheProbe.entries(spark) <= before, "failed stage output stayed cached")
    assert(!ckpt.isComplete(spark, "s", "snap-1"))
  }

  test("salted join rejects build-duplicating outer join types") {
    import spark.implicits._
    val big = Seq(("a", 1)).toDF("k", "v")
    val small = Seq(("b", 2)).toDF("k", "w")
    intercept[IllegalArgumentException] {
      SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "full_outer")
    }
    // probe-preserving types stay legal: unmatched BIG rows survive once
    val left = SkewSafeJoin.join(big, small, "k", saltBuckets = 4, joinType = "left")
    assert(left.count() == 1)
  }

  test("skew-safe join matches the plain join result") {
    import spark.implicits._
    // hot key: 10k rows of one key + small dimension
    val big = spark.range(0, 10000).selectExpr("CASE WHEN id % 10 < 8 THEN 'hot' ELSE concat('k', id % 100) END AS k", "id AS v")
    val small = Seq(("hot", 1), ("k5", 2), ("k7", 3)).toDF("k", "w")
    val expected = big.join(small, Seq("k")).agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
    val salted = SkewSafeJoin.join(big, small, "k", saltBuckets = 8)
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
    assert(salted == expected)
  }
}
