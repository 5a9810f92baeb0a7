package graft.exec

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.CollectionAccumulator
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Stage checkpointing + per-partition lineage (north-rule resumability).
  *
  * Distributed generalization of the reference's md5-keyed page cache
  * (aps_extractor.py:52-66): each stage writes
  *   <root>/<stage>/data      parquet, zstd, one file per write task
  *   <root>/<stage>/lineage   (partitionId, rowCount, [inputFiles,
  *                             sha256s,] runId, stage, snapshotId,
  *                             wallMs) one row per data-write task
  *                             that wrote rows
  *   <root>/<stage>/_SCHEMA.json       the stage's schema (column order)
  *   <root>/<stage>/_SUCCESS_SNAPSHOT  the commit marker:
  *                                     `<snapshotId>@<version>` and
  *                                     `rows=<N>` on two lines
  * A stage recomputes only when its marker does not name the current
  * input snapshot id; otherwise the data table is read back and the
  * upstream plan is skipped entirely.
  *
  * Commit protocol ([[stage]]), in this order:
  *   1. drop the marker — from here on the stage reads as not committed;
  *   2. overwrite `data/`; each write task tallies the rows it writes
  *      (one (partitionId, rows) entry per task that wrote any);
  *   3. overwrite `lineage/` from those entries, in one small write —
  *      except that a stage whose rows carry `path`/`sha256` columns
  *      (`ingest`) builds its lineage by a groupBy over the committed
  *      data table on executors, keyed by write task: it gathers each
  *      task's `inputFiles`/`sha256s` and counts its committed rows as
  *      `rowCount`. That count equals the task's tally entry, because
  *      only a task's first successful attempt commits files;
  *   4. write `_SCHEMA.json`;
  *   5. write the marker, with the tally's sum as `rows=`.
  * The output is not persisted and `compute` runs once, inside the data
  * write: a shuffle-free `compute` commits in two Spark jobs (data
  * write, lineage write), and a `compute` that ends in a shuffle (a
  * rebalance, say) also runs its map stage as a job of its own before
  * the write. `ingest` adds its groupBy's two jobs, and a `compute`
  * built on the driver adds two that count the committed files (see
  * `commit`). A write that fails, or a process killed at any step before 5,
  * leaves no marker, and the next [[stage]] call recomputes. It never
  * serves an old marker over a half-rewritten `data/`.
  *
  * What a reader may rely on: with one writer per root, a stage for
  * which [[isComplete]] holds (equivalently, [[committedRowsFor]] is
  * Some(N)) has its data, lineage and schema sidecar from ONE finished
  * commit of that snapshot under this pipeline version, and `data/`
  * holds exactly N rows. The lineage has exactly one row per write task
  * that wrote rows, under that task's partition id, and its `rowCount`s
  * sum to N: a task attempt that failed, was retried or ran
  * speculatively is counted once (see [[Checkpoint.RowTally]]; a
  * provenance stage counts the rows of the files the task committed).
  * An `inputFiles` list holds the `path` of each row that task wrote,
  * once per row. Torn markers and markers written before the rows line
  * read as not committed and rebuild through the same path.
  *
  * Two writers on one root are NOT made safe: one writer can publish
  * its marker while the other is rewriting `data/`. Versioned data
  * directories would close that, but would move the fixed
  * `<stage>/data` path that readers outside this class address. The
  * guard there is the row check: a caller that knows a stage's size
  * passes `expectedRows`, and a committed count that disagrees rebuilds
  * once, then fails loudly.
  *
  * Layout: rows are written in the order `compute` leaves them, so a
  * caller that wants a column to prune by orders rows inside `compute`
  * (`sortWithinPartitions`), and a filter on that column skips row
  * groups by their min/max statistics. That is how the KG stages of
  * [[graft.stages.Pipeline.runCheckpointed]] are laid out: a
  * `partitionBy` on a 16-value column fans each write task out into one
  * file per value, and on small stages those files' parquet footers and
  * page headers are a large share of the bytes. `partitionByCols` stays
  * for a reader that needs directory pruning: the s07 IVF index is
  * partitioned by `cid`, and its probe reads only the inverted lists it
  * probes.
  *
  * File count: one data file per write task. A `compute` with no
  * shuffle writes one file per source read split, however small; one
  * that ends in a shuffle writes as many files as AQE leaves partitions
  * in its final stage. With no persist in front of the write, AQE sizes
  * those partitions from the shuffled bytes: a small shuffled stage can
  * land in fewer files than `spark.sql.shuffle.partitions` (on the
  * 4-core similarity_suite benchmark the coalesced index writes took
  * store_amp from 0.405 to 0.347), and a large one keeps several. Small
  * files cost bytes, not only opens: each parquet footer carries Spark's
  * row-schema JSON, and each file repeats the column dictionaries of
  * the rows it shares with other files. That is why
  * [[graft.stages.Pipeline.runCheckpointed]] ends `records` in a
  * rebalance (see there). Readers address rows by column, never by
  * file.
  *
  * Emulates Iceberg-style snapshot/commit semantics over plain parquet
  * (no Iceberg runtime ships offline — SURVEY.md §7.4 risk 3); the
  * facade keeps a real catalog swappable.
  */
final case class Checkpoint(root: String, runId: String,
    version: String = Checkpoint.PipelineVersion) {

  private def stageDir(stage: String) = s"$root/$stage"
  private def marker(stage: String) = new HPath(s"${stageDir(stage)}/_SUCCESS_SNAPSHOT")
  private def schemaFile(stage: String) = new HPath(s"${stageDir(stage)}/_SCHEMA.json")

  // Markers live on the SAME filesystem as the stage data (resolved from
  // the root URI via the Hadoop FileSystem API) — java.nio on the driver
  // would silently never see markers when root is hdfs://..., making
  // resume a no-op on a real cluster.
  private def fs(spark: SparkSession): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmall(spark: SparkSession, p: HPath): Option[String] = {
    val f = fs(spark)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def writeSmall(spark: SparkSession, p: HPath, content: String): Unit = {
    val out = fs(spark).create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  // The marker records snapshot AND pipeline version: a checkpoint root
  // written by an older code revision must NOT resume as complete (it
  // would silently serve a stale triple set + outdated _SCHEMA.json —
  // exactly what adding a new predicate family does). Bump
  // Checkpoint.PipelineVersion whenever any stage's output semantics or
  // schema change.
  private def markerContent(snapshotId: String) = s"$snapshotId@$version"

  /** Rows committed for `stage` under `snapshotId` and this pipeline
    * version, from ONE read of the marker: Some(N) iff its first line is
    * `snapshotId@version` and its second `rows=N`. None when the marker
    * is absent, torn, for another snapshot or version, or predates the
    * rows line. One read matters on a shared root: reading the snapshot
    * and the rows through two calls lets a concurrent writer swap the
    * marker in between, so a rows check could pass against a DIFFERENT
    * snapshot's data.
    */
  def committedRowsFor(spark: SparkSession, stage: String, snapshotId: String): Option[Long] =
    readSmall(spark, marker(stage)).flatMap { content =>
      content.linesIterator.map(_.trim).toList match {
        case snap :: rows :: _ if snap == markerContent(snapshotId) && rows.startsWith("rows=") =>
          rows.stripPrefix("rows=").toLongOption
        case _ => None
      }
    }

  def isComplete(spark: SparkSession, stage: String, snapshotId: String): Boolean =
    committedRowsFor(spark, stage, snapshotId).nonEmpty

  /** Drop a stage's completion marker so the next stage() call
    * recomputes — the escape hatch for a reader that detects a corrupt
    * or short stage table.
    */
  def invalidate(spark: SparkSession, stage: String): Unit = {
    val f = fs(spark)
    val m = marker(stage)
    if (f.exists(m)) f.delete(m, false)
  }

  /** Run `compute` unless this (stage, snapshotId) already committed;
    * either way return the stage's data as a DataFrame read from the
    * checkpoint table (so downstream plans cut lineage here).
    *
    * `expectedRows`: the size the caller knows the stage must have. A
    * committed count that differs (a torn overwrite or a second writer
    * on a shared root) is rebuilt once; a rebuild that still differs
    * fails with an IllegalArgumentException — something is actively
    * corrupting the root, and serving a wrong table is worse.
    */
  def stage(spark: SparkSession, stageName: String, snapshotId: String,
      partitionByCols: Seq[String] = Nil, expectedRows: Option[Long] = None)
      (compute: => DataFrame): DataFrame = {
    if (!isComplete(spark, stageName, snapshotId))
      commit(spark, stageName, snapshotId, partitionByCols)(compute)
    expectedRows.foreach { want =>
      val got = committedRowsFor(spark, stageName, snapshotId)
      if (!got.contains(want)) {
        Checkpoint.log.warn(s"stage $stageName committed rows=$got, expected $want — rebuilding")
        commit(spark, stageName, snapshotId, partitionByCols)(compute)
        val after = committedRowsFor(spark, stageName, snapshotId)
        require(after.contains(want),
          s"stage $stageName still invalid after rebuild (committed=$after expected=$want)")
      }
    }
    val reader = readSmall(spark, schemaFile(stageName))
      .map(j => spark.read.schema(DataType.fromJson(j).asInstanceOf[StructType]))
      .getOrElse(spark.read)
    reader.parquet(s"${stageDir(stageName)}/data")
  }

  /** One commit (steps 1-5 of the class doc): two Spark jobs when
    * `compute` has no shuffle of its own and its rows carry no
    * provenance columns — the data write and the one-file lineage write.
    * The data write counts its own rows (see [[Checkpoint.RowTally]]); no
    * pass over the stage output runs for the lineage or the marker.
    */
  private def commit(spark: SparkSession, stageName: String, snapshotId: String,
      partitionByCols: Seq[String])(compute: => DataFrame): Unit = {
    invalidate(spark, stageName)
    val t0 = System.nanoTime()
    val df = compute
    val dataDir = s"${stageDir(stageName)}/data"
    val tally = new Checkpoint.RowTally(spark.sparkContext.collectionAccumulator[(Int, Long)])
    val writer = df.filter(udf(tally).asNondeterministic()())
      .write.mode("overwrite").option("compression", Checkpoint.Codec)
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*) else writer)
      .parquet(dataDir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    import spark.implicits._
    def committed = spark.read.schema(df.schema).parquet(dataDir)
    // A `compute` that is a local relation (rows built on the driver) has
    // its filters folded into the relation by the optimizer, so the tally
    // ran there instead of in the write tasks: count the committed files
    // instead (two small jobs, only for such stages).
    val counts =
      if (!tally.ranOutsideTask) tally.acc.value.asScala.toSeq.sortBy(_._1)
      else committed.groupBy(Checkpoint.writeTaskOf(col("_metadata.file_name"))).count()
        .as[(Int, Long)].collect().toSeq.sortBy(_._1)
    // North-rule lineage shape: when the stage data carries provenance
    // columns, record the per-partition input files and content hashes
    // alongside the row count. Those lists grow with the input, so they
    // never pass through the driver: a groupBy over the committed,
    // metadata-only data table gathers them on executors, keyed by the
    // write task that wrote each file (see [[Checkpoint.writeTaskOf]]),
    // and counts that task's committed rows in the same pass.
    val provenance = Seq("path" -> "inputFiles", "sha256" -> "sha256s")
      .filter { case (c, _) => df.columns.contains(c) }
    val lineage =
      if (provenance.isEmpty) counts.toDF("partitionId", "rowCount").coalesce(1)
      else committed
        .groupBy(Checkpoint.writeTaskOf(col("_metadata.file_name")).as("partitionId"))
        .agg(count(lit(1)).as("rowCount"),
          provenance.map { case (c, n) => collect_list(col(c)).as(n) }: _*)
    lineage
      .withColumn("runId", lit(runId))
      .withColumn("stage", lit(stageName))
      .withColumn("snapshotId", lit(snapshotId))
      .withColumn("wallMs", lit(wallMs))
      .write.mode("overwrite").option("compression", Checkpoint.Codec)
      .parquet(s"${stageDir(stageName)}/lineage")
    // schema sidecar BEFORE the marker: an empty partitioned stage
    // writes no schema-bearing parquet file, so the read-back (here and
    // in every resumed run) needs the recorded schema to avoid an
    // inference failure
    writeSmall(spark, schemaFile(stageName), df.schema.json)
    writeSmall(spark, marker(stageName), s"${markerContent(snapshotId)}\nrows=${counts.map(_._2).sum}")
  }

  def lineage(spark: SparkSession, stageName: String): DataFrame =
    spark.read.parquet(s"${stageDir(stageName)}/lineage")
}

object Checkpoint {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Checkpoint])

  /** Code/schema revision folded into every stage marker. Bump when any
    * stage's output semantics or schema change, so pre-upgrade
    * checkpoint roots recompute instead of resuming stale data.
    * (v2: hasFunding/hasNote/hasEqualContribution predicates added.)
    *
    * A codec or file-layout change (compression, `partitionBy`, row
    * order, file count) needs no bump: readers address columns by name,
    * and a pre-change root reads back the same rows (a `partitionBy`
    * root with its partition column last).
    */
  val PipelineVersion = "v2"

  /** Parquet codec of every stage's data and lineage. On the kg_build
    * benchmark (4 cores) zstd stores the unpartitioned `ingest` and
    * `records` stages in 36% and 16% fewer bytes than snappy, and the
    * stage write walls did not grow.
    */
  val Codec = "zstd"

  /** Write-task id of a data file, from its name: Spark's file writers
    * name each file `part-<task partition id, 5 digits>-<job uuid>...`,
    * so every file one write task wrote carries that task's partition id
    * — the id [[RowTally]] records for the same task.
    */
  private def writeTaskOf(fileName: org.apache.spark.sql.Column) =
    regexp_extract(fileName, "^part-(\\d+)", 1).cast("int")

  /** Row tally of one data write, as an always-true filter predicate: a
    * write task counts the rows it passes to the writer and, when it
    * ends, adds one (partitionId, rows) entry to `acc`. Tasks that write
    * no row add nothing.
    *
    * Exactly once: the write is a result stage, and Spark merges a
    * task's accumulator updates only when the task succeeds, and for a
    * result stage only from the first successful attempt of each
    * partition — a failed or retried attempt's entry is dropped, and
    * speculative duplicates are not merged. Per-task state is kept per
    * thread and checked against the running TaskContext, so it never
    * mixes two tasks even where a deserialized plan is shared.
    *
    * Called outside a task (the optimizer folding the filter into a
    * local relation on the driver), it counts nothing and sets
    * [[ranOutsideTask]] on the driver's instance.
    */
  private final class RowTally(val acc: CollectionAccumulator[(Int, Long)])
      extends (() => Boolean) with Serializable {
    @volatile var ranOutsideTask = false
    @transient private lazy val current = new ThreadLocal[(TaskContext, Array[Long])]

    def apply(): Boolean = {
      val ctx = TaskContext.get()
      if (ctx == null) ranOutsideTask = true
      else {
        var state = current.get()
        if (state == null || (state._1 ne ctx)) {
          val rows = new Array[Long](1)
          val pid = ctx.partitionId()
          ctx.addTaskCompletionListener[Unit](_ => acc.add((pid, rows(0))))
          state = (ctx, rows)
          current.set(state)
        }
        state._2(0) += 1
      }
      true
    }
  }

  /** Snapshot id of an input: sha256 of the sorted (path, sha) list would
    * be exact but requires a full pass; for the deterministic fixture
    * corpus the (generator, size) pair identifies the snapshot.
    */
  def snapshotId(tag: String, n: Long): String = s"$tag-$n"
}
