package graft.exec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A persisted index's identity: the stage it commits under on the index
  * root, and the input snapshot its marker must name to be served. Both
  * an index's build and its warm check take it from the one identity
  * function in [[IndexStore]], so the two cannot drift apart.
  */
final case class IndexId(stage: String, snapshot: String)

/** Row count and snapshot id of one input table (see [[IndexStore.embeddings]]). */
final case class TableSnapshot(rows: Long, id: String)

/** The persisted ANN and near-dup indexes of the similarity queries,
  * committed and row-checked by one [[Checkpoint]] under `root`. The rows
  * each index records on its marker are read in O(1), so a query
  * validates its index without an O(N) read-back `count()`.
  */
final class IndexStore(root: String) {
  private val checkpoint = Checkpoint(root, "ann-index")

  /** Build `id` unless it is committed, then read it back ([[Checkpoint.stage]]). */
  def stage(s: SparkSession, id: IndexId, partitionByCols: Seq[String] = Nil,
      expectedRows: Option[Long] = None)(compute: => DataFrame): DataFrame =
    checkpoint.stage(s, id.stage, id.snapshot, partitionByCols, expectedRows)(compute)

  /** Rows committed for `id`; None when the next [[stage]] call would build it. */
  def committedRows(s: SparkSession, id: IndexId): Option[Long] =
    checkpoint.committedRowsFor(s, id.stage, id.snapshot)

  /** Does the next [[stage]] call for `id` read back without building? */
  def isWarm(s: SparkSession, id: IndexId): Boolean = committedRows(s, id).nonEmpty
}

object IndexStore {

  // ---- index identities: `<kind>_<dirTag>` stages, one per index ----

  /** s01's verified pair table. */
  def neardupPairs(s: SparkSession, dir: String): IndexId =
    IndexId(stageName("nd01_pairs", dir), documents(s, dir).id)

  /** s04's LSH buckets at `bits` bits per table. */
  def lshBuckets(dir: String, emb: TableSnapshot, bits: Int): IndexId =
    IndexId(stageName("lsh8", dir), s"${emb.id}-b$bits")

  /** s06's exact-bucket blocking table. */
  def embNeardupBuckets(dir: String, emb: TableSnapshot, bits: Int): IndexId =
    IndexId(stageName("nd8", dir), s"${emb.id}-nd-b$bits-p2")

  /** s07's `k` centroids and its cid-partitioned assignments (one snapshot). */
  def ivfCentroids(dir: String, emb: TableSnapshot, k: Int): IndexId =
    IndexId(stageName(s"ivf${k}_cent", dir), s"${emb.id}-k${k}i2")
  def ivfAssignments(dir: String, emb: TableSnapshot, k: Int): IndexId =
    IndexId(stageName(s"ivf${k}_assign", dir), s"${emb.id}-k${k}i2")

  /** s09's int8 table. */
  def sq8(dir: String, emb: TableSnapshot): IndexId =
    IndexId(stageName("sq8", dir), s"${emb.id}-sq8-p2")

  /** s12's old-bands index, keyed on the doc_id < cutoff slice
    * ([[docsSlice]]): a tail append leaves it valid. The bucket cap and
    * representative count decide what it stores, so it carries them.
    */
  def oldBands(s: SparkSession, dir: String, cutoff: Long): IndexId =
    IndexId(stageName("nd12_bands", dir),
      s"${docsSlice(s, dir, cutoff)}-cut$cutoff-cap${BandJoin.GiantBucketCap}r${BandJoin.GiantBucketReps}v1")

  /** s13's old-keeper table, built from the s12 index it extends. */
  def oldKeepers(s: SparkSession, dir: String, cutoff: Long): IndexId =
    IndexId(stageName("nd13_keep", dir), s"${oldBands(s, dir, cutoff).snapshot}-keepv1")

  /** Human-readable tag + a hash of the RAW dir string: the readable
    * part alone is lossy (runs of non-alphanumerics collapse to "_", so
    * /data/sf0.1 and /data/sf0_1 would share a stage on the shared root
    * and rebuild each other's indexes on every run).
    */
  private def stageName(kind: String, dir: String): String =
    s"${kind}_" + dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_") +
      "_" + (dir.hashCode & 0x7fffffff).toHexString

  /** Build-side parallelism for an index whose build starts at a
    * single-split scan: without it the projection and the committed
    * layout come out single-partition, and every warm probe of that
    * one-file index runs its join in one task (the s06 candidate join +
    * dedup measured a 4-5 s single-slot job). A no-op when the source
    * already yields at least half the cores in splits. Indexes built
    * this way carry a `-p2` snapshot suffix.
    */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= cores) df else df.repartition(cores)
  }

  // ---- input fingerprints ----

  /** Embeddings snapshot keying the s04, s06, s07 and s09 indexes. */
  def embeddings(s: SparkSession, dir: String): TableSnapshot =
    tableSnapshot(s, dir, "embeddings.parquet", "vec_id", "embedding")

  /** Documents snapshot keying s01's pair table. */
  def documents(s: SparkSession, dir: String): TableSnapshot =
    tableSnapshot(s, dir, "documents.parquet", "doc_id", "text")

  /** Whole-table fingerprint: count + id-set hash + a content hash over
    * ids < 256 (the filter pushes to the scan, so it reads a few row
    * groups) + the file-status fold ([[fileStatusFp]], no data read). The
    * file term catches a regenerated table whose count, ids and first
    * 256 rows are unchanged; an exact full-content hash would re-scan the
    * table per query, the cost a persisted index exists to amortize.
    */
  private def tableSnapshot(s: SparkSession, dir: String, table: String,
      idCol: String, contentCol: String): TableSnapshot =
    memo(s, s"$dir#$table", dir, table) { fileFp =>
      val df = s.read.parquet(s"$dir/$table")
      // coalesce: an empty table fingerprints as empty, not as a NULL sum
      val fpRow = df.agg(count(lit(1)), coalesce(sum(hash(col(idCol))), lit(0L))).head()
      val n = fpRow.getLong(0)
      val contentFp = df.filter(col(idCol) < 256)
        .agg(coalesce(sum(hash(col(contentCol))), lit(0L))).head().getLong(0)
      TableSnapshot(n, s"$n-${fpRow.getLong(1)}-c$contentFp-f$fileFp")
    }

  /** Fingerprint of the documents slice doc_id < cutoff. Keying s12 on
    * the whole-table snapshot would make every appended batch rebuild
    * the old corpus's index, the O(N) cost s12 exists to avoid.
    *
    * Terms: the slice's count + id-set hash, plus a file-status fold over
    * exactly the files that hold a sub-cutoff row (per-file min doc_id,
    * from the same one-column scan). Any change to old rows rewrites one
    * of those files, so the snapshot moves — also for a doc past any
    * sampled prefix; files holding only appended rows never enter the
    * fold. A rewrite of a file mixing old and new rows rebuilds
    * needlessly, which is safe.
    */
  private def docsSlice(s: SparkSession, dir: String, cutoff: Long): String =
    memo(s, s"$dir#documents<$cutoff", dir, "documents.parquet") { _ =>
      val perFile = s.read.parquet(s"$dir/documents.parquet")
        .select(input_file_name().as("f"), col("doc_id"))
        .groupBy("f").agg(
          min(col("doc_id")),
          count(when(col("doc_id") < cutoff, 1)),
          coalesce(sum(when(col("doc_id") < cutoff, hash(col("doc_id")))), lit(0L)))
        .collect()
      def norm(p: String): String = new Path(p).toUri.getPath
      val n = perFile.map(_.getLong(2)).sum
      val idsum = perFile.map(_.getLong(3)).sum
      val oldFiles = perFile.filter(_.getLong(1) < cutoff).map(r => norm(r.getString(0))).toSet
      val oldFp = foldStatuses(fileStatusList(s, dir, "documents.parquet")
        .filter { case (p, _, _) => oldFiles(norm(p)) })
      s"$n-$idsum-of$oldFp"
    }

  /** The incremental convention for "the new batch": documents are
    * append-only with increasing ids, so the delta is the id tail —
    * cutoff = floor(max_id / 10) * 9. A production ingest pins its own
    * batch boundary instead. The max() scans the doc_id column only.
    */
  def incrementalCutoff(s: SparkSession, dir: String): Long =
    memo(s, s"$dir#cutoff", dir, "documents.parquet") { _ =>
      s.read.parquet(s"$dir/documents.parquet")
        .agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0) / 10 * 9
    }

  /** One memo per session over the fingerprints above, keyed on (key,
    * file-status fingerprint of `table`): the listing runs on every call
    * and gates reuse, so a rewrite or an append forces fresh jobs, and a
    * repeat in the same session runs none. Weak keys: a session's memo
    * goes with the session, and no session reuses another's result.
    */
  private val memos =
    new java.util.WeakHashMap[SparkSession, java.util.Map[(String, Long), Any]]()

  private def memo[T](s: SparkSession, key: String, dir: String, table: String)(
      compute: Long => T): T = {
    val m = memos.synchronized(memos.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[(String, Long), Any]()))
    val fileFp = fileStatusFp(s, dir, table)
    val k = (key, fileFp)
    // get-then-put, not computeIfAbsent: `compute` runs Spark jobs, which
    // must not hold a map lock
    Option(m.get(k)).getOrElse { val v = compute(fileFp); m.put(k, v); v }.asInstanceOf[T]
  }

  /** Metadata-only table fingerprint: a fold of (path, length, mtime)
    * over every data file under the table path.
    */
  def fileStatusFp(s: SparkSession, dir: String, table: String): Long =
    foldStatuses(fileStatusList(s, dir, table))

  private def foldStatuses(files: Seq[(String, Long, Long)]): Long =
    files.foldLeft(17L) { case (acc, (path, len, mtime)) =>
      31L * (31L * (31L * acc + path.hashCode) + len) + mtime
    }

  /** Sorted (path, length, mtime) of the table's data files, through the
    * Hadoop FS API (so hdfs:// roots work). The listing is recursive: a
    * partitioned layout's immediate children are directories, whose
    * entries would let an in-place rewrite keep a stale snapshot. A path
    * with any hidden component is skipped: `_temporary/...` left by a
    * dead or concurrent writer holds ordinary part names, and counting
    * it would churn the snapshot on residue and again on cleanup.
    */
  private def fileStatusList(s: SparkSession, dir: String,
      table: String): Seq[(String, Long, Long)] = {
    val p = new Path(s"$dir/$table")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    if (fs.getFileStatus(p).isDirectory) {
      val base = p.toUri.getPath
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (!rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith(".")))
          files += ((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    } else {
      val st = fs.getFileStatus(p)
      files += ((st.getPath.toString, st.getLen, st.getModificationTime))
    }
    files.sortBy(_._1).toSeq
  }
}
