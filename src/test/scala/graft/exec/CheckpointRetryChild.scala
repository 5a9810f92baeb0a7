package graft.exec

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, format_string, sha2, udf}

/** Child JVM of CheckpointSpec's exactly-once lineage test. At
  * local[2,2] a failed task gets one retry; both stages below fail the
  * FIRST attempt of partition 1 on that partition's last row, after the
  * attempt has passed every other row to the data write.
  *   - stage "s": ids 0..749 in 4 partitions of 250; partition 3 is
  *     empty;
  *   - stage "files": ingest-shaped (path, sha256) rows for 40 paths
  *     in 4 partitions of 10.
  * Exits 0 once both stages committed.
  * Usage: CheckpointRetryChild <checkpoint root>
  */
object CheckpointRetryChild {
  val Snap = "snap-retry"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("checkpoint-retry-child")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    def failFirstAttemptAt(last: Long) = udf { (v: Long) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 1 && tc.attemptNumber() == 0 && v == last)
        throw new IllegalStateException(s"first attempt of partition 1 fails at $v")
      v
    }.asNondeterministic()
    val ckpt = Checkpoint(args(0), runId = "run-retry")
    ckpt.stage(spark, "s", Snap) {
      spark.range(0, 1000, 1, 4).filter(col("id") < 750)
        .select(failFirstAttemptAt(499L)(col("id")).as("v"))
    }
    ckpt.stage(spark, "files", Snap) {
      spark.range(0, 40, 1, 4)
        .select(format_string("p%03d", failFirstAttemptAt(19L)(col("id"))).as("path"))
        .withColumn("sha256", sha2(col("path"), 256))
    }
    spark.stop()
  }
}
