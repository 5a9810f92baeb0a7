package graft.exec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

/** Child JVM of CheckpointSpec's kill test: commits stage "s" for
  * [[SnapA]], then starts the [[SnapB]] rewrite and halts the JVM from
  * inside a write task — no shutdown hook, no finally block runs.
  * Usage: CheckpointKillChild <checkpoint root>
  */
object CheckpointKillChild {
  val SnapA = "snap-A"
  val SnapB = "snap-B"
  val HaltCode = 42

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("checkpoint-kill-child")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    import spark.implicits._
    val ckpt = Checkpoint(args(0), runId = "run-killed")
    ckpt.stage(spark, "s", SnapA) { Seq(1L, 2L, 3L).toDF("v") }
    val halt = udf { (v: Long) =>
      if (v == 5L) Runtime.getRuntime.halt(HaltCode)
      v
    }
    ckpt.stage(spark, "s", SnapB) { spark.range(0, 8, 1, 2).select(halt(col("id")).as("v")) }
    sys.exit(1) // not reached: the rewrite halts the JVM
  }
}
