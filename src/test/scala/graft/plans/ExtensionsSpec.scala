package graft.plans

import graft.{PropChecks, SparkSpec}
import graft.functions.RegexpCountFast
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll

/** RegexpCountFast expression semantics + the CollapseRegexCount
  * optimizer rule (injected via spark.sql.extensions in the Verify/Bench
  * mains; here exercised through experimental.extraOptimizations on the
  * shared test session).
  */
class ExtensionsSpec extends SparkSpec with PropChecks {

  test("regexp_count_fast equals the java-regex reference on random strings") {
    val expr = RegexpCountFast(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      org.apache.spark.sql.catalyst.expressions.Literal("y"))
    // non-zero-width patterns only: find()-loop semantics on both sides
    val pats = Seq("[0-9]+", "[a-z]{2}", "\\s+", "ab", "[^A-Za-z0-9\\s]")
    checkProp(forAll(Gen.asciiPrintableStr, Gen.oneOf(pats)) { (s, p) =>
      expr.compute(UTF8String.fromString(s), UTF8String.fromString(p)) ==
        p.r.findAllMatchIn(s).size
    })
  }

  test("regexp_count_fast matches size(regexp_extract_all(_, _, 0))") {
    import spark.implicits._
    val df = Seq("a1 b2 c3", "", "no-digits here", "7 77 777 7777", "x,y;z")
      .toDF("s")
      .withColumn("fast", RegexpCountFast.regexpCountFast(col("s"), lit("[0-9]+")))
      .withColumn("builtin", size(regexp_extract_all(col("s"), lit("[0-9]+"), lit(0))))
      .withColumn("fast2", RegexpCountFast.regexpCountFast(col("s"), lit("[a-z]+")))
      .withColumn("builtin2", size(regexp_extract_all(col("s"), lit("[a-z]+"), lit(0))))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2), r.toString)
      assert(r.getInt(3) == r.getInt(4), r.toString)
    }
    // null-intolerance parity with the built-in shape
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(RegexpCountFast.regexpCountFast(col("s"), lit("x")).as("fast"),
        size(regexp_extract_all(col("s"), lit("x"), lit(0))).as("builtin"))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("SQL registration of regexp_count_fast works") {
    RegexpCountFast.register(spark)
    import spark.implicits._
    Seq("one two three").toDF("s").createOrReplaceTempView("rc_t")
    val n = spark.sql("SELECT regexp_count_fast(s, '\\\\w+') AS n FROM rc_t").head.getInt(0)
    assert(n == 3)
  }

  test("CollapseRegexCount rewrites the built-in shape in the optimized plan") {
    import spark.implicits._
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ CollapseRegexCount
    try {
      // parquet-backed source: a local Seq would be constant-folded away
      // before the pattern could be observed in the optimized plan
      val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("n", size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))))
        .select("doc_id", "n")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("regexp_count_fast"), optimized)
      assert(!optimized.toLowerCase.contains("regexp_extract_all"), optimized)
      // values unchanged under the rewrite
      val rewritten = df.orderBy("doc_id").collect().map(_.getInt(1)).toSeq
      spark.experimental.extraOptimizations = before
      val plain = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("n", size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))))
        .select("doc_id", "n").orderBy("doc_id").collect().map(_.getInt(1)).toSeq
      assert(rewritten == plain)
    } finally spark.experimental.extraOptimizations = before
  }

  test("rule leaves non-matching shapes alone (idx != 0, legacy size)") {
    import spark.implicits._
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ CollapseRegexCount
    try {
      val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("g1", size(regexp_extract_all(col("text"), lit("([a-z])[a-z]"), lit(1))))
        .select("doc_id", "g1")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("regexp_extract_all"), optimized)
      assert(df.head.getInt(1) > 0)
    } finally spark.experimental.extraOptimizations = before
  }

  test("only the single-partition window warning is filtered, and only on WindowExec") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    SinglePartitionWindowNote.install()
    SinglePartitionWindowNote.install() // a second session start adds nothing
    val config = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
    val lc = config.getLoggerConfig(SinglePartitionWindowNote.Logger)
    assert(lc.getName == SinglePartitionWindowNote.Logger)
    // the logger keeps the level it inherits: its other warnings still log
    assert(lc.getLevel == config.getRootLogger.getLevel, lc.getLevel)
    assert(Option(lc.getFilter).map(_.getClass.getSimpleName).contains("Deny"), lc.getFilter)
    val (_, seen) = graft.LogCapture(SinglePartitionWindowNote.Logger) {
      // an unpartitioned window: WindowExec logs the single-partition warning
      spark.range(5).withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("id"))).collect()
      LogManager.getLogger(SinglePartitionWindowNote.Logger).warn("another WindowExec warning")
    }
    assert(seen == Seq("another WindowExec warning"), seen)
  }
}
