package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Correctness gates. Each returns None when the output is correct and
  * Some(reason) when it is not; the self-test feeds each one a corrupted
  * output and requires Some.
  */
object Gates {

  /** Order-free digest of a table: (rows, sum of row hashes mod p, xor
    * of row hashes). Floating columns are rounded to 9 decimals first so
    * a result whose aggregation order varies still digests equal.
    */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"rows=$rows sum=$sum xor=${java.lang.Long.toHexString(xor)}"
  }

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 9))
    case _ => c
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).map(f => stable(df.col(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
  }

  private def digestAggs(h: Column): Seq[Column] =
    Seq(count(lit(1)).as("rows"), sum(pmod(h, lit(1000000007L))).as("sum"), bit_xor(h).as("xor"))

  private def orZero(v: Any): Long = if (v == null) 0L else v.asInstanceOf[Long]

  def digest(df: DataFrame): Digest = {
    val r = df.select(rowHash(df).as("h")).agg(digestAggs(col("h")).head, digestAggs(col("h")).tail: _*).head()
    Digest(r.getLong(0), orZero(r.get(1)), orZero(r.get(2)))
  }

  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** Runs `write` over `df` and returns the digest of the rows written,
    * observed during that same execution (no second pass).
    */
  def observedDigest(df: DataFrame)(write: DataFrame => Unit): Digest = {
    val obs = org.apache.spark.sql.Observation(s"perfbench-digest-${observations.incrementAndGet()}")
    val aggs = digestAggs(rowHash(df))
    write(df.observe(obs, aggs.head, aggs.tail: _*))
    val m = obs.get
    Digest(orZero(m("rows")), orZero(m("sum")), orZero(m("xor")))
  }

  def sameDigest(what: String, got: Digest, want: Digest): Option[String] =
    if (got == want) None else Some(s"$what digest $got differs from $want")

  // -------------------------------------------------- replicated fixture pages

  /** Every ingest row's sha256 equals the generator's own hash, and no
    * row is missing or extra.
    */
  def ingestSha(ingest: DataFrame, manifest: DataFrame, expectedRows: Long): Option[String] = {
    val r = ingest.select("path", "sha256")
      .join(manifest, Seq("path"), "full_outer")
      .agg(count(lit(1)),
        sum(when(col("sha256").isNull || col("expected_sha").isNull ||
          col("sha256") =!= col("expected_sha"), 1L).otherwise(0L)))
      .head()
    val (rows, bad) = (r.getLong(0), r.getLong(1))
    if (bad == 0 && rows == expectedRows) None
    else Some(s"ingest sha256: $bad of $rows rows disagree with the generator (expected $expectedRows rows)")
  }

  /** Precision and recall of the distinct (docId, subj, pred, obj) set
    * against the golden triples.
    */
  def goldenPR(spark: SparkSession, triples: DataFrame, min: Double = 0.95): Option[String] = {
    val golden = goldenTriples(spark)
    val emitted = triples.select("docId", "subj", "pred", "obj").distinct()
    val nE = emitted.count().toDouble
    val nG = golden.count().toDouble
    val nI = emitted.intersect(golden).count().toDouble
    val (p, r) = (if (nE == 0) 0.0 else nI / nE, nI / nG)
    if (p >= min && r >= min) None
    else Some(f"golden triples: precision $p%.4f recall $r%.4f (need >= $min)")
  }

  def goldenTriples(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/graft/golden/triples.tsv")
    require(in != null, "golden triples resource missing")
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
    lines.filter(_.nonEmpty).map { l =>
      val a = l.split("\t", 4)
      (a(0), a(1), a(2), a(3))
    }.toDF("docId", "subj", "pred", "obj").distinct()
  }

  def tripleCount(got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"triple count $got, generator expects $want")

  // ------------------------------------------------------- planted-name pages

  /** planted: (person, surface, variant, foldKey). Gates (a) every
    * exact-fold group shares one entityId and (b) no two planted people
    * share an entityId.
    */
  def linkGroups(entities: DataFrame, planted: DataFrame): Option[String] = {
    val joined = planted.join(
      entities.filter(col("kind") === "author").select(col("name").as("surface"), col("entityId")),
      Seq("surface"), "left")
    val missing = joined.filter(col("entityId").isNull).count()
    val splitGroups = joined.groupBy("person", "fold")
      .agg(countDistinct("entityId").as("n")).filter(col("n") > 1).count()
    val merged = joined.groupBy("entityId")
      .agg(countDistinct("person").as("n")).filter(col("n") > 1).count()
    val errs = Seq(
      if (missing > 0) Some(s"$missing planted surfaces have no entity row") else None,
      if (splitGroups > 0) Some(s"$splitGroups exact-fold variant groups span several entityIds") else None,
      if (merged > 0) Some(s"$merged entityIds are shared by distinct planted people") else None).flatten
    if (errs.isEmpty) None else Some("link: " + errs.mkString("; "))
  }

  /** Planted typo pairs whose typo shares the entityId of its person's
    * exact-fold group, over pairs planted.
    */
  def variantRecall(entities: DataFrame, planted: DataFrame): Double = {
    val ent = entities.filter(col("kind") === "author")
      .select(col("name").as("surface"), col("entityId"))
    val byVariant = planted.join(ent, Seq("surface"))
    val typo = byVariant.filter(col("variant") === "typo")
      .select(col("person"), col("entityId").as("typoId"))
    val group = byVariant.filter(col("variant") =!= "typo")
      .groupBy("person").agg(min("entityId").as("groupId"))
    val r = typo.join(group, Seq("person"))
      .agg(count(lit(1)), sum(when(col("typoId") === col("groupId"), 1L).otherwise(0L)))
      .head()
    if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)
  }
}
