package graft

import graft.exec.IndexStore
import graft.queries.SimilarityQueries

/** s13 incremental dedup keeper: per-batch keeper assignments from the
  * persisted old-keeper table + s12's delta pairs, without re-running
  * CC over the full corpus pair graph. Ground truths are independent of
  * the incremental path: the full s10 composition and a driver-side
  * union-find over (old s01 pairs UNION s12 pairs).
  */
class IncrementalKeeperSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def s13Rows(dir: String): Set[(Long, Long, Boolean)] =
    SparkEntry.queries("s13_incremental_keeper")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("s13 equals the full s10 composition on the sf corpus") {
    val s10 = SparkEntry.queries("s10_dedup_keeper")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = s13Rows(sf)
    assert(got == s10, s"onlyS13=${(got -- s10).take(5)} onlyS10=${(s10 -- got).take(5)}")
  }

  test("s13 merges old components through a delta chain; non-endpoint members relabel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s13_merge").toString
    // 200 base words; mutations at scattered positions >= 5 apart so each
    // changed word flips exactly 5 disjoint 5-gram shingles: k changed
    // words -> J = (196-5k)/(196+5k): k=2 -> 0.903, k=3 -> 0.858,
    // k=4 -> 0.815, k=6 -> 0.735 (below the 0.8 threshold)
    def text(seed: Int, changed: Int*): String = {
      val r = new scala.util.Random(seed)
      val ws = Array.fill(200)("w" + r.nextInt(50000))
      changed.foreach(k => ws(10 + 10 * k) = s"alt$k")
      ws.mkString(" ")
    }
    def filler(seed: Int): String = {
      val r = new scala.util.Random(90000 + seed)
      Array.fill(60)("f" + r.nextInt(50000)).mkString(" ")
    }
    // old clusters A = {0, 1} (text TA) and B = {10, 11} (TB = TA with 6
    // scattered words changed, J = 0.735 -> NOT an old pair); the delta
    // chain d1 = TA+2, d2 = TA+4 steps A to B at J = 0.903 per hop.
    // Old unpaired bridge case: 20 = TC, 21 = TC with words 0..5 changed
    // (J = 0.735, unpaired in the old corpus); delta 83 = TC with words
    // 0..2 changed sits at J = 0.858 to BOTH.
    // ids 0..89 -> cutoff = 89/10*9 = 72 (delta = 72..89)
    val rows: Seq[(Long, String)] =
      Seq(0L -> text(1), 1L -> text(1),
        10L -> text(1, 0, 1, 2, 3, 4, 5), 11L -> text(1, 0, 1, 2, 3, 4, 5),
        20L -> text(2), 21L -> text(2, 0, 1, 2, 3, 4, 5)) ++
      ((2L until 72L).filterNot(Seq(10L, 11L, 20L, 21L).contains)
        .map(i => i -> filler(i.toInt))) ++
      Seq(80L -> text(1, 0, 1), 81L -> text(1, 0, 1, 2, 3),
        83L -> text(2, 0, 1, 2)) ++
      ((72L until 90L).filterNot(Seq(80L, 81L, 83L).contains)
        .map(i => i -> filler(1000 + i.toInt)))
    rows.toDF("doc_id", "text").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cutoff = IndexStore.incrementalCutoff(spark, dir)
    assert(cutoff == 72, s"cutoff=$cutoff")

    // preconditions: the chain's planted hops actually verified
    val s12 = SparkEntry.queries("s12_incremental_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s12.exists(p => Set(0L, 1L).contains(p._1) && p._2 == 80L), s"A-d1 hop missing: $s12")
    assert(s12.contains((80L, 81L)) || s12.exists(p => p._1 == 80L && p._2 == 81L),
      s"d1-d2 hop missing: $s12")
    assert(s12.exists(p => Set(10L, 11L).contains(p._1) && Set(80L, 81L).contains(p._2)),
      s"B-chain hop missing: $s12")
    assert(s12.exists(p => p._1 == 20L && p._2 == 83L), s"u1-delta hop missing: $s12")
    assert(s12.exists(p => p._1 == 21L && p._2 == 83L), s"u2-delta hop missing: $s12")

    val got = s13Rows(dir)
    // THE merge assertions: B's non-endpoint member 11 (never touched by
    // a delta pair directly unless banding added an edge) relabels to the
    // merged component's min 0; the unpaired old doc 21 relabels to 20
    assert(got.contains((11L, 0L, true)), s"doc 11 not relabeled: ${got.find(_._1 == 11L)}")
    assert(got.contains((10L, 0L, true)))
    assert(got.contains((0L, 0L, false)) && got.contains((1L, 0L, true)))
    assert(got.contains((80L, 0L, true)) && got.contains((81L, 0L, true)))
    assert(got.contains((20L, 20L, false)) && got.contains((21L, 20L, true)))
    assert(got.contains((83L, 20L, true)))

    // general ground truth: union-find over (old s01 pairs) U (s12 pairs)
    val oldPairs = SimilarityQueries.neardupPairsOf(
        spark.read.parquet(s"$dir/documents.parquet").filter($"doc_id" < cutoff))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val find = MainUtil.unionFindRoots(oldPairs ++ s12.toSeq)
    val touched = (oldPairs ++ s12.toSeq).flatMap(p => Seq(p._1, p._2)).toSet
    val expected = rows.map(_._1).map { id =>
      val k = if (touched(id)) {
        val r = find(id)
        touched.filter(find(_) == r).min
      } else id
      (id, k, id != k)
    }.toSet
    assert(got == expected,
      s"onlyS13=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    // and the full s10 composition agrees
    val s10 = SparkEntry.queries("s10_dedup_keeper")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == s10)
  }

  test("s13 old-keeper table survives a tail append and dedups the batch against it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s13_append").toString
    def uniq(i: Long, tag: String): String =
      (1 to 40).map(j => s"$tag${i}_$j").mkString(" ")
    val dup = (1 to 40).map(i => s"d$i").mkString(" ")
    val cutoff = 30L // production interface: the ingest pins the boundary
    // old docs 5 and 6 duplicate each other -> old component keeper 5
    (Seq((5L, dup), (6L, dup)) ++ (0L until 35L).filterNot(Seq(5L, 6L).contains)
      .map(i => (i, uniq(i, "a"))))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rowsAt(): Set[(Long, Long, Boolean)] =
      SimilarityQueries.incrementalKeeperAt(spark, dir, cutoff)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val first = rowsAt() // builds bands + old-keeper stages
    assert(first.contains((6L, 5L, true)) && first.contains((5L, 5L, false)))
    assert(SimilarityQueries.indexes.isWarm(spark, IndexStore.oldKeepers(spark, dir, cutoff)))
    // the ingest batch lands as a parquet append; 37 duplicates the pair
    (Seq((37L, dup)) ++ Seq(35L, 36L, 38L, 39L).map(i => (i, uniq(i, "b"))))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    assert(SimilarityQueries.indexes.isWarm(spark, IndexStore.oldKeepers(spark, dir, cutoff)),
      "tail append invalidated the old-keeper table")
    val got = rowsAt()
    val expected = ((0L until 40L).map { id =>
      val k = if (id == 6L || id == 37L) 5L else id
      (id, k, id != k)
    }).toSet
    assert(got == expected, s"diff=${(got -- expected) ++ (expected -- got)}")
  }
}
