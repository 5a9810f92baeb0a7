package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text operators over the `documents` table
  * (doc_id, text, lang, source, n_chars): exact dedup, token counting,
  * quality scoring, stopword-based language id, regex extraction.
  * All SQL-expressible -> full DuckDB oracles.
  */
object TextQueries {

  private def docs(dir: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** THE whitespace token-count convention (t02): trim + \s+ split.
    * One definition — t02/t03/t16/t18 and their oracles must agree on
    * it, including its documented quirk (plain trim strips only 0x20,
    * so a boundary tab/newline contributes one empty token).
    *
    * Computed as [[splitCount]] (native match counter + 1), not
    * size(split(...)): the value is identical (see splitCount's proof
    * obligations) and the split array was materialized only to be
    * counted.
    */
  private def nTokens: org.apache.spark.sql.Column =
    splitCount(trim(col("text")), "\\s+")

  /** `size(split(c, pat))` without materializing the array (round 6,
    * guide: prefer allocation-free codegen expressions in the hot
    * path): for a pattern that can never match the empty string —
    * every pattern used here consumes at least one char per match —
    * Java's `Pattern.split(s, -1)` yields exactly (number of
    * non-overlapping matches) + 1 parts, leading and trailing empties
    * included, which is what Spark's `split` (limit -1) returns the
    * size of. [[graft.functions.RegexpCountFast]] runs the same
    * java.util.regex engine over the same non-overlapping find() walk,
    * so the count is the same quantity with zero per-row allocation.
    * (A zero-width-capable pattern would break the identity — Java
    * skips a leading zero-width match — so this helper must only be
    * used with width >= 1 patterns; all call sites are literals.)
    */
  private def splitCount(c: Column, pat: String): Column =
    graft.functions.RegexpCountFast.regexpCountFast(c, lit(pat)) + 1

  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: content-hash groupBy; keeper = min doc_id per cluster.
    * One shuffle on the hash; at 100 TB this is the canonical first
    * dedup pass (hash is 32 bytes/row, content never reshuffles).
    */
  private val dedupExact: Q = (s, dir) => {
    implicit val sp = s
    docs(dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_dups"))
      .orderBy("content_hash")
  }

  /** Whitespace token count per doc + per-lang aggregate. */
  private val tokenCount: Q = (s, dir) => {
    implicit val sp = s
    docs(dir)
      .withColumn("n_tokens", nTokens)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        // floor-based rounding (see qualityScore): identical double math on
        // both engines; Spark round() is decimal HALF_UP, DuckDB binary.
        (floor(avg("n_tokens") * 100 + 0.5) / 100).as("avg_tokens"))
      .orderBy("lang")
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * mean word length — the standard cheap pretraining-quality signals.
    */
  private val qualityScore: Q = (s, dir) => {
    implicit val sp = s
    val tokens = nTokens
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))
    // padded-split hit counting (RE2-portable: DuckDB has no \b);
    // splitCount - 1 = plain match count
    val stop = splitCount(concat(lit(" "), col("text"), lit(" ")), "\\sthe\\s") - 1
    // floor-based rounding: Spark round() is decimal HALF_UP, DuckDB
    // rounds in binary — identical floor(x*s+0.5)/s double math on both
    // sides removes the x.xx5 boundary disagreements.
    def r(c: Column, s: Int): Column = floor(c * s + 0.5) / s
    docs(dir)
      .withColumn("n_tokens", tokens)
      .withColumn("punct_ratio", r(punct.cast("double") / length(col("text")), 10000))
      .withColumn("stopword_ratio", r(stop.cast("double") / tokens, 10000))
      .withColumn("mean_word_len",
        r((length(col("text")) - tokens + 1).cast("double") / tokens, 100))
      .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_word_len")
      .orderBy("doc_id")
  }

  /** Language id: stopword-hit heuristic — count hits of one high-
    * frequency marker word per language, argmax wins. Nonzero ties
    * resolve to the FIRST language in chain order (en > de > fr > es —
    * the oracle's CASE mirrors the order, so keep them in sync); only
    * an all-zero score maps to und. Evaluated against the labeled lang
    * column.
    */
  private val langId: Q = (s, dir) => {
    implicit val sp = s
    def hits(word: String) = splitCount(concat(lit(" "), col("text"), lit(" ")), s"\\s$word\\s") - 1
    val scored = docs(dir)
      .withColumn("en_hits", hits("the"))
      .withColumn("de_hits", hits("der") + hits("und"))
      .withColumn("fr_hits", hits("le") + hits("et"))
      .withColumn("es_hits", hits("el") + hits("y"))
    val best = greatest(col("en_hits"), col("de_hits"), col("fr_hits"), col("es_hits"))
    scored
      .withColumn("pred_lang",
        when(best === 0, lit("und"))
          .when(best === col("en_hits"), lit("en"))
          .when(best === col("de_hits"), lit("de"))
          .when(best === col("fr_hits"), lit("fr"))
          .when(best === col("es_hits"), lit("es")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Regex extraction over documents: first 'spark'-prefixed token and
    * occurrence counts (the P-family operators in SQL-checkable form).
    */
  private val extractRegex: Q = (s, dir) => {
    implicit val sp = s
    docs(dir)
      .withColumn("first_spark", regexp_extract(col("text"), "(spark\\w*)", 1))
      .withColumn("n_scan", splitCount(concat(lit(" "), col("text"), lit(" ")), "\\sscan\\s") - 1)
      .filter(col("first_spark") =!= "" || col("n_scan") > 0)
      .select("doc_id", "first_spark", "n_scan")
      .orderBy("doc_id")
  }

  /** BPE-ish regex tokenization: word pieces and standalone punctuation
    * counted separately (the RE2-portable subset of a GPT-2-style
    * pretokenizer), plus bytes-per-token — the standard corpus stat.
    */
  private val bpeTokens: Q = (s, dir) => {
    implicit val sp = s
    val words = size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
    val punct = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
    docs(dir)
      .withColumn("word_tokens", words)
      .withColumn("punct_tokens", punct)
      .withColumn("bytes_per_token",
        floor(length(col("text")).cast("double") / (words + punct) * 100 + 0.5) / 100)
      .select("doc_id", "word_tokens", "punct_tokens", "bytes_per_token")
      .orderBy("doc_id")
  }

  /** Rolling polynomial fingerprint (Rabin-Karp shape) per document —
    * deterministic 64-bit content id computed per partition; grouping
    * on it is the shuffle-cheap dedup key (32 B/row). Non-SQL (rows-only
    * oracle).
    */
  private val fingerprint: Q = (s, dir) => {
    implicit val sp = s
    import sp.implicits._
    docs(dir).select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t) =>
          var h = 1125899906842597L // large prime seed
          var i = 0
          while (i < t.length) { h = 31 * h + t.charAt(i); i += 1 }
          (id, h)
        }
      }
      .toDF("doc_id", "fingerprint")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy("keeper_doc_id")
  }

  /** Repetition ratio (Gopher-style quality rule): fraction of word
    * occurrences that are repeats of an already-seen word — high values
    * flag boilerplate/spam for pretraining filters. Pure column math,
    * single scan, no shuffle before the final sort.
    */
  private val repetitionRatio: Q = (s, dir) => {
    implicit val sp = s
    val words = split(trim(col("text")), "\\s+")
    docs(dir)
      .withColumn("n_words", size(words))
      .withColumn("rep_ratio",
        floor((lit(1.0) - size(array_distinct(words)).cast("double") / size(words)) * 10000 + 0.5) / 10000)
      .select("doc_id", "n_words", "rep_ratio")
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split: first hex char of md5(doc_id)
    * partitions 75/12.5/12.5 — the standard content-hash splitter that is
    * stable under repartitioning, re-runs, and corpus growth (a doc never
    * migrates between splits). Engines agree because md5 is md5.
    */
  private val trainSplit: Q = (s, dir) => {
    implicit val sp = s
    val c1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    docs(dir)
      .withColumn("split",
        when(c1 <= "b", "train").when(c1 <= "d", "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("split", "lang")
  }

  /** Pairwise word-set Jaccard between consecutive docs of one source —
    * the n-gram-Jaccard verification operator as a first-class query.
    * Pairing via lead() over (source, doc_id) is one shuffle and linear
    * output (vs. a quadratic self-join); the same verified-Jaccard math
    * backs the s01 MinHash pipeline's post-filter.
    */
  private val wordJaccard: Q = (s, dir) => {
    implicit val sp = s
    val wset = array_distinct(split(lower(trim(col("text"))), "\\s+"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs(dir)
      .withColumn("ws", wset)
      .withColumn("next_id", lead(col("doc_id"), 1).over(w))
      .withColumn("next_ws", lead(col("ws"), 1).over(w))
      .filter(col("next_id").isNotNull)
      .withColumn("jaccard",
        floor(size(array_intersect(col("ws"), col("next_ws"))).cast("double")
          / size(array_union(col("ws"), col("next_ws"))) * 10000 + 0.5) / 10000)
      .select("doc_id", "next_id", "jaccard")
      .orderBy("doc_id")
  }

  /** Exact distribution stats per language: p50/p90 of document length —
    * the standard corpus-profiling pass before filtering thresholds are
    * chosen. Exact interpolated percentile (one shuffle on lang) rather
    * than approx sketches so the DuckDB oracle can value-match.
    */
  private val percentiles: Q = (s, dir) => {
    implicit val sp = s
    docs(dir)
      .groupBy(col("lang"))
      .agg(
        floor(expr("percentile(n_chars, 0.5)") * 100 + 0.5) / 100 as "p50_chars",
        floor(expr("percentile(n_chars, 0.9)") * 100 + 0.5) / 100 as "p90_chars",
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** PII-style redaction over the events props payload: digit runs
    * replaced with a token, redaction verified by count + md5 of the
    * redacted text (cross-engine byte agreement). The real pipeline
    * would swap the pattern set (emails, phones, SSNs); the dataflow —
    * scan, global regexp_replace, fingerprint — is the operator.
    */
  private val redact: Q = (s, dir) => {
    implicit val sp = s
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("n_nums"),
        md5(regexp_replace(col("props"), "[0-9]+", "<NUM>")).as("redacted_md5"))
      .orderBy("event_id")
  }

  /** Deterministic stratified (per-language) sampling — the data-mixing
    * primitive of a pretraining pipeline: each language gets its own
    * keep-rate, membership is decided by a content-stable hash threshold
    * (md5 hex prefix compared lexicographically — fixed-width lowercase
    * hex orders like the number it encodes), so the sample is identical
    * across runs, partitionings, and engines; no RNG, no shuffle beyond
    * the final sort. Rates: en 1/2 ('80000000'), others 1/4 ('40000000').
    */
  private val stratifiedSample: Q = (s, dir) => {
    implicit val sp = s
    val h = substring(md5(concat(lit("t13:"), col("doc_id").cast("string"))), 1, 8)
    docs(dir)
      .withColumn("h8", h)
      .filter((col("lang") === "en" && col("h8") < "80000000")
        || (col("lang") =!= "en" && col("h8") < "40000000"))
      .select("doc_id", "lang", "h8")
      .orderBy("doc_id")
  }

  /** Top-5 word bigrams per language — the classic corpus-profiling pass
    * (and the §2.2 generator family under a full value oracle): split ->
    * per-row bigram array (a Column-lambda transform, no UDF) -> explode
    * -> count -> per-lang top-k window. One shuffle on (lang, bigram),
    * one on lang for the window.
    */
  private val bigramTopk: Q = (s, dir) => {
    implicit val sp = s
    val w = split(lower(trim(col("text"))), "\\s+")
    val bigrams = transform(sequence(lit(1), size(col("ws")) - 1),
      i => concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1)))
    val win = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    docs(dir)
      .withColumn("ws", w)
      .filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 5)
      .orderBy("lang", "rank")
  }

  /** Benchmark-contamination check (the pre-training hygiene op): which
    * training docs share any 13-gram with the eval set. Eval set =
    * doc_id % 7 == 0 (a deterministic stand-in for a benchmark table —
    * the driver's corpus has no separate eval parquet). 13 words is the
    * standard contamination window (GPT-3 appendix C / PaLM use 13-gram
    * overlap). Shape at scale: eval sets are tiny next to the corpus, so
    * the eval gram set BROADCASTS and the corpus side is one scan +
    * broadcast join — content never shuffles; per-doc grams are
    * array_distinct'd so n_overlap counts distinct contaminated grams.
    * Gram keys come from the native [[graft.functions.WordWindowHashes]]
    * expression — O(words) rolling hashes, zero intermediate span
    * strings, codegen'd — so the broadcast set is longs, not strings.
    */
  private val contamination: Q = (s, dir) => {
    implicit val sp = s
    val base = docs(dir)
      .withColumn("hs",
        graft.functions.WordWindowHashes.wordWindowHashes(lower(col("text")), 13))
      .select(col("doc_id"), explode(array_distinct(col("hs"))).as("h"))
    val evalGrams = base.filter(col("doc_id") % 7 === 0).select("h").distinct()
    base.filter(col("doc_id") % 7 =!= 0)
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy("doc_id")
  }

  /** Data-mixing weights (training-mix design): per-language sampling
    * rate that moves the corpus toward a UNIFORM per-language token
    * budget — rate = min(1, (total/n_langs)/lang_tokens), i.e.
    * over-represented languages downsample, under-represented ones keep
    * everything (rate 1.0; upsampling is a repeat factor decided
    * downstream). The unpartitioned window runs over the per-language
    * AGGREGATE (k rows), not the corpus — one corpus scan + one k-row
    * window, no content shuffle.
    */
  private val domainMix: Q = (s, dir) => {
    implicit val sp = s
    def r(c: Column, s0: Int): Column = floor(c * s0 + 0.5) / s0
    // The global window is intentional and runs over the k-row
    // per-language AGGREGATE, not the corpus (see the scaladoc). Its
    // empty partition spec makes WindowExec warn; the warning is
    // suppressed once, documented, in GraftExtensions — a constant
    // partition key gets constant-folded away, and a 1-row-aggregate
    // cross join would recompute the corpus pass for the broadcast
    // build (exchange reuse does not cross into broadcast builds).
    val wAll = Window.partitionBy()
    docs(dir)
      .withColumn("n_tokens", nTokens)
      .groupBy("lang").agg(sum("n_tokens").as("lang_tokens"))
      .withColumn("total_tokens", sum("lang_tokens").over(wAll))
      .withColumn("n_langs", count(lit(1)).over(wAll))
      .withColumn("sample_rate",
        r(least(lit(1.0), (col("total_tokens").cast("double") / col("n_langs")) /
          col("lang_tokens").cast("double")), 10000))
      .withColumn("expected_tokens",
        floor(col("lang_tokens") * col("sample_rate")).cast("long"))
      .select("lang", "lang_tokens", "sample_rate", "expected_tokens")
      .orderBy("lang")
  }

  /** Duplicated-span inventory (exact substring dedup, the Lee et al.
    * "Deduplicating Training Data" signal): per doc, how many of its
    * 20-word rolling windows occur >= 2 times across the whole corpus
    * (incl. within-doc repeats). Scale shape: spans shuffle as 8-byte
    * 8-byte rolling hashes, never as strings (the oracle groups by the
    * span text itself — identical counts barring a 2^-64 collision);
    * keys come from the native codegen'd
    * [[graft.functions.WordWindowHashes]] — the lambda formulation
    * (transform + array_join + xxhash64) materialized one ~150-byte
    * string PER WINDOW POSITION before hashing and fell out of
    * WholeStageCodegen (higher-order fns are CodegenFallback); the
    * occurrence count comes from a count-over-window PARTITIONED BY the
    * hash, not a groupBy + join back: the groupBy/join formulation
    * evaluates the span lineage twice (the partial-agg side and the
    * raw-span join side shuffle different payloads, so AQE cannot reuse
    * the exchange) — i.e. it READS AND RE-HASHES THE WHOLE CORPUS TWICE.
    * The window plan scans once and shuffles once by h (an external
    * sort, spill-safe; a hot span key concentrates on one partition in
    * EITHER formulation, and count-over-unbounded-frame needs no
    * per-group state). Measured at the 1M-doc probe: 18.7 -> 14.2 s c32.
    */
  private val dupSpans: Q = (s, dir) => {
    implicit val sp = s
    def r(c: Column, s0: Int): Column = floor(c * s0 + 0.5) / s0
    val spans = docs(dir)
      .withColumn("hs",
        graft.functions.WordWindowHashes.wordWindowHashes(lower(col("text")), 20))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    spans
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_fraction",
        r(col("n_dup_spans").cast("double") / col("n_spans"), 10000))
      .orderBy("doc_id")
  }

  /** Duplicated-span REMOVAL (the rewrite step t17 only inventories —
    * Lee et al.'s "deduplicate the training data", exact-substring
    * form): every 20-word rolling window that occurs >= 2 times
    * corpus-wide keeps its CANONICAL first occurrence (global min by
    * (doc_id, pos)) and every other occurrence's covered words are
    * dropped; output is the per-doc cleaned text (on the lowercased,
    * whitespace-trimmed word stream — the dedup-canonical form all the
    * span ops share) plus removal accounting. Overlapping removable
    * spans union their coverage; a doc repeating a span internally
    * keeps only the first copy; docs under 20 words pass through.
    *
    * Scale shape: the span side is t17's exactly — one corpus scan,
    * windows as native 8-byte rolling hashes ([[graft.functions
    * .WordWindowHashes]]), ONE shuffle partitioned by hash computing
    * the canonical rank (row_number alone: a second row in a hash
    * partition IS a duplicated span, so no separate occurrence count).
    * Removable occurrences then travel as (doc_id, span-START) longs —
    * one row per occurrence, never content — and collect_set folds the
    * starts per doc; the 20 covered positions expand AFTER the per-doc
    * fold (transform + sequence + flatten + array_distinct), so the
    * aggregation shuffles 20x fewer rows than a covered-position
    * explode would. The rebuild is a SECOND corpus scan (a genuinely
    * different derivation — words, not hashes; materializing both
    * arrays per row to save the scan would double the scan's width for
    * no shuffle saving) joined to the per-doc removal sets, with the
    * surviving words selected by array_except over positions (hash-set
    * semantics, O(words) per doc) — per-doc Column lambdas, not
    * per-window, so the CodegenFallback cost sits on the output
    * projection only.
    */
  /** The RE2 \s class — [ \t\n\f\r] — as an explicit Java-regex char
    * class. t19's rebuild MUST split with exactly the delimiter set
    * [[graft.functions.WordWindowHashes]]'s byte scanner uses (and the
    * DuckDB oracle's RE2 engine matches): Java's \s additionally
    * treats vertical tab 0x0B as whitespace, and a tokenization
    * mismatch between the hash side and the word-array side would
    * MISALIGN the removal indices (wrong words dropped) on any text
    * containing a VT — not just diverge from the oracle.
    */
  private val Re2Ws = "[ \\t\\n\\f\\r]"

  private val spanRemoval: Q = (s, dir) => {
    implicit val sp = s
    // rn > 1 alone marks a removable occurrence (a partition with a
    // second row IS a duplicated span) — a separate count-over-window
    // would add a second WindowExec pass over the per-word span stream
    val removedPerDoc = docs(dir)
      .select(col("doc_id"),
        graft.functions.WordWindowHashes.wordWindowHashes(lower(col("text")), 20).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("rn") > 1)
      // aggregate SPAN STARTS (one row per removable occurrence) and
      // expand to covered positions per doc below — exploding the 20
      // positions before the shuffle would push 20x the rows through it
      .groupBy("doc_id").agg(collect_set("pos").as("starts"))
    docs(dir)
      .select(col("doc_id"),
        split(regexp_replace(lower(col("text")),
          s"^$Re2Ws+|$Re2Ws+$$", ""), s"$Re2Ws+").as("ws"))
      .join(removedPerDoc, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(
        array_distinct(flatten(transform(col("starts"),
          p => sequence(p, p + 19)))),
        array().cast("array<int>")))
      .withColumn("keep",
        array_except(sequence(lit(0), size(col("ws")) - 1).cast("array<int>"), col("rm")))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("rm")).cast("long").as("n_removed_words"),
        concat_ws(" ",
          transform(col("keep"), i => element_at(col("ws"), i + 1))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Sequence packing (training-batch construction): greedily pack docs
    * into fixed token-budget bins (B = 2048), the op that turns a
    * filtered corpus into context-window-sized training rows. Packing
    * is inherently sequential WITHIN a stream, so the corpus shards by
    * pmod(doc_id, 16) and packs independently per (lang, shard) in
    * doc_id order — embarrassingly parallel across shards, deterministic
    * (the in-memory sort fixes groupByKey's arbitrary value order), and
    * per-task memory is bounded by the shard, not the corpus. A doc
    * over budget gets its own bin flagged is_overflow (downstream
    * chunking policy, not packing's). Non-SQL fold -> VALUES pin +
    * independent recompute spec; token convention matches t02
    * (trim + \s+ split).
    */
  private val seqPack: Q = (s, dir) => {
    implicit val sp = s
    seqPackOf(docs(dir), budget = 2048)
  }

  /** The packing engine behind t18, budget-parameterized so the spec can
    * drive the rollover / overflow / reset-after-overflow branches with
    * a small synthetic budget (the sf corpora never fill a 2048 bin).
    * STREAMING fold, not a grouped materialization: repartition by
    * (lang, shard) puts whole groups in one partition,
    * sortWithinPartitions fixes the deterministic doc_id order, and
    * mapPartitions folds with O(1) state (bin/fill reset on each group
    * boundary) — a flatMapGroups + toArray would materialize 1/16 of
    * the dominant language per task, which at corpus scale is the OOM.
    */
  private[graft] def seqPackOf(d: DataFrame, budget: Int): DataFrame = {
    val sp = d.sparkSession
    import sp.implicits._
    d.withColumn("n_tokens", nTokens)
      .withColumn("shard", pmod(col("doc_id"), lit(16)).cast("int"))
      .select("doc_id", "lang", "shard", "n_tokens")
      .repartition(col("lang"), col("shard"))
      .sortWithinPartitions("lang", "shard", "doc_id")
      .as[(Long, String, Int, Int)]
      .mapPartitions { it =>
        var curLang: String = null
        var curShard = -1
        var bin = 0
        var fill = 0
        it.map { case (id, lang, shard, tok) =>
          if (lang != curLang || shard != curShard) {
            curLang = lang; curShard = shard; bin = 0; fill = 0
          }
          if (fill > 0 && fill + tok > budget) { bin += 1; fill = 0 }
          val row = (id, lang, shard, bin, tok, tok > budget)
          fill += tok
          if (tok > budget) { bin += 1; fill = 0 } // overflow doc sits alone
          row
        }
      }
      .toDF("doc_id", "lang", "shard", "bin_seq", "n_tokens", "is_overflow")
      .orderBy("doc_id")
  }

  val all: Map[String, Q] = Map(
    "t19_span_removal" -> spanRemoval,
    "t18_seq_pack" -> seqPack,
    "t13_stratified_sample" -> stratifiedSample,
    "t14_bigram_topk" -> bigramTopk,
    "t15_contamination" -> contamination,
    "t16_domain_mix" -> domainMix,
    "t17_dup_spans" -> dupSpans,
    "t01_dedup_exact" -> dedupExact,
    "t02_token_count" -> tokenCount,
    "t03_quality_score" -> qualityScore,
    "t04_lang_id" -> langId,
    "t05_extract_regex" -> extractRegex,
    "t06_bpe_tokens" -> bpeTokens,
    "t07_fingerprint" -> fingerprint,
    "t08_repetition_ratio" -> repetitionRatio,
    "t09_train_split" -> trainSplit,
    "t10_word_jaccard" -> wordJaccard,
    "t11_percentiles" -> percentiles,
    "t12_redact" -> redact)

  val oracle: Map[String, String] = Map(
    "t13_stratified_sample" ->
      """SELECT doc_id, lang, substr(md5('t13:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h8
        |FROM documents
        |WHERE (lang = 'en' AND substr(md5('t13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |   OR (lang <> 'en' AND substr(md5('t13:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
        |ORDER BY doc_id""".stripMargin,
    "t14_bigram_topk" ->
      """WITH w AS (
        |  SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2),
        |b AS (
        |  SELECT lang,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM w),
        |c AS (
        |  SELECT lang, bigram, count(*) AS n FROM b GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, bigram, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
        |  FROM c)
        |SELECT lang, bigram, n, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "t01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t02_token_count" ->
      // CAST ... AS BIGINT: DuckDB integer sum() is HUGEINT (int128) while
      // Spark's is BIGINT — printed values agree but the hash comparator
      // sees different value encodings. floor-rounding as in t03.
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |  floor(avg(len(regexp_split_to_array(trim(text), '\s+'))) * 100 + 0.5) / 100 AS avg_tokens
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t03_quality_score" ->
      // CAST AS DOUBLE, not "* 1.0": a 1.0 literal is DECIMAL in DuckDB
      // and decimal division rounds differently than Spark's doubles.
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  floor(CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / len(text) * 10000 + 0.5) / 10000 AS punct_ratio,
        |  floor(CAST(len(regexp_split_to_array(' ' || text || ' ', '\sthe\s')) - 1 AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) * 10000 + 0.5) / 10000 AS stopword_ratio,
        |  floor(CAST(len(text) - len(regexp_split_to_array(trim(text), '\s+')) + 1 AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+')) * 100 + 0.5) / 100 AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t04_lang_id" ->
      """WITH scored AS (
        |  SELECT lang,
        |    len(regexp_split_to_array(' ' || text || ' ', '\sthe\s')) - 1 AS en_hits,
        |    len(regexp_split_to_array(' ' || text || ' ', '\sder\s')) - 1
        |      + len(regexp_split_to_array(' ' || text || ' ', '\sund\s')) - 1 AS de_hits,
        |    len(regexp_split_to_array(' ' || text || ' ', '\sle\s')) - 1
        |      + len(regexp_split_to_array(' ' || text || ' ', '\set\s')) - 1 AS fr_hits,
        |    len(regexp_split_to_array(' ' || text || ' ', '\sel\s')) - 1
        |      + len(regexp_split_to_array(' ' || text || ' ', '\sy\s')) - 1 AS es_hits
        |  FROM documents),
        |pred AS (
        |  SELECT lang, CASE
        |    WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
        |    WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = en_hits THEN 'en'
        |    WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = de_hits THEN 'de'
        |    WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = fr_hits THEN 'fr'
        |    ELSE 'es' END AS pred_lang
        |  FROM scored)
        |SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t06_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct_tokens,
        |  floor(CAST(len(text) AS DOUBLE)
        |    / (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |       + len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))) * 100 + 0.5) / 100 AS bytes_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t05_extract_regex" ->
      """SELECT doc_id,
        |  coalesce(regexp_extract(text, '(spark\w*)', 1), '') AS first_spark,
        |  len(regexp_split_to_array(' ' || text || ' ', '\sscan\s')) - 1 AS n_scan
        |FROM documents
        |WHERE coalesce(regexp_extract(text, '(spark\w*)', 1), '') <> ''
        |  OR len(regexp_split_to_array(' ' || text || ' ', '\sscan\s')) - 1 > 0
        |ORDER BY doc_id""".stripMargin,
    "t08_repetition_ratio" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |  floor((1.0 - CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+'))) * 10000 + 0.5) / 10000 AS rep_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t09_train_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t10_word_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS ws,
        |    lead(doc_id) OVER win AS next_id,
        |    lead(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) OVER win AS next_ws
        |  FROM documents
        |  WINDOW win AS (PARTITION BY source ORDER BY doc_id))
        |SELECT doc_id, next_id,
        |  floor(CAST(len(list_intersect(ws, next_ws)) AS DOUBLE)
        |    / len(list_distinct(list_concat(ws, next_ws))) * 10000 + 0.5) / 10000 AS jaccard
        |FROM w WHERE next_id IS NOT NULL ORDER BY doc_id""".stripMargin,
    "t11_percentiles" ->
      """SELECT lang,
        |  floor(quantile_cont(n_chars, 0.5) * 100 + 0.5) / 100 AS p50_chars,
        |  floor(quantile_cont(n_chars, 0.9) * 100 + 0.5) / 100 AS p90_chars,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t12_redact" ->
      """SELECT event_id,
        |  len(regexp_extract_all(props, '[0-9]+')) AS n_nums,
        |  md5(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS redacted_md5
        |FROM events ORDER BY event_id""".stripMargin,

    "t15_contamination" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '^\s+|\s+$', '', 'g') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(t, '\s+') AS ws
        |  FROM f WHERE len(regexp_split_to_array(t, '\s+')) >= 13),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(ws) - 11),
        |        i -> array_to_string(ws[i:i+12], ' '))) AS gram
        |    FROM w)),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0)
        |SELECT g.doc_id, count(*) AS n_overlap
        |FROM g JOIN e USING (gram)
        |WHERE g.doc_id % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t16_domain_mix" ->
      """WITH l AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS lang_tokens
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT lang, lang_tokens,
        |    sum(lang_tokens) OVER () AS total_tokens,
        |    count(*) OVER () AS n_langs
        |  FROM l)
        |SELECT lang, lang_tokens,
        |  floor(least(CAST(1.0 AS DOUBLE), (CAST(total_tokens AS DOUBLE) / n_langs)
        |    / CAST(lang_tokens AS DOUBLE)) * 10000 + 0.5) / 10000 AS sample_rate,
        |  CAST(floor(lang_tokens * (floor(least(CAST(1.0 AS DOUBLE),
        |    (CAST(total_tokens AS DOUBLE) / n_langs) / CAST(lang_tokens AS DOUBLE))
        |    * 10000 + 0.5) / 10000)) AS BIGINT) AS expected_tokens
        |FROM t ORDER BY lang""".stripMargin,

    "t19_span_removal" ->
      // same span/window dialect as t17; removal = positions covered by
      // non-canonical duplicated occurrences (canonical = first by
      // (doc_id, pos)); rebuild keeps uncovered 1-based word positions
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '^\s+|\s+$', '', 'g') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, regexp_split_to_array(t, '\s+') AS ws FROM f),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 18),
        |    i -> struct_pack(pos := i,
        |      span := array_to_string(ws[i:i+19], ' ')))) AS s
        |  FROM w WHERE len(ws) >= 20),
        |m AS (
        |  SELECT doc_id, s.pos AS pos,
        |    row_number() OVER (PARTITION BY s.span ORDER BY doc_id, s.pos) AS rn
        |  FROM sp),
        |rem AS (
        |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 20)) AS wpos
        |  FROM m WHERE rn > 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_removed, list(wpos) AS rms
        |  FROM rem GROUP BY 1)
        |SELECT w.doc_id,
        |  len(w.ws) AS n_words,
        |  coalesce(agg.n_removed, 0) AS n_removed_words,
        |  -- outer coalesce: DuckDB's array_to_string([]) is NULL where
        |  -- Spark's concat_ws over an empty array is '' (all-removed docs)
        |  coalesce(array_to_string(
        |    list_transform(
        |      list_filter(range(1, len(w.ws) + 1),
        |        i -> NOT list_contains(coalesce(agg.rms, []), i)),
        |      i -> w.ws[i]), ' '), '') AS clean_text
        |FROM w LEFT JOIN agg USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,
    "t17_dup_spans" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '^\s+|\s+$', '', 'g') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, regexp_split_to_array(t, '\s+') AS ws
        |  FROM f WHERE len(regexp_split_to_array(t, '\s+')) >= 20),
        |sp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) - 18),
        |      i -> array_to_string(ws[i:i+19], ' '))) AS span
        |  FROM w),
        |c AS (SELECT span, count(*) AS n_occ FROM sp GROUP BY 1)
        |SELECT sp.doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
        |  floor(CAST(sum(CASE WHEN c.n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5) / 10000 AS dup_fraction
        |FROM sp JOIN c USING (span)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
