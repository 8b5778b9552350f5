package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables._

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table: token statistics, quality scoring, language-ID
  * heuristic, and document fingerprinting.
  *
  * All operators are per-row projections (no shuffle at all) — they scale
  * embarrassingly: at 100 TB each parquet split maps independently and the
  * expressions stay inside whole-stage codegen (builtin functions + higher-
  * order array lambdas only, no UDFs).
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  /** Token counting: whitespace tokenization, distinct-token counts,
    * type-token ratio, and a BPE-ish subword proxy (alpha runs / digit runs
    * / single other-chars — the usual cheap stand-in for a real tokenizer's
    * token count when budgeting training data). */
  def textTokens(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_types"),
        (size(array_distinct(split(col("text"), " "))) /
          size(split(col("text"), " "))).as("type_token_ratio"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+', 0)"))
          .as("n_subword_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: length checks, mean token length, stopword ratio,
    * long-word ratio — the standard cheap pre-filter signals.
    *
    * Formulated entirely in codegen'd string primitives: higher-order
    * array lambdas (filter/transform) are CodegenFallback in Spark, so a
    * split+filter formulation drops the whole projection out of
    * whole-stage codegen and allocates an array per row. Token count =
    * space count + 1; token-predicate counts = regexp_count over the
    * space-padded text with a lookahead so consecutive matches both
    * count. Semantics identical to the list formulation (empty tokens
    * from doubled spaces match neither predicate), which stays as the
    * oracle. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val nTok = length(col("text")) - length(translate(col("text"), " ", "")) + 1
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stop = regexp_count(padded, lit(" (a|the)(?= )"))
    val longw = regexp_count(padded, lit(" [^ ]{6,}(?= )"))
    load(s, d, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_measured"),
        (length(col("text")) === col("n_chars")).as("n_chars_ok"),
        nTok.as("n_tokens"),
        ((length(col("text")) - nTok + 1) / nTok).as("mean_token_len"),
        (stop / nTok).as("stopword_ratio"),
        (longw / nTok).as("long_word_ratio"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition metrics — the n-gram repetition family of
    * quality rules (most-frequent-word share, most-frequent-2-gram share,
    * duplicate-3-gram fraction): boilerplate and looping-generation
    * detectors that complement [[textQuality]]'s surface ratios.
    *
    * Scale shape: everything is computed PER ROW with higher-order
    * functions — sort the row's gram array, then one sequential fold
    * finds the longest equal run (= the top gram's count). Zero shuffle,
    * zero explode: the corpus-scale alternative (explode grams, groupBy
    * (doc_id, gram)) shuffles the whole gram stream; this plan shuffles
    * nothing at all. The oracle replays relationally (unnest + GROUP BY)
    * — different plan, same integers, and each output frac is one
    * long->double division. */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    // longest equal run in a SORTED array == max multiplicity. The fold
    // state is struct(prev, run, best); arrays here are row-local.
    def maxRun(arr: String) =
      s"""aggregate($arr,
         |  struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best),
         |  (acc, x) -> struct(
         |    x AS prev,
         |    IF(acc.prev <=> x, acc.run + 1, 1L) AS run,
         |    GREATEST(acc.best, IF(acc.prev <=> x, acc.run + 1, 1L)) AS best),
         |  acc -> acc.best)""".stripMargin
    load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // < 3 tokens -> no 3-grams: the fracs would be 0/0. Filter in BOTH
      // engines (the oracle's inner joins would otherwise drop the row
      // while this side emits NULLs — same guard as the jaccard family)
      .filter(size(col("ws")) >= 3)
      .withColumn("g2", expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
      .withColumn("g3", expr(
        "transform(sequence(0, size(ws) - 3), " +
          "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (expr(maxRun("array_sort(ws)")) / size(col("ws"))).as("top_word_frac"),
        (expr(maxRun("array_sort(g2)")) / size(col("g2"))).as("top_gram2_frac"),
        ((size(col("g3")) - size(array_distinct(col("g3")))).cast("long") /
          size(col("g3"))).as("dup_gram3_frac"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: frequency of per-language marker tokens; argmax
    * with a fixed tie-break order. On this synthetic corpus the languages
    * share one vocabulary, so the value of the operator is its deterministic
    * cross-engine semantics, not classifier accuracy. */
  def textLangid(s: SparkSession, d: String): DataFrame = {
    def score(words: Seq[String]) = size(expr(
      s"filter(split(text, ' '), t -> t IN (${words.map("'" + _ + "'").mkString(",")}))"))
    val sEn = score(Seq("the", "a", "fast", "slow"))
    val sEs = score(Seq("data", "query", "table", "row"))
    val sDe = score(Seq("hash", "join", "merge", "sort"))
    val sFr = score(Seq("window", "agg", "group", "order"))
    val sZh = score(Seq("vector", "batch", "stream", "line"))
    load(s, d, "documents")
      .select(
        col("doc_id"), col("lang"),
        sEn.as("s_en"), sEs.as("s_es"), sDe.as("s_de"),
        sFr.as("s_fr"), sZh.as("s_zh"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
             col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
        .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") &&
              col("s_es") >= col("s_zh"), "es")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: content hash of the raw and normalized text.
    * MD5 keeps the oracle cross-engine; the scalable rolling-hash variant
    * lives in [[graft.functions]] (no SQL analog). */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fp"),
        md5(lower(trim(col("text"))).cast("binary")).as("fp_norm"))
      .orderBy("doc_id")

  /** Scalable fingerprint: native rolling-hash expression
    * ([[graft.functions.RollingHash]], codegen'd 61-bit Rabin fingerprint) —
    * cheaper than md5 at 100 TB and usable as a shingle hash. The oracle
    * replays the same polynomial per character with HUGEINT intermediates
    * (the corpus is ASCII, so codepoints == UTF-8 bytes). */
  def textFingerprintRolling(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(
        col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("fp_rolling"),
        graft.functions.RollingHash.rolling_hash(lower(trim(col("text"))))
          .as("fp_rolling_norm"))
      .orderBy("doc_id")

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before a corpus ships. The synthetic corpus contains no PII, so each
    * doc is first DETERMINISTICALLY contaminated in-query (an email and a
    * phone number derived from doc_id), then the scrub kernel redacts by
    * pattern: emails -> <EMAIL>, +d-ddd-dddd phone shapes -> <PHONE>. The
    * kernel is two codegen'd regexp_replace calls (patterns chosen inside
    * the Java-regex/RE2 common subset so the oracle replays them
    * verbatim); redaction counts come from regexp_count on the same
    * patterns. */
  def textPiiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+\\.[A-Za-z]+"
    val phoneRe = "\\+[0-9]-[0-9]{3}-[0-9]{4}"
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    load(s, d, "documents")
      .select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("dirty"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("scrubbed"),
        (regexp_count(col("dirty"), lit(emailRe)) +
          regexp_count(col("dirty"), lit(phoneRe))).as("n_redactions"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: which training documents contain 5-gram
    * overlap with a held-out evaluation shard (here: every 10th doc). The
    * standard pre-training hygiene pass — eval n-grams must not leak into
    * the training corpus.
    *
    * 100 TB shape: the benchmark shard is tiny relative to the corpus
    * (eval suites are MBs, corpora are TBs), so its distinct-gram relation
    * is BROADCAST — the train side is scanned map-side with no shuffle of
    * corpus rows; only the matched (train, bench) gram hits (a vanishing
    * fraction) reach the pair aggregation. Gram identity via the one-pass
    * codegen shingle hasher ([[graft.functions.WordGramHashes]]); the
    * string-gram oracle is equivalent modulo 2^-64 hash collisions, same
    * as the Jaccard family. */
  def textContamination(s: SparkSession, d: String): DataFrame = {
    val grams = load(s, d, "documents")
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordGramHashes.word_gram_hashes(col("text"), 5))).as("h"))
    val bench = grams.filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumnRenamed("doc_id", "bench_id")
    val train = grams.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .withColumnRenamed("doc_id", "train_id")
    train.join(broadcast(bench), "h")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= 3)
      .orderBy("train_id", "bench_id")
  }

  /** Vocabulary induction: the 20 most frequent word 3-grams with a total
    * deterministic order (count desc, then gram). Partial map-side
    * aggregation collapses the gram stream before the single hash shuffle;
    * the top-k is a TakeOrderedAndProject (per-partition bounded heap +
    * driver merge of 20-row partials), never a global sort. */
  def textNgramTopk(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(20)

  /** Token-budget corpus selection: take documents in quality order
    * (score = distinct-token count, tie-break doc_id) until a global token
    * budget is exhausted — the "fill the training mix to N tokens" step.
    *
    * Semantics are the naive global running sum over (score DESC, doc_id)
    * cut at the budget — which is exactly what the oracle runs — but the
    * plan never globally sorts the corpus: per-score token totals (at most
    * one row per distinct score, bounded by max tokens/doc) are rolled up
    * first, and that TINY relation decides each whole score class as
    * fully-in (tokens above + own class fit the budget) or fully-out
    * (tokens above already exceed it). Exactly one class straddles the
    * budget; its within-class cut runs through the two-phase distributed
    * prefix scan ([[graft.operators.Ranks.runningSumByRange]]), so even
    * the degenerate corpus where every document shares one score — the
    * whole corpus IS the boundary class — never funnels through a single
    * task (TextMultimodalSpec pins that case against the naive global
    * window). The per-score prefix sum itself is ALSO a Ranks scan —
    * score is unique after the rollup, so it is a total order — which
    * keeps the opposite degenerate corpus safe too: a continuous score
    * makes the "tiny" per-score relation corpus-sized, and a global
    * window over it would funnel the corpus through one task. No global
    * window remains anywhere in this plan (ProfGlobalWin scans clean). */
  def corpusTokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetSelect(load(s, d, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).as("score")), 10000L)

  /** Budget selection over a `(doc_id, n_tokens, score)` relation — the
    * engine of [[corpusTokenBudget]], split out so the degenerate
    * single-score corpus is testable directly. */
  private[graft] def tokenBudgetSelect(t: DataFrame, budget: Long): DataFrame = {
    val perScore = graft.operators.Ranks.runningSumByRange(
        t.groupBy("score").agg(sum("n_tokens").as("stok")),
        8, Seq(col("score").desc), col("stok"), "cumTo")
      .select(col("score"), col("stok"), (col("cumTo") - col("stok")).as("tokAbove"))
    val classed = t.join(broadcast(perScore), "score")
    val fullIn = classed.filter(col("tokAbove") + col("stok") <= budget)
    val boundary = graft.operators.Ranks.runningSumByRange(
      classed.filter(
        col("tokAbove") < budget && col("tokAbove") + col("stok") > budget),
      8, Seq(col("doc_id")), col("n_tokens"), "__run")
      .filter(col("tokAbove") + col("__run") <= budget)
    fullIn.select("doc_id", "n_tokens", "score")
      .unionByName(boundary.select("doc_id", "n_tokens", "score"))
      .orderBy("doc_id")
  }

  /** BM25 relevance scoring of every document against a fixed query-term
    * set — the retrieval-quality ranking pass a data pipeline runs to
    * select in-domain documents (and the scoring kernel of any
    * lexical-retrieval index).
    *
    * 100 TB shape: the corpus-level statistics (N, total token count, and
    * one document frequency per query term) collapse to a SINGLE row in
    * one partial-aggregated pass, then broadcast back — so scoring is a
    * pure per-row projection over the second scan (tf via codegen'd
    * regexp_count, no token-array allocation), and the only shuffle in
    * the plan is the 20-row TakeOrderedAndProject. Doubles: tf/df/dl are
    * exact integers, the score keeps one ln() per term on identical
    * inputs in both engines, and the result is rounded to 6 decimals
    * (the ANN-score precedent, round 9, carries more ulp headroom than
    * this needs). */
  def textBm25(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "window", "vector", "data")
    val docs = load(s, d, "documents")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val nTok = (length(col("text")) -
      length(translate(col("text"), " ", "")) + 1).cast("long")
    val base = docs.select(
      col("doc_id") +: nTok.as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          regexp_count(padded, lit(s" $t(?= )")).cast("long").as(s"tf_$i")
        }: _*)
    val aggs =
      count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val df = col(s"df_$i").cast("double")
      val n = col("n_docs").cast("double")
      val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) +
          lit(0.75) * col("dl").cast("double") * n /
            col("sum_dl").cast("double")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** TF-IDF cosine retrieval — the vector-space sibling of [[textBm25]]:
    * every document scored by the cosine between its full tf-idf vector
    * and the fixed query-term vector (query weight = idf, tf 1), top-20
    * returned. Unlike BM25's length normalization, cosine divides by the
    * document's TRUE vector norm over its whole vocabulary — so the key
    * exercises the corpus-wide word->idf join BM25 avoids.
    *
    * Determinism: idf quantizes to an e9 long in a MATERIALIZED,
    * dataset-keyed artifact (the [[textUnigramNll]] model contract), so
    * per-word weights are identical doubles in both engines; each doc's
    * norm² and query-dot fold row-locally in WORD order
    * (aggregate(array_sort(...)) vs list_reduce(list(... ORDER BY w)) —
    * same doubles, same order), and the final cosine is one sqrt+divide
    * on identical bits, rounded to 6.
    *
    * 100 TB shape: the only corpus-scale relation on the move is the
    * per-doc (w, tf) stream, already map-side combined; the idf model is
    * vocab-sized (Heaps ~sqrt tokens), its Zipf head (top-1000 by df —
    * the mass concentration) joins BROADCAST so "the" never shuffles,
    * the tail hash-joins; the dot only touches query-term rows; the
    * result is one 20-row TakeOrderedAndProject. */
  /** Shared tf-idf fit behind [[textTfidfCosine]] and [[textKeywords]]:
    * per-(doc, word) tf, document frequencies, the MATERIALIZED
    * e9-quantized idf artifact (dataset-keyed, one fit reused by both
    * keys), and the Zipf head-broadcast/tail-hash resolution of the tf
    * relation against it. Returns (resolved (doc_id, w, tf, idf_e9)
    * rows, the idf relation). */
  private def tfIdfResolved(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val tf = load(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val nd = load(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    val artifact = s"tfidf_idf_${dirKey(d)}"
    val idf = graft.matview.Materializer(s).create(artifact,
      dfreq.crossJoin(broadcast(nd))
        .select(col("w"), col("df"),
          round(log(col("n_docs").cast("double") / col("df").cast("double")) *
            lit(1000000000.0)).cast("long").as("idf_e9")))
    val head = idf.orderBy(col("df").desc, col("w")).limit(1000)
      .select("w", "idf_e9")
    val viaHead = tf.join(broadcast(head), Seq("w"), "left")
    val resolved = viaHead.filter(col("idf_e9").isNotNull)
      .unionByName(viaHead.filter(col("idf_e9").isNull).drop("idf_e9")
        .join(idf.select("w", "idf_e9"), "w"))
    (resolved, idf)
  }

  def textTfidfCosine(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("hash", "join", "window", "vector", "data")
    val (resolved, idf) = tfIdfResolved(s, d)
    // checkpoint: BOTH consumers below (norms over all words, dots over
    // query words) would otherwise re-execute the corpus explode + idf
    // join — measured 12.0s -> 5.4s at sf1. Same two-consumer fan-out
    // rule as dedupCluster's edge relation.
    val weighted = resolved.select(col("doc_id"), col("w"),
      (col("tf").cast("double") *
        (col("idf_e9").cast("double") / lit(1000000000.0))).as("wt"))
      .localCheckpoint()
    val norms = weighted.groupBy("doc_id")
      .agg(expr("aggregate(array_sort(collect_list(struct(w, wt))), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x.wt * x.wt)").as("norm_sq"))
    val qidf = idf.filter(col("w").isin(terms: _*))
      .select(col("w"),
        (col("idf_e9").cast("double") / lit(1000000000.0)).as("qw"))
    val dots = weighted.join(broadcast(qidf), "w")
      .groupBy("doc_id")
      .agg(expr("aggregate(array_sort(collect_list(struct(w, wt, qw))), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x.wt * x.qw)").as("dot"))
    val qnorm = qidf.agg(
      expr("aggregate(array_sort(collect_list(struct(w, qw))), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x.qw * x.qw)").as("qnorm_sq"))
    dots.join(norms, "doc_id")
      .crossJoin(broadcast(qnorm))
      .select(col("doc_id"),
        round(col("dot") / (sqrt(col("norm_sq")) * sqrt(col("qnorm_sq"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(20)
  }

  /** Sliding-window document chunking: 64-token chunks at stride 48 (16
    * tokens of overlap) with per-chunk token offsets — the
    * context-window-packing step between a cleaned corpus and a training
    * run. A chunk starts at every stride multiple below the token count,
    * so short tails are emitted (bounded by `least`), and every token is
    * covered by construction.
    *
    * Pure per-row explode — zero shuffle, scales embarrassingly; the
    * token array is split once per document and sliced per chunk inside
    * the same projection. */
  def textChunk(s: SparkSession, d: String): DataFrame = {
    val C = 64
    val S = 48
    load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $S)")).as("start_token"))
      .select(
        col("doc_id"),
        (col("start_token") / S).cast("int").as("chunk_idx"),
        col("start_token"),
        least(lit(C), size(col("ws")) - col("start_token"))
          .as("n_chunk_tokens"),
        expr(s"concat_ws(' ', slice(ws, start_token + 1, $C))")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** CCNet-style line-level boilerplate removal: segment each document
    * into fixed-width "lines" (W=8 tokens — this corpus has no newlines,
    * so fixed segmentation stands in for the paragraph split), count each
    * line's distinct-document frequency over the WHOLE corpus, drop lines
    * appearing in >= 3 documents (the header/nav/cookie-banner boilerplate
    * of a real crawl), and reassemble the cleaned text in original line
    * order with per-doc attrition stats.
    *
    * 100 TB shape — the CCNet sharded-hash pipeline as keyed exchanges:
    * corpus scan 1 explodes to lines and builds the boilerplate set
    * (groupBy(line) with a partial count-distinct map side — the result
    * is corpus-frequency-skimmed, orders of magnitude smaller than the
    * line stream, so AQE broadcasts the join back at moderate scale);
    * corpus scan 2 re-derives the lines (recompute beats checkpointing —
    * the exploded relation is LARGER than the corpus, so persisting it
    * would write more bytes than the second columnar scan reads), flags
    * them with one left join, and folds per-doc counts + reassembly in a
    * single doc_id aggregation. No per-group windows: reassembly is a
    * sorted-struct array aggregate with O(lines per doc) state, and
    * collect_list's null-skipping gives the kept-only filter for free.
    *
    * Cross-engine determinism: line strings are the join keys (the
    * Jaccard-family precedent — no hash mismatch across engines), kept
    * order is pinned by line_no, and removed_frac is one small-integer
    * division rounded to 9 dp. */
  def textLineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupOf(load(s, d, "documents"))

  /** [[textLineDedup]] over an explicit (doc_id, text) frame — the
    * fixture-testable core, as with the span-coverage family. */
  private[graft] def lineDedupOf(docs: DataFrame): DataFrame = {
    val W = 8
    val K = 3
    def lines = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, size(ws) - 1, $W)")).as("st"))
      .select(col("doc_id"), (col("st") / W).cast("int").as("line_no"),
        expr(s"concat_ws(' ', slice(ws, st + 1, $W))").as("line"))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= K)
      .select(col("line"), lit(true).as("bl"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("bl").isNull, 1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN bl IS NULL THEN struct(line_no, line) END)), " +
          "x -> x.line), ' ')").as("cleaned_text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        round((col("n_lines") - col("n_kept")).cast("double") /
          col("n_lines"), 9).as("removed_frac"),
        col("cleaned_text"))
      .orderBy("doc_id")
  }

  /** Per-document keyword extraction: each document's top-5 terms by
    * TF-IDF — the doc-tagging step (search facets, cluster labels,
    * topic summaries) that every curation pipeline publishes. Weights
    * are exact longs (tf * idf_e9, one ln() per distinct word on
    * identical inputs in both engines), so the ranking needs no float
    * tolerance anywhere; ties break on the term itself.
    *
    * 100 TB shape: the per-(doc, word) tf aggregation is the OUTPUT
    * grain here (unlike the NLL scorers, which only need sums), so its
    * exchange is inherent; the whole tf/idf fit — including the
    * materialized idf artifact and the Zipf head-broadcast/tail-hash
    * resolution — is [[tfIdfResolved]], shared verbatim with
    * [[textTfidfCosine]]; the top-5 cut is a doc_id-keyed window —
    * keyed, never global. */
  def textKeywords(s: SparkSession, d: String): DataFrame = {
    val (resolved, _) = tfIdfResolved(s, d)
    val win = Window.partitionBy("doc_id")
      .orderBy(col("weight_e9").desc, col("w"))
    resolved
      .select(col("doc_id"), col("w"),
        (col("tf") * col("idf_e9")).as("weight_e9"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("w").as("term"),
        col("weight_e9"))
      .orderBy("doc_id", "rank")
  }

  /** Unigram language-model quality scoring: per-document mean negative
    * log-likelihood under an add-1-smoothed unigram model fit on the corpus
    * itself — the perplexity-filter step (CCNet/Gopher style) that ranks
    * documents by how "corpus-typical" their token distribution is.
    *
    * Cross-engine determinism: per-word log-probs are computed ONCE on the
    * vocabulary relation, scaled by 1e9 and rounded to exact longs, so the
    * per-document accumulation is pure integer arithmetic —
    * order-independent, unlike a raw sum(double) over Zipf-sized groups.
    * One ln() per distinct word on identical inputs in both engines.
    *
    * 100 TB shape: the vocabulary grows ~sqrt(tokens) (Heaps), so the
    * token->logprob join is the skew trap — "the" alone is a percent of
    * the corpus. The plan splits it: the top-1000 head of the vocabulary
    * (the entire Zipf mass concentration) joins BROADCAST, so no hot key
    * ever shuffles; only the long tail — whose keys are near-uniform by
    * construction — takes the hash join. Both joins run over the raw
    * token stream (no per-(doc, word) pre-aggregation — see the comment
    * at `tokens`). */
  def textUnigramNll(s: SparkSession, d: String): DataFrame = {
    // raw token stream, not a per-(doc, word) tf pre-aggregation: the
    // score is linear in occurrences (sum tf*lp == sum lp over
    // occurrences), and a (doc_id, w) groupBy gets almost no map-side
    // reduction (docs are partition-local, so the combine output IS the
    // per-doc tf stream) — it shuffles corpus-scale rows for nothing.
    // The w-keyed vocabulary aggregate below collapses to ~|V| rows per
    // partition instead, and scoring folds straight into the doc_id
    // aggregation. Same rewrite as textNbClassifier (sf1: 4.2 -> 2.8s
    // there).
    val tokens = load(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = tokens.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = vocab.agg(sum(col("c")).as("t_tokens"),
      count(lit(1)).as("v_size"))
    // The fitted model is MATERIALIZED (one corpus scan), not left as a
    // lazy subtree: the head/tail consumers below would otherwise each
    // re-derive the full explode+aggregate chain — 8 corpus scans in the
    // unmaterialized plan. This is the honest pipeline shape anyway: the
    // fit pass writes a vocab-sized (~sqrt corpus, Heaps) artifact that
    // every later scoring run reads back. The artifact name is DATASET-
    // keyed: a fixed name would let a later call for a different dataset
    // overwrite the model under an earlier, not-yet-executed DataFrame
    // (the write runs eagerly at construction, like every Materializer
    // key; the scan-back is lazy).
    val artifact = s"unigram_lp_${dirKey(d)}"
    val lp = graft.matview.Materializer(s).create(artifact,
      vocab.crossJoin(broadcast(tot))
        .select(col("w"), col("c"),
          round(log((col("c").cast("double") + lit(1.0)) /
            (col("t_tokens").cast("double") + col("v_size").cast("double"))) *
            lit(1000000000.0)).cast("long").as("lp_e9")))
    val head = lp.orderBy(col("c").desc, col("w")).limit(1000)
      .select("w", "lp_e9")
    val viaHead = tokens.join(broadcast(head), Seq("w"), "left")
    val resolved = viaHead.filter(col("lp_e9").isNotNull)
      .unionByName(viaHead.filter(col("lp_e9").isNull).drop("lp_e9")
        .join(lp.select("w", "lp_e9"), "w"))
    // mean rounded in EXACT integer arithmetic, then ONE IEEE division:
    // round(double, 9) after a double division diverges between engines
    // when the true decimal lands exactly on a half (found by the r14
    // non-ASCII gate run: doc with xent 43026947705 over 10 tokens =
    // 4.3026947705 — Spark's BigDecimal-of-binary saw just-under-half,
    // DuckDB's round saw half). (2a + b) div (2b) is decimal-exact
    // half-up for the positive a = -xent; the final /1e9 is the same
    // double in any engine.
    resolved.groupBy("doc_id")
      .agg(sum(col("lp_e9")).as("xent_e9"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("(-2 * xent_e9 + n_tokens) div (2 * n_tokens)")
          .cast("double") / lit(1000000000.0)).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Trained model-based document classifier — the fastText-analog step
    * of a real pipeline (CCNet's lang-ID filter, GPT-3's quality
    * classifier), as multinomial Naive Bayes fit in-engine: class priors
    * from document counts, per-(lang, word) likelihoods add-1 smoothed
    * over the corpus vocabulary, every document scored against all five
    * classes and argmax'd. On this synthetic corpus the classes share one
    * vocabulary, so (as with [[textLangid]]) the contract is the exact
    * cross-engine training + scoring semantics, not classifier skill.
    *
    * Determinism is the [[textUnigramNll]] contract: each ln() runs once
    * on identical doubles in both engines, quantizes to an e9 long in the
    * MATERIALIZED model artifact, and scoring is pure integer arithmetic.
    * The smoothing floor factors out of the model — log p(w|l) =
    * floor_l + ln(c_lw + 1) with floor_l = -ln(tok_l + V) — so the
    * artifact holds only OBSERVED (lang, word) pairs (no dense V x 5
    * cross join) and each doc's score folds as
    * prior_l + n_tok * floor_l + sum(tf * delta).
    *
    * 100 TB shape: the model is vocabulary-sized (Heaps ~sqrt corpus) x
    * #classes; the token->model join takes the Zipf split from
    * [[textUnigramNll]] — the top-1000-word head (with its <= 5k model
    * rows) joins BROADCAST so no hot word ever shuffles, the near-uniform
    * tail hash-joins — over the RAW token stream (no per-(doc, word) tf
    * pre-aggregation: see the comment at `tokens`). Class-wide scores
    * then fold in ONE doc_id aggregation (conditional sums, no pivot
    * shuffle) against a broadcast 1-row priors relation. */
  def textNbClassifier(s: SparkSession, d: String): DataFrame =
    nbClassifierOf(s, load(s, d, "documents"),
      artifact = s"nb_model_${dirKey(d)}")

  /** [[textNbClassifier]] over an explicit (doc_id, text, lang) frame —
    * the fixture-testable core (the span-coverage / line-dedup pattern):
    * a planted corpus with DISJOINT per-class vocabularies must classify
    * perfectly, which pins "the model actually learns" separately from
    * the cross-engine argmax contract. */
  private[graft] def nbClassifierOf(s: SparkSession, docsIn: DataFrame,
      artifact: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val docs = docsIn
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
    // raw token stream, NOT a per-(doc, word) tf pre-aggregation: scoring
    // is linear in occurrences either way (sum tf*delta == sum delta over
    // occurrences), and the tf groupBy would shuffle the whole token
    // stream by (doc_id, w) before the join — at sf1 that one exchange
    // was the single largest cost in the key (2.4s of 4.2). The token
    // stream instead flows shuffle-free into the broadcast head join and
    // the doc_id aggregation's map-side combine collapses it to 5 longs
    // per doc per partition.
    val tokens = docs.select(col("doc_id"), explode(col("ws")).as("w"))
    // the fitted (class, word) count relation feeds FOUR consumers
    // (vocabulary, per-class totals, the model artifact, the head list);
    // left lazy each would re-run the corpus explode + shuffle. It is
    // vocabulary x #classes sized (Heaps ~sqrt corpus), so pinning it is
    // cheap where recomputing is not — the inverse of the line-dedup
    // trade, and the same call the tfidf key documents. (Measured
    // neutral at sf1 alone — the corpus scans it saves are cheap there —
    // but it is the right shape at scale; the key's measured win, 4.2s
    // -> 2.8s, came from the raw-token-stream scoring above.)
    val cw = docs.select(col("lang"), explode(col("ws")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = cw.groupBy("w").agg(sum("c").as("c_tot"))
    val lt = cw.groupBy("lang").agg(sum("c").as("tok"))
    val dl = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = dl.agg(sum("n_docs").as("nd"))
      .crossJoin(vocab.agg(count(lit(1)).as("v")))
    val model = graft.matview.Materializer(s).create(artifact,
      cw.select(col("lang").as("cls"), col("w"),
        round(log(col("c").cast("double") + lit(1.0)) *
          lit(1000000000.0)).cast("long").as("delta_e9")))
    val pri = dl.join(lt, "lang").crossJoin(broadcast(tot))
      .select(col("lang"),
        round(log(col("n_docs").cast("double") / col("nd").cast("double")) *
          lit(1000000000.0)).cast("long").as("prior_e9"),
        round(-log(col("tok").cast("double") + col("v").cast("double")) *
          lit(1000000000.0)).cast("long").as("floor_e9"))
    val priCols = langs.map(l =>
      max(when(col("lang") === l, col("prior_e9"))).as(s"prior_$l")) ++
      langs.map(l =>
        max(when(col("lang") === l, col("floor_e9"))).as(s"floor_$l"))
    val priRow = pri.agg(priCols.head, priCols.tail: _*)
    val headW = vocab.orderBy(col("c_tot").desc, col("w")).limit(1000)
      .select("w")
    val scored = tokens.join(broadcast(headW), Seq("w"), "left_semi")
      .join(broadcast(model.join(broadcast(headW), Seq("w"), "left_semi")), "w")
      .unionByName(tokens.join(broadcast(headW), Seq("w"), "left_anti")
        .join(model.join(broadcast(headW), Seq("w"), "left_anti"), "w"))
    val dCols = langs.map(l =>
      sum(when(col("cls") === l, col("delta_e9"))
        .otherwise(lit(0L))).as(s"d_$l"))
    val dsum = scored.groupBy("doc_id").agg(dCols.head, dCols.tail: _*)
    val wide = docs.select(col("doc_id"), col("lang"),
        size(col("ws")).cast("long").as("n_tok"))
      .join(dsum, Seq("doc_id"), "left")
      .crossJoin(broadcast(priRow))
    val withScores = langs.foldLeft(wide) { (df, l) =>
      df.withColumn(s"s_$l",
        col(s"prior_$l") + col("n_tok") * col(s"floor_$l") +
          coalesce(col(s"d_$l"), lit(0L)))
    }
    // argmax with the textLangid tie-break: first class in alphabetical
    // order wins ties (>= against every later class). A class ABSENT from
    // the corpus has NULL prior/floor, so its score is NULL — compared
    // raw, every `when` involving it evaluates NULL and is skipped, and
    // the chain falls through to otherwise(zh): a corpus with no zh docs
    // predicted 'zh' for EVERY document (r14 review find, reproduced).
    // Guard the chain only: an absent class scores Long.MinValue (log 0
    // prior — it can never win), while the output s_* columns keep NULL
    // (absent class genuinely has no score). The oracle applies the same
    // COALESCE.
    def g(l: String) = coalesce(col(s"s_$l"), lit(Long.MinValue))
    val predicted = langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), rest) =>
        if (i == langs.size - 1) rest
        else when(langs.drop(i + 1)
          .map(m => g(l) >= g(m)).reduce(_ && _), l)
          .otherwise(rest)
    }
    withScores
      .select(Seq(col("doc_id"), col("lang")) ++
        langs.map(l => col(s"s_$l")) :+ predicted.as("predicted") :+
        (predicted === col("lang")).as("correct"): _*)
      .orderBy("doc_id")
  }

  /** Interpolated bigram LM quality scoring — the context-aware upgrade
    * of [[textUnigramNll]]: per-document mean NLL under a Jelinek–Mercer
    * interpolated bigram model, `p(w2|w1) = 0.5·p_bi + 0.5·p_uni`, both
    * components add-1 smoothed over the corpus vocabulary. Bigram
    * surprise separates boilerplate with plausible word frequencies but
    * improbable word ORDER — exactly what the unigram filter cannot see.
    *
    * Determinism is the [[textUnigramNll]] contract, one level up: the
    * interpolation and the single ln() run on identical doubles in both
    * engines (identical literals, left-associated arithmetic), the
    * per-bigram log-prob quantizes to an e9 long in the MATERIALIZED
    * model artifact, and each doc's score is an exact integer fold over
    * its bigram tf relation. The model covers every corpus bigram by
    * construction (fit and scored on the same corpus; scoring external
    * text would add a backoff floor row).
    *
    * 100 TB shape: distinct bigrams grow far sublinearly vs the corpus
    * (Heaps squared is still tiny next to token volume); the model is a
    * materialized artifact, its Zipf head (top-1000 bigrams — the mass
    * concentration) joins BROADCAST so no hot bigram ever shuffles, the
    * tail hash-joins, and the only corpus-scale relation on the move is
    * the per-doc (w1, w2, tf) stream — pre-aggregated, unlike the
    * unigram key's raw-stream scoring; see the measured rationale at
    * `btf`. */
  def textBigramNll(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // < 2 tokens -> no bigrams; filter in BOTH engines
      .filter(size(col("ws")) >= 2)
    // this key KEEPS its per-(doc, bigram) pre-aggregation where
    // textUnigramNll/textNbClassifier dropped theirs: the bigram builder
    // (explode over a transform lambda) is CodegenFallback — expensive
    // per row — and btf's exchange is REUSED by both scoring consumers
    // below, so the lambda runs once. The raw-stream formulation
    // recomputes it per consumer and measured 3x SLOWER at sf1 (11.8s
    // vs 3.9s) despite moving fewer shuffle bytes.
    val btf = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val bi = btf.groupBy("w1", "w2").agg(sum("tf").as("c_bi"))
    val uni = docs.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("t_tokens"),
      count(lit(1)).as("v_size"))
    val artifact = s"bigram_lp_${dirKey(d)}"
    val model = graft.matview.Materializer(s).create(artifact,
      bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c_bi"),
          round(log(
            (col("c_bi").cast("double") + lit(1.0)) /
              (col("c1").cast("double") + col("v_size").cast("double")) *
              lit(0.5) +
            (col("c2").cast("double") + lit(1.0)) /
              (col("t_tokens").cast("double") + col("v_size").cast("double")) *
              lit(0.5)) * lit(1000000000.0)).cast("long").as("lp_e9")))
    val head = model.orderBy(col("c_bi").desc, col("w1"), col("w2"))
      .limit(1000).select("w1", "w2", "lp_e9")
    val viaHead = btf.join(broadcast(head), Seq("w1", "w2"), "left")
    val resolved = viaHead.filter(col("lp_e9").isNotNull)
      .unionByName(viaHead.filter(col("lp_e9").isNull).drop("lp_e9")
        .join(model.select("w1", "w2", "lp_e9"), Seq("w1", "w2")))
    // integer-exact half-up rounding, then one IEEE division — the
    // textUnigramNll round-boundary contract
    resolved.groupBy("doc_id")
      .agg(sum(col("tf") * col("lp_e9")).as("xent_e9"),
        sum(col("tf")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(-2 * xent_e9 + n_bigrams) div (2 * n_bigrams)")
          .cast("double") / lit(1000000000.0)).as("mean_nll"))
      .orderBy("doc_id")
  }

  /** Importance-resampling weights for domain-targeted data selection —
    * the DSIR recipe (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every document by the
    * log-likelihood ratio between a TARGET domain model (here the
    * `lang = 'en'` slice, standing in for any curated in-domain set) and
    * the PROPOSAL model fit on the whole corpus. Both are Laplace-
    * smoothed unigram models over the SHARED full-corpus vocabulary, so
    * a word the target never saw still scores (smoothed toward the
    * floor) instead of zeroing the document.
    *
    * Determinism is the [[textUnigramNll]] contract: the per-word log
    * RATIO is quantized to an e9 long in the materialized model — the
    * one ln() per engine lands on identical double inputs and the
    * rounding absorbs ulp divergence — so each doc's score is an exact
    * integer fold, order-independent under any partitioning, with one
    * final division. `target_like` (weight > 1 ⟺ the doc is more
    * probable under the target domain) is decided on the LONG, never a
    * double compare. 100 TB shape mirrors the NLL key: the fitted model
    * is a materialized vocab-sized artifact (~sqrt corpus, Heaps),
    * Zipf-head words broadcast (covering almost all token instances),
    * the tail resolves through a hash join, and the corpus never moves
    * except the (doc_id, w, tf) stream. */
  def corpusImportanceWeights(s: SparkSession, d: String): DataFrame =
    importanceWeightsOf(s, load(s, d, "documents"),
      s"dsir_ld_${dirKey(d)}")

  /** The scoring engine over any `(doc_id, lang, text)` relation — split
    * out so the spec can plant a two-domain corpus with a known sign
    * structure. `artifact` keys the materialized model (dataset-keyed by
    * the public entry — the fixed-path clobber hazard). */
  private[graft] def importanceWeightsOf(
      s: SparkSession, docs: DataFrame, artifact: String): DataFrame = {
    val tf = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      // lang is functionally dependent on doc_id — carrying it through
      // the groupBy costs nothing and saves a join back to documents
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("w").agg(
      sum("tf").as("c_all"),
      sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("c_tgt"))
    val tot = vocab.agg(sum(col("c_all")).as("t_all"),
      sum(col("c_tgt")).as("t_tgt"), count(lit(1)).as("v_size"))
    val model = graft.matview.Materializer(s).create(artifact,
      vocab.crossJoin(broadcast(tot))
        .select(col("w"), col("c_all"),
          round((log((col("c_tgt").cast("double") + lit(1.0)) /
              (col("t_tgt").cast("double") + col("v_size").cast("double"))) -
            log((col("c_all").cast("double") + lit(1.0)) /
              (col("t_all").cast("double") + col("v_size").cast("double")))) *
            lit(1000000000.0)).cast("long").as("ld_e9")))
    val head = model.orderBy(col("c_all").desc, col("w")).limit(1000)
      .select("w", "ld_e9")
    val viaHead = tf.join(broadcast(head), Seq("w"), "left")
    val resolved = viaHead.filter(col("ld_e9").isNotNull)
      .unionByName(viaHead.filter(col("ld_e9").isNull).drop("ld_e9")
        .join(model.select("w", "ld_e9"), "w"))
    // integer-exact half-away-from-zero rounding to 6 dp (sign-split:
    // div truncates toward zero in Spark but // floors in DuckDB, so
    // each branch keeps its operands positive), then one IEEE division
    // — the textUnigramNll round-boundary contract
    resolved.groupBy("doc_id")
      .agg(sum(col("tf") * col("ld_e9")).as("lw_e9"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("CASE WHEN lw_e9 >= 0 THEN (2 * lw_e9 + 1000) div 2000 " +
          "ELSE -((-2 * lw_e9 + 1000) div 2000) END").cast("double")
          / lit(1000000.0)).as("log_weight"),
        (col("lw_e9") > 0L).as("target_like"))
      .orderBy("doc_id")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
    * "Weighted random sampling with a reservoir" — public algorithm):
    * the top-K documents by key ln(u)/w with u the doc's deterministic
    * md5 52-bit fraction and w its length weight — the
    * importance-weighted subset selector behind quality-weighted corpus
    * subsampling, where plain Bernoulli sampling (corpus_mix_weights)
    * cannot pin an exact output SIZE and a naive weighted-rank needs a
    * global sort. One pass, keys computed map-side, the top-K cut is
    * TakeOrderedAndProject (per-partition bounded heap + driver merge of
    * K-row partials — no global sort, no window). Determinism: u is the
    * portable md5 fraction (+1 so ln never sees 0), the key is
    * e9-quantized to a long (the NB/IDF trick) so cross-engine ln ulp
    * noise cannot flip ranks, ties break on doc_id. */
  def corpusSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val K = 64
    load(s, d, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("u",
        (md5Bucket(concat(lit("ws:"), col("doc_id").cast("string")), 13)
          .cast("double") + lit(1.0)) / lit(4503599627370496.0))
      .withColumn("k9",
        round(log(col("u")) / col("w").cast("double") * lit(1e9), 0)
          .cast("long"))
      .select(col("doc_id"), col("w"), col("k9"))
      .orderBy(col("k9").desc, col("doc_id").asc)
      .limit(K)
  }

  /** Dataset-mixture balancing: compute per-language sampling weights that
    * hit an equal-share token budget, then apply them with the portable
    * md5-fraction sampler — the "mix the training set to target
    * proportions" step, deterministic and resumable in any engine.
    *
    * weight(lang) = min(1, budget/n_langs/tokens(lang)); a document is
    * kept when its md5 fraction (first 6 hex chars / 16^6) falls under
    * its language's weight. 100 TB shape: the weight relation is one row
    * per language (broadcast); selection is a map-side filter; the only
    * shuffles are the two tiny per-language aggregates. */
  def corpusMixWeights(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents").select(
      col("doc_id"), col("lang"),
      (length(col("text")) - length(translate(col("text"), " ", "")) + 1)
        .cast("long").as("n_tokens"))
    val perLang = docs.groupBy("lang").agg(sum("n_tokens").as("tok"))
    val langs = perLang.agg(count(lit(1)).as("n_langs"))
    val w = perLang.crossJoin(broadcast(langs))
      .select(col("lang"),
        least(lit(1.0), lit(25000.0) / col("n_langs").cast("double") /
          col("tok").cast("double")).as("w"))
    val frac = md5Bucket(col("doc_id"), 6).cast("double") / lit(16777216.0)
    docs.join(broadcast(w), "lang")
      .groupBy("lang")
      .agg(
        sum(col("n_tokens")).as("tok"),
        round(max(col("w")), 9).as("weight"),
        sum(when(frac < col("w"), 1L).otherwise(0L)).as("n_sel"),
        sum(when(frac < col("w"), col("n_tokens")).otherwise(0L))
          .as("tok_sel"))
      .orderBy("lang")
  }

  /** Sequence packing — the "fill fixed-length training sequences" step a
    * pretraining pipeline runs after cleaning: documents in doc_id order
    * are greedily packed into PACK_BUDGET-token bins, and every document
    * gets its bin id and intra-bin offset. The assignment is a pure
    * function of the exclusive token prefix sum, computed with the
    * distributed two-phase scan ([[graft.operators.Ranks
    * .runningSumByRange]] — range partition + local scan + tiny offset
    * join): unlike `corpus_token_budget`, the WHOLE corpus flows through
    * the scan, so this key exercises the prefix primitive at full relation
    * size, and at 100 TB the only data movement is the range exchange.
    * Bin arithmetic stays in exact longs (`div`/`pmod`) — a double
    * division would silently lose exactness once total tokens pass 2^53.
    * Docs may straddle a bin boundary (offset + n_tokens > budget): the
    * standard contiguous-fill approximation whose overflow a downstream
    * splitter trims. */
  def corpusPackSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 2048L
    val t = load(s, d, "documents").select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.operators.Ranks.runningSumByRange(
        t, 8, Seq(col("doc_id")), col("n_tokens"), "__run")
      .withColumn("__excl", col("__run") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__excl div $budget").as("pack_id"),
        pmod(col("__excl"), lit(budget)).as("pack_pos"))
      .orderBy("doc_id")
  }

  /** BPE vocabulary training IN-ENGINE — the tokenizer-training step of
    * a pretraining pipeline, run where the data already lives instead of
    * exporting word counts to a separate trainer. Classic byte-pair
    * encoding over the corpus word-frequency table: start from character
    * symbols, repeatedly (6 rounds) find the adjacent symbol pair with
    * the highest corpus-weighted count (ties: smallest pair in Spark's
    * binary UTF-8 string order — a total order, so training is
    * deterministic) and merge its non-overlapping occurrences greedily
    * left-to-right. Emits the merge table — the trained artifact a
    * tokenizer loads.
    *
    * Scale shape: BPE only ever needs the WORD-TYPE table `(w, freq,
    * syms)`, which is Heaps-law small relative to the corpus. Building
    * it is the one corpus-scale job (scan, explode, keyed count, split
    * into character symbols); the table is collected once and the
    * rounds run on the driver over it, so training costs no Spark job
    * per round and is bounded by the vocabulary size, not the corpus
    * size. The contract is that the type table fits on the driver — the
    * same one HF tokenizers and sentencepiece make when they train from
    * in-memory word counts (Sennrich et al., ACL 2016). The greedy fold
    * ([[bpeMerge]]: merge when the output's last symbol is `a` and the
    * next is `b`) handles overlapping runs exactly like the sequential
    * algorithm: in a run of k identical symbols it merges floor(k/2)
    * leftmost pairs. The oracle replays every round with the run-parity
    * window formulation, which is provably the same greedy choice set. */
  def textBpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d, rounds = 6)._2
      .toDF("round", "merge_left", "merge_right", "merged", "support")
      .orderBy("round")
  }

  /** The shared trainer behind [[textBpeTrain]] (merge table) and
    * [[corpusBpeEncode]] (final symbol table): returns the post-training
    * word types `(w, freq, syms)` and the merge sequence. */
  private def bpeTrain(s: SparkSession, d: String, rounds: Int)
      : (Seq[(String, Long, Array[String])],
         Seq[(Int, String, String, String, Long)]) = {
    var words = load(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), split(col("w"), "").as("syms"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toArray))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      for ((_, freq, syms) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairs(p) = pairs.getOrElse(p, 0L) + freq
      }
      // a corpus can run out of adjacent pairs before `rounds` (every
      // word fully merged, or all words single-symbol): training stops.
      // The oracle suppresses the same rounds via WHERE EXISTS over its
      // argmax CTE, and the symbol state is stable under a no-op round,
      // so engine and replay stay aligned.
      if (pairs.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = pairs.minBy { case ((l, r), c) => (-c, l, r) }(
          Ordering.Tuple3(Ordering.Long, sparkStringOrder, sparkStringOrder))
        merges += ((k, a, b, a + b, cnt))
        words = words.map { case (w, freq, syms) =>
          (w, freq, bpeMerge(syms, a, b)) }
      }
      k += 1
    }
    (words, merges.result())
  }

  /** Strings in Spark's `ORDER BY` order: unsigned UTF-8 bytes. It
    * differs from UTF-16 `String.compareTo` once a comparison puts a
    * character in U+E000..U+FFFF against a supplementary one. The BPE
    * argmax breaks ties in this order, as the oracle's `ORDER BY` does. */
  private val sparkStringOrder: Ordering[String] = (x, y) =>
    UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))

  /** One BPE merge of the pair (`a`, `b`) over a word's symbols: a
    * left-to-right fold that replaces the output's last symbol with
    * `a + b` when that symbol is `a` and the next input symbol is `b`.
    * A merged symbol never equals `a`, so in a run of k identical
    * symbols the fold merges the floor(k/2) leftmost pairs. */
  private[graft] def bpeMerge(syms: Array[String], a: String, b: String)
      : Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    for (x <- syms) {
      if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
      else out += x
    }
    out.toArray
  }

  /** BPE ENCODING — the apply half of the tokenizer loop: run the
    * trained merge table over the corpus and report per document its
    * word/char counts, post-BPE token count, and chars-per-token
    * compression. Because BPE operates on word TYPES, the trainer's
    * final driver-side type table gives each word its |symbols|, and
    * encoding is a broadcast join from each document's words to that
    * word -> |symbols| table (Heaps-law small, the same fits-on-the-
    * driver contract as training) — the corpus-scale side never
    * shuffles for the lookup, and per-doc totals are one keyed
    * aggregate. The compression ratio is a single long/long IEEE
    * division. */
  def corpusBpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (words, _) = bpeTrain(s, d, rounds = 6)
    val sizes = words.map { case (w, _, syms) => (w, syms.length.toLong) }
      .toDF("w", "n_bpe")
    load(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(sizes), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_bpe")).as("n_tokens_bpe"))
      .withColumn("compression",
        round(col("n_chars").cast("double") /
          col("n_tokens_bpe").cast("double"), 9))
      .orderBy("doc_id")
  }

  /** Filter attrition waterfall — the report every production cleaning
    * pipeline publishes before training: rules applied in a FIXED order,
    * and per rule the docs entering, dropped, surviving, and the token
    * mass removed. Attribution is first-failing-rule (a doc failing
    * rules 2 and 3 counts against 2 only), which is what makes the
    * waterfall rows sum: docs_out of rule k == docs_in of rule k+1.
    *
    * Rules (each a per-row codegen predicate — ONE corpus scan computes
    * every doc's failing stage; no rule re-scans): 1) under 20 tokens,
    * 2) language outside the known set, 3) within-doc repetition
    * (distinct/total token ratio < 0.35 — the Gopher-family signal),
    * 4) over 90 tokens (truncation cap). The per-stage tally is <= 5
    * rows; the running "dropped before" arithmetic is a tiny triangle
    * join over it, so at 100 TB the only corpus-wide work is the one
    * scan + one 5-row aggregate. The ratio is a single long/long IEEE
    * division compared to a literal — bit-identical in any engine. */
  def corpusFilterWaterfall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = load(s, d, "documents").select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        size(array_distinct(split(col("text"), " ")))
          .cast("long").as("n_uniq"))
      .select(col("n_tok"),
        when(col("n_tok") < 20, 1)
          .when(!col("lang").isin("en", "de", "es", "fr"), 2)
          .when(col("n_uniq").cast("double") / col("n_tok").cast("double")
            < lit(0.35), 3)
          .when(col("n_tok") > 90, 4)
          .otherwise(5).as("stage"))
    val tally = staged.groupBy("stage")
      .agg(count(lit(1)).as("n"), sum("n_tok").as("tok"))
    val rules = Seq((1, "1_min_tokens"), (2, "2_langid"),
      (3, "3_repetition"), (4, "4_too_long"), (5, "5_kept"))
      .toDF("stage", "rule")
    // 5 rows, THREE consumers (both sides of the triangle self-join +
    // the total) — checkpoint so the corpus scan behind the tally runs
    // exactly once
    val t = broadcast(rules).join(tally, Seq("stage"), "left")
      .select(col("stage"), col("rule"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("tok"), lit(0L)).as("tok"))
      .localCheckpoint()
    val w = t.as("a").join(t.as("b"), col("b.stage") < col("a.stage"),
        "left")
      .groupBy(col("a.stage").as("stage"), col("a.rule").as("rule"),
        col("a.n").as("n"), col("a.tok").as("tok"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("dropped_before"))
    // every doc lands in exactly one stage, so the corpus total is the
    // tally's sum — deriving it from `staged` would re-scan and
    // re-tokenize the whole corpus for a number the 5-row relation
    // already holds (the oracle computes it the same way: SUM(n) OVER ())
    val total = t.agg(sum(col("n")).as("__total"))
    w.crossJoin(broadcast(total))
      .select(col("rule"),
        (col("__total") - col("dropped_before")).as("docs_in"),
        when(col("stage") === 5, lit(0L)).otherwise(col("n"))
          .as("docs_dropped"),
        when(col("stage") === 5, col("n"))
          .otherwise(col("__total") - col("dropped_before") - col("n"))
          .as("docs_out"),
        when(col("stage") === 5, lit(0L)).otherwise(col("tok"))
          .as("tokens_dropped"))
      .orderBy("rule")
  }

  /** Deterministic training shuffle + shard assignment — the data-ORDER
    * step between curation and the training loop: every epoch needs the
    * corpus in a fresh pseudo-random order, split into balanced shards
    * that workers read independently, and the order must be reproducible
    * (resume after preemption, replay a loss spike, audit which shard a
    * doc landed in) without materializing any RNG state. The shuffle key
    * is the engine-portable 52-bit md5 prefix of "epoch:doc_id"
    * ([[graft.Tables.md5Bucket]]) — salting by epoch makes the orders
    * statistically independent across epochs while any engine, or a
    * rerun years later, reproduces them bit-identically.
    *
    * Scale shape: the global position within an epoch is the two-phase
    * range rank ([[graft.operators.Ranks.rowNumberByRange]] — range
    * exchange + narrow local scan + tiny offset join; NO single-partition
    * window anywhere), and shard/slot are pure integer arithmetic on the
    * position (round-robin `pos % NSHARDS`, so shard sizes differ by at
    * most one). The per-epoch offset is a 2-row aggregate broadcast
    * back. At 100 TB the only corpus-wide movement is the range
    * exchange the rank already pays. */
  def corpusShuffleShard(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val salted = load(s, d, "documents")
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("epoch"))
      .withColumn("h", md5Bucket(
        concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")), 13).cast("long"))
    val ranked = graft.operators.Ranks.rowNumberByRange(
      salted, 8, Seq(col("epoch"), col("h"), col("doc_id")), "__pos")
    // per-epoch exclusive base (2 rows, broadcast): epoch blocks are
    // contiguous in the global order because epoch leads the sort
    val base = ranked.groupBy(col("epoch").as("__e"))
      .agg(min(col("__pos")).as("__base"))
    ranked.join(broadcast(base), col("epoch") === col("__e"))
      .select(col("epoch"), col("doc_id"),
        ((col("__pos") - col("__base")) % nShards).cast("long").as("shard"),
        expr(s"(__pos - __base) div $nShards").cast("long")
          .as("pos_in_shard"))
      .orderBy("epoch", "shard", "pos_in_shard")
  }

  /** Provenance profile — the per-source curation sweep a pipeline runs
    * before deciding what to keep: per `source`, document and token
    * volume, language spread, exact-duplicate rate (1 - distinct content
    * fingerprints / docs — fingerprints only need to be injective WITHIN
    * each engine, so no cross-engine hash equality is required), and the
    * source's share of corpus tokens. One scan: every metric is a plain
    * or distinct aggregate keyed on source (the distinct expansions
    * shuffle (source, lang) / (source, fp) pairs, never text), and the
    * corpus total joins back as a broadcast 1-row scalar. Ratios are
    * single long->double divisions, replayed exactly by the oracle. */
  def corpusSourceProfile(s: SparkSession, d: String): DataFrame = {
    val t = load(s, d, "documents").select(
      col("source"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      md5(col("text").cast("binary")).as("fp"))
    val per = t.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("fp")).as("n_distinct_content"))
    val tot = t.agg(sum("n_tokens").as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("n_langs"),
        ((col("n_docs") - col("n_distinct_content")) / col("n_docs"))
          .as("dup_rate"),
        (col("tokens") / col("__tot")).as("token_share"))
      .orderBy("source")
  }

  /** Deterministic train/val/test assignment — the split step every
    * training pipeline runs, made engine-portable and resumable: the
    * first md5 byte of doc_id buckets each doc into 256 slots, cut
    * 240/8/8 (93.75% / 3.125% / 3.125%). Any engine — or a later rerun
    * over 100 TB — reproduces the same membership, and membership never
    * shifts when the corpus grows (a doc's bucket depends only on its
    * id). Emits the stratification report (per split x lang: docs,
    * tokens) a pipeline checks before training; the assignment itself is
    * a pure per-row projection ahead of one keyed aggregate. */
  def corpusSplitAssign(s: SparkSession, d: String): DataFrame = {
    val nTok = (length(col("text")) -
      length(translate(col("text"), " ", "")) + 1).cast("long")
    val b = graft.Tables.md5Bucket(col("doc_id"), 2).cast("int")
    load(s, d, "documents")
      .select(col("lang"), nTok.as("n_tokens"),
        when(b < 240, "train").when(b < 248, "val")
          .otherwise("test").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("split", "lang")
  }

  /** Tokenizer-vocabulary coverage — the check a pipeline runs before
    * committing to a vocabulary: build the top-V corpus vocabulary
    * (V=64, ranked count desc then word asc — a deterministic boundary
    * both engines cut identically) and report each language's
    * out-of-vocabulary rate. Exactness: counts are longs; oov_rate is
    * ONE long->double division per language — never a mean of per-doc
    * doubles. Shape: the vocab is a TakeOrdered top-V (only V rows ever
    * leave the executors) re-entering the plan as a broadcast left side;
    * the corpus-scale token stream shuffles once on word (vocab count)
    * and once on lang (coverage aggregate) — tokens, never documents. */
  def textVocabCoverage(s: SparkSession, d: String): DataFrame = {
    val words = load(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(64)
    words.join(broadcast(vocab.select(col("w"), lit(1L).as("in_v"))),
        Seq("w"), "left")
      .groupBy("lang").agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_v"), lit(0L))).as("n_in_vocab"))
      .withColumn("oov_rate",
        (col("n_tokens") - col("n_in_vocab")) / col("n_tokens"))
      .orderBy("lang")
  }

  /** Winnowing fingerprint selection — the Schleimer–Wilkerson–Aiken 2003
    * local fingerprinting scheme (MOSS): hash every stride-1 W-token gram,
    * then in every window of V consecutive gram hashes keep the RIGHTMOST
    * minimal hash. The guarantees that make it the standard sparse
    * fingerprint: any shared run of W + V - 1 tokens contributes at least
    * one MATCHING selected fingerprint in both documents (coverage), and
    * expected density is 2/(V+1) of the gram stream — most fingerprints
    * are discarded while exact detection of long shared runs survives.
    *
    * Scale shape: selection is computed PER ROW over the row-local gram
    * array — zero shuffle (the only exchange is the output sort), scales
    * embarrassingly. The gram hash is the engine-portable 48-bit md5
    * prefix (the [[graft.Tables.md5Bucket]] contract): winnowing selection
    * depends on hash ORDER, not just equality, so an oracle that cannot
    * reproduce the hash values would have nothing to check; a production
    * swap to the native one-pass kernel
    * ([[graft.functions.WordGramHashes]]) changes only the hash
    * expression. `fp_checksum` (sum of the selected hash values, exact
    * long) pins the exact selected set, not just its size. */
  def textWinnowing(s: SparkSession, d: String): DataFrame = {
    val W = 8 // gram width (tokens)
    val V = 4 // winnowing window (grams)
    load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // < W+V-1 tokens -> no full winnowing window; filter in BOTH engines
      .filter(size(col("ws")) >= W + V - 1)
      .withColumn("hs", expr(
        s"""transform(sequence(0, size(ws) - $W),
           |  i -> cast(conv(substring(md5(cast(
           |         array_join(slice(ws, i + 1, $W), ' ') as binary)),
           |       1, 12), 16, 10) as bigint))""".stripMargin))
      // rightmost minimal hash per window: position of the min in the
      // REVERSED window turns "first occurrence" into "rightmost"
      .withColumn("sel", expr(
        s"""array_distinct(transform(sequence(0, size(hs) - $V),
           |  s -> s + $V - array_position(
           |         reverse(slice(hs, s + 1, $V)),
           |         array_min(slice(hs, s + 1, $V)))))""".stripMargin))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_selected"),
        (size(col("sel")) / (size(col("hs")) - lit(V - 1))).as("density"),
        expr("aggregate(sel, cast(0 as bigint), " +
          "(a, p) -> a + element_at(hs, cast(p as int) + 1))")
          .as("fp_checksum"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head / middle / tail terciles by unigram-LM
    * negative log-likelihood — head is the most corpus-typical text, tail
    * the candidate discard; the tercile boundary is what the curation
    * policy keys on. The LM is [[textUnigramNll]]'s add-1 model; each
    * doc's score is the exact integer `(-xent_e9) div n_tokens` (both
    * operands positive, so Spark's truncating `div` and DuckDB's flooring
    * `//` agree), making the ordering and the boundary cut integer-exact
    * in any engine.
    *
    * 100 TB shape: the boundaries are found WITHOUT sorting the corpus.
    * The per-(lang, score) rollup (at most one row per distinct score)
    * flows through the distributed prefix scan
    * ([[graft.operators.Ranks.runningSumByRange]] on (lang, score) — a
    * total order after the rollup), per-language offsets come from an
    * n_langs-row triangle join, and the two tercile boundaries per
    * language BROADCAST back, so bucket assignment is a map-side
    * projection. No global window anywhere (the [[corpusTokenBudget]]
    * contract); the model fit is the materialized vocab-sized artifact
    * with Zipf-head broadcast + tail hash join of the NLL key. */
  def textPerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val tf = load(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("w").agg(sum("tf").as("c"))
    val tot = vocab.agg(sum(col("c")).as("t_tokens"),
      count(lit(1)).as("v_size"))
    // same materialized-model shape as textUnigramNll, distinct artifact
    // name (dataset-keyed; the NLL key's artifact may coexist)
    val artifact = s"ppl_lp_${dirKey(d)}"
    val lp = graft.matview.Materializer(s).create(artifact,
      vocab.crossJoin(broadcast(tot))
        .select(col("w"), col("c"),
          round(log((col("c").cast("double") + lit(1.0)) /
            (col("t_tokens").cast("double") + col("v_size").cast("double"))) *
            lit(1000000000.0)).cast("long").as("lp_e9")))
    val head = lp.orderBy(col("c").desc, col("w")).limit(1000)
      .select("w", "lp_e9")
    val viaHead = tf.join(broadcast(head), Seq("w"), "left")
    val resolved = viaHead.filter(col("lp_e9").isNotNull)
      .unionByName(viaHead.filter(col("lp_e9").isNull).drop("lp_e9")
        .join(lp.select("w", "lp_e9"), "w"))
    val doc = resolved.groupBy("doc_id", "lang")
      .agg(sum(col("tf") * col("lp_e9")).as("xent_e9"),
        sum(col("tf")).as("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(-xent_e9) div n_tokens").as("score_e9"))
    val sc = doc.groupBy("lang", "score_e9").agg(count(lit(1)).as("c"))
    val run = graft.operators.Ranks.runningSumByRange(
      sc, 8, Seq(col("lang"), col("score_e9")), col("c"), "__cum")
    val lt = sc.groupBy("lang").agg(sum(col("c")).as("n"))
    val ltB = lt.select(col("lang").as("lang_b"), col("n").as("n_b"))
    val pre = lt.join(ltB, col("lang_b") < col("lang"), "left")
      .groupBy("lang", "n")
      .agg(coalesce(sum(col("n_b")), lit(0L)).as("off"))
    val bounds = run.join(broadcast(pre), "lang")
      .withColumn("lcum", col("__cum") - col("off"))
      .groupBy("lang").agg(
        min(when(col("lcum") >= expr("(n + 2) div 3"), col("score_e9")))
          .as("b33"),
        min(when(col("lcum") >= expr("(2 * n + 2) div 3"), col("score_e9")))
          .as("b66"))
    doc.join(broadcast(bounds), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("score_e9").cast("double") / lit(1000000000.0), 9)
          .as("mean_nll"),
        when(col("score_e9") <= col("b33"), "head")
          .when(col("score_e9") <= col("b66"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  val entries: Map[String, Q] = Map(
    "text_winnowing"        -> (textWinnowing _),
    "text_perplexity_buckets" -> (textPerplexityBuckets _),
    "corpus_source_profile" -> (corpusSourceProfile _),
    "text_vocab_coverage"   -> (textVocabCoverage _),
    "text_repetition"       -> (textRepetition _),
    "corpus_split_assign"   -> (corpusSplitAssign _),
    "corpus_pack_sequences" -> (corpusPackSequences _),
    "corpus_shuffle_shard"  -> (corpusShuffleShard _),
    "corpus_filter_waterfall" -> (corpusFilterWaterfall _),
    "text_bpe_train"        -> (textBpeTrain _),
    "corpus_bpe_encode"     -> (corpusBpeEncode _),
    "corpus_mix_weights" -> (corpusMixWeights _),
    "corpus_sample_weighted" -> (corpusSampleWeighted _),
    "text_unigram_nll" -> (textUnigramNll _),
    "text_bigram_nll"  -> (textBigramNll _),
    "corpus_importance_weights" -> (corpusImportanceWeights _),
    "text_bm25"        -> (textBm25 _),
    "text_tfidf_cosine" -> (textTfidfCosine _),
    "text_chunk"       -> (textChunk _),
    "text_line_dedup"  -> (textLineDedup _),
    "text_nb_classifier" -> (textNbClassifier _),
    "text_keywords"    -> (textKeywords _),
    "text_contamination" -> (textContamination _),
    "text_ngram_topk"  -> (textNgramTopk _),
    "corpus_token_budget" -> (corpusTokenBudget _),
    "text_pii_scrub"   -> (textPiiScrub _),
    "text_tokens"      -> (textTokens _),
    "text_fingerprint_rolling" -> (textFingerprintRolling _),
    "text_quality"     -> (textQuality _),
    "text_langid"      -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
  )

  /** Program-generated BPE oracle: round k's greedy left-to-right merge
    * is replayed with the run-parity window formulation — among each
    * word's consecutive runs of matching positions, keep the odd ones
    * (1st, 3rd, ...), which is exactly the greedy non-overlapping choice
    * set; the argmax tie order (cnt DESC, l, r) matches the engine's. */
  /** Encoding oracle: the same generated rounds rebuild w6, then each
    * document's words join the trained word -> |symbols| table. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val (base, steps) = bpeOracleParts(rounds)
    s"""WITH $base,
       |$steps,
       |sizes AS MATERIALIZED (SELECT w, len(syms)::BIGINT AS n_bpe FROM w$rounds),
       |dw AS (SELECT doc_id, w FROM (SELECT doc_id,
       |      unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(len(w))::BIGINT AS n_chars,
       |  SUM(n_bpe)::BIGINT AS n_tokens_bpe,
       |  round(SUM(len(w))::DOUBLE / SUM(n_bpe)::DOUBLE, 9)
       |    AS compression
       |FROM dw JOIN sizes USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String = {
    val (base, steps) = bpeOracleParts(rounds)
    val out = (1 to rounds).map { k =>
      // WHERE EXISTS: a round whose pair table is empty emits nothing,
      // matching the engine's early training stop on a degenerate corpus
      s"""SELECT $k AS round, (SELECT l FROM b$k) AS merge_left,
         |  (SELECT r FROM b$k) AS merge_right,
         |  (SELECT l || r FROM b$k) AS merged,
         |  (SELECT cnt FROM b$k) AS support
         |WHERE EXISTS (SELECT 1 FROM b$k)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $base,\n$steps\n$out\nORDER BY round"
  }

  private def bpeOracleParts(rounds: Int): (String, String) = {
    val base =
      """w0 AS MATERIALIZED (
        |  SELECT w, freq,
        |    list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))
        |      AS syms
        |  FROM (SELECT w, COUNT(*)::BIGINT AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w
        |              FROM documents)
        |        WHERE len(w) > 0 GROUP BY w))""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT syms[i] AS l, syms[i + 1] AS r,
         |    SUM(freq)::BIGINT AS cnt
         |  FROM w${k - 1}, unnest(range(1, len(syms))) t(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r
         |  LIMIT 1),
         |e$k AS MATERIALIZED (SELECT w, freq, syms, i,
         |    COALESCE(i < len(syms) AND syms[i] = (SELECT l FROM b$k)
         |      AND syms[i + 1] = (SELECT r FROM b$k), false) AS m
         |  FROM w${k - 1}, unnest(range(1, len(syms) + 1)) t(i)),
         |g$k AS MATERIALIZED (SELECT *, CASE WHEN m THEN
         |      i - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY i)
         |    END AS grp
         |  FROM e$k),
         |k$k AS MATERIALIZED (SELECT *, m AND (ROW_NUMBER() OVER
         |      (PARTITION BY w, grp ORDER BY i) % 2 = 1) AS keep
         |  FROM g$k),
         |s$k AS MATERIALIZED (SELECT w, freq, i,
         |    CASE WHEN keep THEN syms[i] || syms[i + 1]
         |         ELSE syms[i] END AS sym,
         |    COALESCE(LAG(keep) OVER (PARTITION BY w ORDER BY i), false)
         |      AS prev_keep
         |  FROM k$k),
         |w$k AS MATERIALIZED (SELECT w, freq, list(sym ORDER BY i) AS syms
         |  FROM s$k WHERE NOT prev_keep GROUP BY w, freq)""".stripMargin
    }.mkString(",\n")
    (base, steps)
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> bpeOracleSql(6),
    "corpus_bpe_encode" -> bpeEncodeOracleSql(6),

    // the epoch-salted 52-bit md5-prefix shuffle key is replayed
    // verbatim; ROW_NUMBER per epoch over (hash, doc_id) is the same
    // total order the two-phase range rank computes
    "corpus_shuffle_shard" ->
      """WITH e AS (SELECT doc_id, epoch
        |           FROM documents CROSS JOIN (VALUES (0), (1)) AS t(epoch)),
        |h AS (SELECT epoch, doc_id,
        |        CAST(('0x' || substr(md5(epoch::VARCHAR || ':' ||
        |          doc_id::VARCHAR), 1, 13)) AS BIGINT) AS hv FROM e),
        |r AS (SELECT epoch, doc_id, ROW_NUMBER() OVER (PARTITION BY epoch
        |        ORDER BY hv, doc_id) AS pos FROM h)
        |SELECT epoch, doc_id,
        |  ((pos - 1) % 8)::BIGINT AS shard,
        |  ((pos - 1) // 8)::BIGINT AS pos_in_shard
        |FROM r ORDER BY epoch, shard, pos_in_shard""".stripMargin,

    // first-failing-rule staging in the same CASE order; the repetition
    // ratio is one long/long IEEE division in both engines
    "corpus_filter_waterfall" ->
      """WITH s AS (SELECT CASE
        |    WHEN len(string_split(text, ' ')) < 20 THEN 1
        |    WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 2
        |    WHEN len(list_distinct(string_split(text, ' '))) * 1.0 /
        |         len(string_split(text, ' ')) < 0.35 THEN 3
        |    WHEN len(string_split(text, ' ')) > 90 THEN 4
        |    ELSE 5 END AS stage,
        |    len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |tally AS (SELECT stage, COUNT(*)::BIGINT AS n,
        |            SUM(n_tok)::BIGINT AS tok FROM s GROUP BY 1),
        |rules AS (SELECT * FROM (VALUES (1, '1_min_tokens'),
        |            (2, '2_langid'), (3, '3_repetition'),
        |            (4, '4_too_long'), (5, '5_kept')) AS v(stage, rule)),
        |t AS (SELECT r.stage, r.rule, COALESCE(n, 0)::BIGINT AS n,
        |        COALESCE(tok, 0)::BIGINT AS tok
        |      FROM rules r LEFT JOIN tally USING (stage)),
        |w AS (SELECT stage, rule, n, tok,
        |        COALESCE(SUM(n) OVER (ORDER BY stage
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |          0)::BIGINT AS dropped_before,
        |        SUM(n) OVER ()::BIGINT AS total
        |      FROM t)
        |SELECT rule,
        |  (total - dropped_before)::BIGINT AS docs_in,
        |  (CASE WHEN stage = 5 THEN 0 ELSE n END)::BIGINT AS docs_dropped,
        |  (CASE WHEN stage = 5 THEN n
        |        ELSE total - dropped_before - n END)::BIGINT AS docs_out,
        |  (CASE WHEN stage = 5 THEN 0 ELSE tok END)::BIGINT
        |    AS tokens_dropped
        |FROM w ORDER BY rule""".stripMargin,

    // the 48-bit md5-prefix gram hash is replayed verbatim, so min/argmin
    // selection is value-exact; list_distinct reorders but only the size
    // and the order-independent checksum are emitted
    "text_winnowing" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 11),
        |h AS (SELECT doc_id, list_transform(range(0, len(ws) - 7),
        |        i -> ('0x' || substr(md5(
        |               array_to_string(ws[i+1:i+8], ' ')), 1, 12))::BIGINT)
        |        AS hs FROM w),
        |s AS (SELECT doc_id, hs,
        |        list_distinct(list_transform(range(0, len(hs) - 3),
        |          s -> s + 4 - list_position(list_reverse(hs[s+1:s+4]),
        |                                     list_min(hs[s+1:s+4]))))
        |        AS sel FROM h)
        |SELECT doc_id, len(hs)::BIGINT AS n_grams,
        |  len(sel)::BIGINT AS n_selected,
        |  len(sel) / (len(hs) - 3) AS density,
        |  list_sum(list_transform(sel, p -> hs[p+1]))::BIGINT
        |    AS fp_checksum
        |FROM s ORDER BY doc_id""".stripMargin,
    // same add-1 model as text_unigram_nll; score and tercile cuts are
    // exact integer arithmetic ((-xent) // n, ceil via (n+2)//3), so the
    // bucket boundary is bit-identical; window over the per-(lang, score)
    // rollup replays the distributed prefix scan
    "text_perplexity_buckets" ->
      """WITH tok AS (SELECT doc_id, lang,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |tf AS (SELECT doc_id, lang, w, count(*)::BIGINT AS tf
        |       FROM tok GROUP BY 1, 2, 3),
        |v AS (SELECT w, sum(tf)::BIGINT AS c FROM tf GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS t_tokens,
        |          count(*)::BIGINT AS v_size FROM v),
        |lp AS (SELECT w, round(ln((c::DOUBLE + 1.0) /
        |         (t_tokens::DOUBLE + v_size::DOUBLE)) *
        |         1000000000.0)::BIGINT AS lp_e9
        |       FROM v CROSS JOIN tot),
        |doc AS (SELECT doc_id, lang, sum(tf)::BIGINT AS n_tokens,
        |          ((-sum(tf * lp_e9)) // sum(tf))::BIGINT AS score_e9
        |        FROM tf JOIN lp USING (w) GROUP BY 1, 2),
        |sc AS (SELECT lang, score_e9, count(*)::BIGINT AS c
        |       FROM doc GROUP BY 1, 2),
        |cum AS (SELECT lang, score_e9,
        |          sum(c) OVER (PARTITION BY lang
        |            ORDER BY score_e9)::BIGINT AS lcum
        |        FROM sc),
        |n AS (SELECT lang, count(*)::BIGINT AS n FROM doc GROUP BY 1),
        |b AS (SELECT lang,
        |        min(CASE WHEN lcum >= (n + 2) // 3
        |              THEN score_e9 END) AS b33,
        |        min(CASE WHEN lcum >= (2 * n + 2) // 3
        |              THEN score_e9 END) AS b66
        |      FROM cum JOIN n USING (lang) GROUP BY lang)
        |SELECT doc_id, lang, n_tokens,
        |  round(score_e9::DOUBLE / 1000000000.0, 9) AS mean_nll,
        |  CASE WHEN score_e9 <= b33 THEN 'head'
        |       WHEN score_e9 <= b66 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM doc JOIN b USING (lang) ORDER BY doc_id""".stripMargin,
    // same md5-byte bucket replay as sample_hash_portable; token counts
    // via the length-difference formula both engines share
    "corpus_split_assign" ->
      """WITH t AS (SELECT lang,
        |  (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
        |    AS n_tokens,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
        |    AS INTEGER) AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 240 THEN 'train'
        |            WHEN b < 248 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS tokens
        |FROM t GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    // the Spark side folds each row's SORTED gram array (zero shuffle);
    // the oracle counts the same multiplicities relationally — identical
    // integers, one BIGINT/BIGINT->double division per frac
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
        |wc AS (SELECT doc_id, SUM(c)::BIGINT AS n, MAX(c) AS mx
        |       FROM (SELECT doc_id, t, COUNT(*)::BIGINT AS c
        |             FROM tok GROUP BY 1, 2) GROUP BY 1),
        |g2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
        |       FROM w, unnest(range(1, len(ws))) AS r(i)),
        |g2c AS (SELECT doc_id, SUM(c)::BIGINT AS n2, MAX(c) AS mx2
        |        FROM (SELECT doc_id, g, COUNT(*)::BIGINT AS c
        |              FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |       FROM w, unnest(range(1, len(ws) - 1)) AS r(i)),
        |g3c AS (SELECT doc_id, COUNT(*)::BIGINT AS n3,
        |          COUNT(DISTINCT g)::BIGINT AS nd3 FROM g3 GROUP BY 1)
        |SELECT wc.doc_id, wc.n AS n_tokens,
        |  mx / wc.n AS top_word_frac,
        |  mx2 / n2 AS top_gram2_frac,
        |  (n3 - nd3) / n3 AS dup_gram3_frac
        |FROM wc JOIN g2c USING (doc_id) JOIN g3c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // same deterministic top-64 boundary (count desc, word asc); the sum
    // needs the explicit BIGINT cast (DuckDB SUM(int) is HUGEINT)
    "text_vocab_coverage" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |v AS (SELECT w FROM (SELECT w, COUNT(*) AS cnt FROM w GROUP BY 1)
        |      ORDER BY cnt DESC, w LIMIT 64)
        |SELECT lang, COUNT(*)::BIGINT AS n_tokens,
        |  SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_in_vocab,
        |  (COUNT(*)::BIGINT
        |     - SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)::BIGINT)
        |    / COUNT(*)::BIGINT AS oov_rate
        |FROM w LEFT JOIN v USING (w)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // fingerprint distinctness is engine-local (md5 injective on texts in
    // both engines), ratios are the same single float divisions
    "corpus_source_profile" ->
      """WITH t AS (SELECT source, lang,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  md5(text) AS fp FROM documents),
        |tot AS (SELECT SUM(n_tokens)::BIGINT AS tot FROM t),
        |p AS (SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  SUM(n_tokens)::BIGINT AS tokens,
        |  COUNT(DISTINCT lang)::BIGINT AS n_langs,
        |  COUNT(DISTINCT fp)::BIGINT AS nd
        |  FROM t GROUP BY 1)
        |SELECT source, n_docs, tokens, n_langs,
        |  (n_docs - nd) / n_docs AS dup_rate,
        |  tokens / tot AS token_share
        |FROM p CROSS JOIN tot ORDER BY source""".stripMargin,
    // the packing is a pure function of the exclusive token prefix sum in
    // doc_id order — DuckDB replays it with a window cumsum and the same
    // exact integer div/mod
    "corpus_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS excl
        |  FROM t)
        |SELECT doc_id, n_tokens, excl // 2048 AS pack_id,
        |       excl % 2048 AS pack_pos
        |FROM c ORDER BY doc_id""".stripMargin,
    // the exponential-sort key replayed: same md5 52-bit fraction (+1),
    // same ln/divide/scale expression tree, same e9 quantization and
    // (k9, doc_id) top-K order
    "corpus_sample_weighted" ->
      """WITH k AS (SELECT doc_id, n_chars::BIGINT AS w,
        |    (CAST(('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 13))
        |       AS BIGINT) + 1.0) / 4503599627370496.0 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, w,
        |  CAST(round(ln(u) / CAST(w AS DOUBLE) * 1e9, 0) AS BIGINT) AS k9
        |FROM k ORDER BY k9 DESC, doc_id LIMIT 64""".stripMargin,
    // same weight formula (left-assoc divisions, same literals), same
    // md5-fraction sampler as sample_hash_portable
    "corpus_mix_weights" ->
      """WITH t AS (SELECT doc_id, lang,
        |  (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tokens
        |  FROM documents),
        |pl AS (SELECT lang, sum(n_tokens)::BIGINT AS tok FROM t GROUP BY 1),
        |nl AS (SELECT count(*)::BIGINT AS n_langs FROM pl),
        |w AS (SELECT lang,
        |  least(1.0, 25000.0 / n_langs::DOUBLE / tok::DOUBLE) AS w
        |  FROM pl CROSS JOIN nl),
        |sel AS (SELECT t.lang, t.n_tokens, w.w,
        |  (('0x' || substr(md5(t.doc_id::VARCHAR), 1, 6))::INTEGER::DOUBLE
        |    / 16777216.0) < w.w AS keep
        |  FROM t JOIN w USING (lang))
        |SELECT lang, sum(n_tokens)::BIGINT AS tok, round(max(w), 9) AS weight,
        |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sel,
        |  sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS tok_sel
        |FROM sel GROUP BY lang ORDER BY lang""".stripMargin,
    // the head-broadcast/tail-shuffle split is plan-level only — the
    // oracle's single join produces the identical integer accumulation
    "text_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |v AS (SELECT w, sum(tf)::BIGINT AS c FROM tf GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS t_tokens, count(*)::BIGINT AS v_size FROM v),
        |lp AS (SELECT w, round(ln((c::DOUBLE + 1.0) /
        |         (t_tokens::DOUBLE + v_size::DOUBLE)) * 1000000000.0)::BIGINT AS lp_e9
        |       FROM v CROSS JOIN tot)
        |-- integer-exact half-up mean, then one IEEE division (the r14
        |-- round-boundary contract: round(double, 9) diverged on an
        |-- exact decimal half)
        |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
        |  ((-2 * sum(tf * lp_e9) + sum(tf)) // (2 * sum(tf)))::DOUBLE
        |    / 1000000000.0 AS mean_nll
        |FROM tf JOIN lp USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the head-broadcast/tail-shuffle split is plan-level only; the
    // oracle's single bigram-model join accumulates the same integers
    // (interpolation + ln on identical doubles, e9-quantized)
    "text_bigram_nll" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
        |       FROM w, unnest(range(0, len(ws) - 1)) AS r(i)),
        |btf AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS tf
        |        FROM bg GROUP BY 1, 2, 3),
        |bi AS (SELECT w1, w2, sum(tf)::BIGINT AS c_bi
        |       FROM btf GROUP BY 1, 2),
        |uni AS (SELECT w, count(*)::BIGINT AS c
        |        FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS t_tokens,
        |          count(*)::BIGINT AS v_size FROM uni),
        |lp AS (SELECT w1, w2, round(ln(
        |         (c_bi::DOUBLE + 1.0) /
        |           (c1.c::DOUBLE + v_size::DOUBLE) * 0.5 +
        |         (c2.c::DOUBLE + 1.0) /
        |           (t_tokens::DOUBLE + v_size::DOUBLE) * 0.5) *
        |         1000000000.0)::BIGINT AS lp_e9
        |       FROM bi JOIN uni c1 ON bi.w1 = c1.w
        |         JOIN uni c2 ON bi.w2 = c2.w CROSS JOIN tot)
        |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
        |  ((-2 * sum(tf * lp_e9) + sum(tf)) // (2 * sum(tf)))::DOUBLE
        |    / 1000000000.0 AS mean_nll
        |FROM btf JOIN lp USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // two Laplace models over the shared vocabulary; the per-word log
    // RATIO quantizes to an e9 long (two ln() calls on identical double
    // inputs — the rounding absorbs their combined ulp divergence, the
    // text_unigram_nll contract), so the per-doc fold is exact integer
    // arithmetic and target_like is decided on the long
    "corpus_importance_weights" ->
      """WITH tok AS (SELECT doc_id, lang,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |tf AS (SELECT doc_id, lang, w, count(*)::BIGINT AS tf
        |       FROM tok GROUP BY 1, 2, 3),
        |v AS (SELECT w, sum(tf)::BIGINT AS c_all,
        |        sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END)::BIGINT
        |          AS c_tgt
        |      FROM tf GROUP BY 1),
        |tot AS (SELECT sum(c_all)::BIGINT AS t_all,
        |          sum(c_tgt)::BIGINT AS t_tgt,
        |          count(*)::BIGINT AS v_size FROM v),
        |ld AS (SELECT w, round((ln((c_tgt::DOUBLE + 1.0) /
        |           (t_tgt::DOUBLE + v_size::DOUBLE)) -
        |         ln((c_all::DOUBLE + 1.0) /
        |           (t_all::DOUBLE + v_size::DOUBLE))) *
        |         1000000000.0)::BIGINT AS ld_e9
        |       FROM v CROSS JOIN tot)
        |-- sign-split integer-exact half-away rounding to 6 dp (// floors,
        |-- so each branch keeps operands positive), then one IEEE division
        |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
        |  (CASE WHEN sum(tf * ld_e9) >= 0
        |     THEN (2 * sum(tf * ld_e9) + 1000) // 2000
        |     ELSE -((-2 * sum(tf * ld_e9) + 1000) // 2000) END)::DOUBLE
        |    / 1000000.0 AS log_weight,
        |  sum(tf * ld_e9) > 0 AS target_like
        |FROM tf JOIN ld USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same stats, same formula with identical literal constants and
    // left-associated arithmetic, so every double matches bitwise up to
    // the per-term ln() (one call on identical inputs; round 6 absorbs
    // any ulp divergence)
    // idf quantized to e9 longs exactly as Spark's materialized model;
    // norm²/dot/query-norm fold in word order via list_reduce — the
    // same doubles in the same order as aggregate(array_sort(...))
    "text_tfidf_cosine" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*)::BIGINT AS tf
        |       FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT w, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
        |idf AS (SELECT w,
        |          CAST(round(ln(n_docs::DOUBLE / df::DOUBLE)
        |            * 1000000000.0) AS BIGINT) AS idf_e9
        |        FROM dfreq CROSS JOIN nd),
        |wt AS (SELECT doc_id, w,
        |         tf::DOUBLE * (idf_e9::DOUBLE / 1000000000.0) AS wt
        |       FROM tf JOIN idf USING (w)),
        |nrm AS (SELECT doc_id, list_reduce(list_prepend(0.0::DOUBLE,
        |          list(wt ORDER BY w)), (a, x) -> a + x * x) AS norm_sq
        |        FROM wt GROUP BY 1),
        |qi AS (SELECT w, idf_e9::DOUBLE / 1000000000.0 AS qw FROM idf
        |       WHERE w IN ('hash', 'join', 'window', 'vector', 'data')),
        |dt AS (SELECT doc_id, list_reduce(list_prepend(0.0::DOUBLE,
        |         list(wt * qw ORDER BY w)), (a, x) -> a + x) AS dot
        |       FROM wt JOIN qi USING (w) GROUP BY 1),
        |qn AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |         list(qw ORDER BY w)), (a, x) -> a + x * x) AS qnorm_sq
        |       FROM qi)
        |SELECT doc_id,
        |  round(dot / (sqrt(norm_sq) * sqrt(qnorm_sq)), 6) AS cosine
        |FROM dt JOIN nrm USING (doc_id) CROSS JOIN qn
        |ORDER BY cosine DESC, doc_id LIMIT 20""".stripMargin,
    "text_bm25" ->
      """WITH t AS (SELECT doc_id,
        |  (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS dl,
        |  len(list_filter(string_split(text, ' '), w -> w = 'hash'))::BIGINT AS tf_0,
        |  len(list_filter(string_split(text, ' '), w -> w = 'join'))::BIGINT AS tf_1,
        |  len(list_filter(string_split(text, ' '), w -> w = 'window'))::BIGINT AS tf_2,
        |  len(list_filter(string_split(text, ' '), w -> w = 'vector'))::BIGINT AS tf_3,
        |  len(list_filter(string_split(text, ' '), w -> w = 'data'))::BIGINT AS tf_4
        |  FROM documents),
        |s AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
        |  sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_0,
        |  sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_1,
        |  sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_2,
        |  sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_3,
        |  sum(CASE WHEN tf_4 > 0 THEN 1 ELSE 0 END)::BIGINT AS df_4
        |  FROM t)
        |SELECT doc_id, round(
        |  ln(1.0 + (n_docs::DOUBLE - df_0::DOUBLE + 0.5) / (df_0::DOUBLE + 0.5)) * (tf_0::DOUBLE * 2.2) / (tf_0::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))
        |+ ln(1.0 + (n_docs::DOUBLE - df_1::DOUBLE + 0.5) / (df_1::DOUBLE + 0.5)) * (tf_1::DOUBLE * 2.2) / (tf_1::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))
        |+ ln(1.0 + (n_docs::DOUBLE - df_2::DOUBLE + 0.5) / (df_2::DOUBLE + 0.5)) * (tf_2::DOUBLE * 2.2) / (tf_2::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))
        |+ ln(1.0 + (n_docs::DOUBLE - df_3::DOUBLE + 0.5) / (df_3::DOUBLE + 0.5)) * (tf_3::DOUBLE * 2.2) / (tf_3::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))
        |+ ln(1.0 + (n_docs::DOUBLE - df_4::DOUBLE + 0.5) / (df_4::DOUBLE + 0.5)) * (tf_4::DOUBLE * 2.2) / (tf_4::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE * n_docs::DOUBLE / sum_dl::DOUBLE))
        |, 6) AS bm25
        |FROM t CROSS JOIN s
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,
    // chunk starts = stride multiples below the token count; slices are
    // 1-based inclusive in DuckDB vs (start, length) in Spark — both
    // truncate at the array end
    "text_chunk" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, st FROM w, unnest(range(0, len(ws), 48)) AS t(st))
        |SELECT doc_id,
        |  (st // 48)::INTEGER AS chunk_idx,
        |  st::INTEGER AS start_token,
        |  least(64, len(ws) - st)::INTEGER AS n_chunk_tokens,
        |  array_to_string(ws[st + 1 : st + 64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // string grams instead of gram hashes — equivalent modulo 2^-64
    // collisions (the Jaccard-family precedent)
    "text_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT DISTINCT doc_id,
        |        ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |        ws[i+3] || ' ' || ws[i+4] AS gram
        |      FROM w, unnest(range(1, len(ws) - 3)) AS t(i)),
        |b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 10 <> 0)
        |SELECT train_id, bench_id, count(*) AS shared_grams
        |FROM tr JOIN b USING (gram)
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY train_id, bench_id""".stripMargin,
    "text_ngram_topk" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM w, unnest(range(1, len(ws) - 1)) AS t(i))
        |SELECT gram, count(*) AS cnt FROM g GROUP BY gram
        |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,
    // the naive global running sum the scale-safe two-pass plan reproduces
    "corpus_token_budget" ->
      """WITH t AS (SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS score
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens)
        |        OVER (ORDER BY score DESC, doc_id) AS cum FROM t)
        |SELECT doc_id, n_tokens, score FROM c WHERE cum <= 10000
        |ORDER BY doc_id""".stripMargin,
    // same contamination, same patterns, same replacement order
    "text_pii_scrub" ->
      """WITH dirty AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or +1-555-' ||
        |  lpad((doc_id % 10000)::VARCHAR, 4, '0') AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |regexp_replace(
        |  regexp_replace(dirty, '[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z]+',
        |    '<EMAIL>', 'g'),
        |  '\+[0-9]-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed,
        |CAST(len(regexp_extract_all(dirty,
        |    '[A-Za-z0-9._]+@[A-Za-z0-9.]+\.[A-Za-z]+', 0)) +
        |  len(regexp_extract_all(dirty, '\+[0-9]-[0-9]{3}-[0-9]{4}', 0))
        |  AS INTEGER) AS n_redactions
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |len(list_distinct(string_split(text, ' '))) * 1.0 /
        |  len(string_split(text, ' ')) AS type_token_ratio,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+', 0)) AS INTEGER)
        |  AS n_subword_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |CAST(length(text) AS INTEGER) AS n_chars_measured,
        |length(text) = n_chars AS n_chars_ok,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |(length(text) - len(string_split(text, ' ')) + 1) * 1.0 /
        |  len(string_split(text, ' ')) AS mean_token_len,
        |len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the'))) * 1.0 /
        |  len(string_split(text, ' ')) AS stopword_ratio,
        |len(list_filter(string_split(text, ' '), t -> length(t) > 5)) * 1.0 /
        |  len(string_split(text, ' ')) AS long_word_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH s AS (SELECT doc_id, lang,
        |CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','fast','slow'))) AS INTEGER) AS s_en,
        |CAST(len(list_filter(string_split(text,' '), t -> t IN ('data','query','table','row'))) AS INTEGER) AS s_es,
        |CAST(len(list_filter(string_split(text,' '), t -> t IN ('hash','join','merge','sort'))) AS INTEGER) AS s_de,
        |CAST(len(list_filter(string_split(text,' '), t -> t IN ('window','agg','group','order'))) AS INTEGER) AS s_fr,
        |CAST(len(list_filter(string_split(text,' '), t -> t IN ('vector','batch','stream','line'))) AS INTEGER) AS s_zh
        |FROM documents)
        |SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
        |CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |     WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |     WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |     WHEN s_fr >= s_zh THEN 'fr'
        |     ELSE 'zh' END AS predicted
        |FROM s ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, md5(lower(trim(text))) AS fp_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exact-long weights (tf * round(1e9*ln(N/df))) make the ranking
    // tolerance-free; ties break on the term itself in both engines
    "text_keywords" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |dfr AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |idf AS (SELECT w,
        |    round(ln(nd.n_docs::DOUBLE / dfr.df::DOUBLE)
        |      * 1000000000.0)::BIGINT AS idf_e9
        |  FROM dfr, nd),
        |wt AS (SELECT tf.doc_id, tf.w, tf.tf * idf.idf_e9 AS weight_e9
        |  FROM tf JOIN idf USING (w)),
        |r AS (SELECT doc_id, w, weight_e9,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY weight_e9 DESC, w) AS rank FROM wt)
        |SELECT doc_id, rank::INTEGER AS rank, w AS term, weight_e9
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    // replays train + score with the same e9-quantized log arithmetic:
    // delta = ln(c+1), floor = -ln(tok_l + V), prior = ln(docs_l / docs);
    // argmax is the alphabetical >=-chain (first class wins ties)
    "text_nb_classifier" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS w FROM d),
        |tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |cw AS (SELECT lang, w, count(*)::BIGINT AS c
        |       FROM (SELECT d.lang, unnest(d.ws) AS w FROM d) GROUP BY 1, 2),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM t),
        |lt AS (SELECT lang, sum(c)::BIGINT AS tok FROM cw GROUP BY 1),
        |dl AS (SELECT lang, count(*)::BIGINT AS n_docs FROM d GROUP BY 1),
        |tot AS (SELECT sum(n_docs)::BIGINT AS nd FROM dl),
        |pri AS (SELECT dl.lang,
        |          round(ln(dl.n_docs::DOUBLE / tot.nd::DOUBLE)
        |            * 1000000000.0)::BIGINT AS prior_e9,
        |          round(-ln(lt.tok::DOUBLE + vocab.v::DOUBLE)
        |            * 1000000000.0)::BIGINT AS floor_e9
        |        FROM dl, lt, tot, vocab WHERE dl.lang = lt.lang),
        |model AS (SELECT lang AS cls, w,
        |            round(ln(c::DOUBLE + 1.0) * 1000000000.0)::BIGINT
        |              AS delta_e9 FROM cw),
        |ds AS (SELECT tf.doc_id, m.cls,
        |         sum(tf.tf * m.delta_e9)::BIGINT AS dsum
        |       FROM tf JOIN model m ON tf.w = m.w GROUP BY 1, 2),
        |sc AS (SELECT dn.doc_id, dn.lang, p.lang AS cls,
        |         p.prior_e9 + dn.n_tok * p.floor_e9
        |           + coalesce(ds.dsum, 0) AS score_e9
        |       FROM (SELECT doc_id, lang, len(ws)::BIGINT AS n_tok FROM d) dn
        |       CROSS JOIN pri p
        |       LEFT JOIN ds ON ds.doc_id = dn.doc_id AND ds.cls = p.lang),
        |wide AS (SELECT doc_id, lang,
        |    max(CASE WHEN cls = 'de' THEN score_e9 END) AS s_de,
        |    max(CASE WHEN cls = 'en' THEN score_e9 END) AS s_en,
        |    max(CASE WHEN cls = 'es' THEN score_e9 END) AS s_es,
        |    max(CASE WHEN cls = 'fr' THEN score_e9 END) AS s_fr,
        |    max(CASE WHEN cls = 'zh' THEN score_e9 END) AS s_zh
        |  FROM sc GROUP BY 1, 2),
        |-- absent classes (NULL score) argmax as -2^63 so they can never
        |-- win; the raw s_* stay NULL (the engine's coalesce-guarded chain)
        |gw AS (SELECT *,
        |    coalesce(s_de, -9223372036854775808) AS g_de,
        |    coalesce(s_en, -9223372036854775808) AS g_en,
        |    coalesce(s_es, -9223372036854775808) AS g_es,
        |    coalesce(s_fr, -9223372036854775808) AS g_fr,
        |    coalesce(s_zh, -9223372036854775808) AS g_zh
        |  FROM wide)
        |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN g_de >= g_en AND g_de >= g_es AND g_de >= g_fr
        |         AND g_de >= g_zh THEN 'de'
        |       WHEN g_en >= g_es AND g_en >= g_fr AND g_en >= g_zh THEN 'en'
        |       WHEN g_es >= g_fr AND g_es >= g_zh THEN 'es'
        |       WHEN g_fr >= g_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted,
        |  (CASE WHEN g_de >= g_en AND g_de >= g_es AND g_de >= g_fr
        |         AND g_de >= g_zh THEN 'de'
        |       WHEN g_en >= g_es AND g_en >= g_fr AND g_en >= g_zh THEN 'en'
        |       WHEN g_es >= g_fr AND g_es >= g_zh THEN 'es'
        |       WHEN g_fr >= g_zh THEN 'fr'
        |       ELSE 'zh' END) = lang AS correct
        |FROM gw ORDER BY doc_id""".stripMargin,
    // line strings as join keys, not hashes — the Jaccard-family
    // precedent; slice/range bounds replay Spark's sequence/slice exactly
    "text_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, (st // 8)::INTEGER AS line_no,
        |        array_to_string(ws[st + 1 : st + 8], ' ') AS line
        |      FROM w, unnest(range(0, len(ws), 8)) AS t(st)),
        |b AS (SELECT line FROM l GROUP BY line
        |      HAVING count(DISTINCT doc_id) >= 3),
        |f AS (SELECT l.doc_id, l.line_no, l.line,
        |        b.line IS NOT NULL AS bl
        |      FROM l LEFT JOIN b ON l.line = b.line)
        |SELECT doc_id,
        |  count(*)::BIGINT AS n_lines,
        |  count(CASE WHEN NOT bl THEN 1 END)::BIGINT AS n_kept,
        |  round((count(*) - count(CASE WHEN NOT bl THEN 1 END))::DOUBLE
        |    / count(*), 9) AS removed_frac,
        |  coalesce(string_agg(CASE WHEN NOT bl THEN line END, ' '
        |    ORDER BY line_no), '') AS cleaned_text
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // 61-bit Rabin fingerprint, h = (h*257 + byte + 1) mod 2^61-1,
    // replayed per UTF-8 BYTE with HUGEINT intermediates — the engine
    // kernel hashes UTF8String bytes, so since r14 the oracle derives
    // the byte list arithmetically from code points (the XxhashReplaySql
    // derivation) instead of assuming an ASCII corpus where codepoint ==
    // byte. RollingHashSpec pins the engine's byte-level semantics;
    // the DuckDB expression is validated against a python reference on
    // accented/CJK/astral strings.
    "text_fingerprint_rolling" ->
      s"""SELECT doc_id,
        |CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |  list_prepend(0::HUGEINT,
        |    ${XxhashReplaySql.utf8BytesHugeint("text")}),
        |  (acc, c) -> (acc * 257 + c + 1) % 2305843009213693951) END::BIGINT
        |  AS fp_rolling,
        |CASE WHEN length(trim(text)) = 0 THEN 0 ELSE list_reduce(
        |  list_prepend(0::HUGEINT,
        |    ${XxhashReplaySql.utf8BytesHugeint("lower(trim(text))")}),
        |  (acc, c) -> (acc * 257 + c + 1) % 2305843009213693951) END::BIGINT
        |  AS fp_rolling_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
