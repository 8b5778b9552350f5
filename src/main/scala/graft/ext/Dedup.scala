package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Deduplication operators over the `documents` table: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup (the last
  * over `embeddings`).
  *
  * Scale design (100 TB):
  *   - exact dedup is a hash shuffle on the content fingerprint — never on
  *     the raw text;
  *   - the exact-Jaccard operator generates candidates through an inverted
  *     index (explode shingles, self-join on shingle) — no cross join;
  *   - MinHash/LSH bounds candidate generation to band-bucket collisions:
  *     the shuffle key is (band, bandHash), so work scales with the number
  *     of near-duplicate clusters, not with |docs|²;
  *   - SimHash bands its 64-bit signature into 8 chunks (pigeonhole: any
  *     pair within Hamming distance 7 shares a chunk), then verifies exact
  *     Hamming on candidates only.
  *
  * All hashing is deterministic: xxhash64 (Spark builtin, codegen'd) plus a
  * SplitMix64-style finalizer implemented as column expressions (public
  * algorithm: Steele et al., "Fast Splittable Pseudorandom Number
  * Generators", OOPSLA 2014).
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  private val JACCARD_THRESHOLD = 0.8
  private val NUM_HASHES = 64
  // 16 bands x 4 rows. Candidate probability 1 - (1 - j^4)^16:
  // ~ 1 - 3.9e-8 at j = 0.9, ~ 1 - 2.2e-4 at j = 0.8 — the LSH keys
  // VERIFY candidates at 0.8, so pairs in [0.8, 0.9) ride a 2.2e-4/pair
  // deterministic miss chance the exact-Jaccard oracle cannot see at
  // fixture scale (zero observed misses in every gated corpus; a
  // banding-replay oracle like dedup_embedding_cosine's would close the
  // gap exactly and is the recorded follow-up).
  private val BANDS = 16
  private val ROWS_PER_BAND = NUM_HASHES / BANDS

  import graft.functions.Mix64.mix64

  private val GOLDEN = 0x9E3779B97F4A7C15L

  /** Word 3-gram shingle hashes as a long-format (doc_id, h) relation,
    * NOT deduplicated: every consumer aggregates by doc_id with
    * duplicate-insensitive functions (min, collect_set), so the dedup
    * shuffle a distinct() would cost is pure overhead. The explode keeps
    * shingling partition-local; the 8-byte hash replaces the ~20-byte
    * gram string as the shuffle payload.
    *
    * Hashing is the native one-pass [[graft.functions.WordGramHashes]]
    * kernel (split + per-word xxhash64 + window combine in codegen, no
    * gram-string allocation): 5.5x faster than the split/transform/concat
    * column form at the 10x corpus (ProfMinhash: stream 2.04s -> 0.37s,
    * full LSH 4.9s -> 2.6s), and result-identical for every consumer —
    * word tuples and joined gram strings are in bijection, and Jaccard /
    * MinHash / prefix filtering need only a consistent shingle hash. */
  private[graft] def rawShingleHashes(s: SparkSession, d: String): DataFrame =
    rawShingleHashesOf(load(s, d, "documents"))

  /** The same shingle projection over any `(doc_id, text)` relation — the
    * ONE place the gram width and hash kernel live, so the batch dedups,
    * the streaming filter, and the spec cross-checks can never drift onto
    * inconsistent shingles. */
  private[graft] def rawShingleHashesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      graft.functions.WordGramHashes.word_gram_hashes(col("text"), 3)).as("h"))

  /** Exact dedup: hash-groupBy on content, keep the lowest doc_id.
    * (assignment-5.sql:55 DISTINCT generalized to content identity.) */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")
      .orderBy("keeper_id")

  /** Normalization-aware exact dedup: case-fold + strip punctuation
    * BEFORE fingerprinting, so trivially-reformatted copies ("Hello,
    * World!" vs "hello world") collapse into one group — the first
    * normalization pass of every corpus-cleaning recipe, and still one
    * hash shuffle on the 16-byte fingerprint, never the text. */
  def dedupNormalized(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .groupBy(md5(lower(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))
        .cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")
      .orderBy("keeper_id")

  /** Exact n-gram Jaccard near-dup pairs via inverted-index candidate
    * generation: |intersection| from a self-join on shingle, set sizes from
    * a per-doc count; j = ix / (|a| + |b| - ix) in exact integer division.
    *
    * The join key is the shingle's xxhash64, not the string: an 8-byte
    * shuffle payload instead of ~20-byte grams (64-bit collisions are
    * negligible at any realistic shingle count, and the minhash path
    * already identifies shingles by this hash). */
  /** The registered plan is the PPJoin-filtered prefix join at every
    * corpus size — r3's cost-based crossover (inverted below 20k docs,
    * plain prefix above) is obsolete: with the per-doc set built in ONE
    * shuffle and the length + positional filters pruning candidates
    * inside the join condition, the filtered plan beats the inverted
    * self-join at all three measured scales (ProfJac: 0.96→0.53s at
    * sf0.01, 1.80→1.39s at sf0.1, 9.0→3.7s at the 10x corpus). */
  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    dedupNgramJaccardPrefix(s, d)

  /** Inverted-index baseline (kept for the cross-variant equivalence
    * spec): full self-join on shingle hashes. Distinct runs on the
    * (doc_id, hash) pairs — an 8-byte payload and a codegen'd
    * HashAggregate; the self-join reuses the distinct exchange on both
    * sides. Quadratic in hot-shingle document frequency, which is why
    * the prefix plan overtakes it as the corpus grows. */
  private[graft] def dedupNgramJaccardInverted(
      s: SparkSession, d: String): DataFrame = {
    val g = rawShingleHashes(s, d)
      .select(col("doc_id"), col("h").as("gram")).distinct()
    val n = g.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val inter = g.as("ga").join(g.as("gb"),
        col("ga.gram") === col("gb.gram") &&
        col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("a"), col("gb.doc_id").as("b"))
      .agg(count(lit(1)).as("ix"))
    inter
      .join(n.as("na"), col("a") === col("na.doc_id"))
      .join(n.as("nb"), col("b") === col("nb.doc_id"))
      .select(col("a"), col("b"),
        (col("ix") / (col("na.cnt") + col("nb.cnt") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_THRESHOLD)
      .orderBy("a", "b")
  }

  /** Prefix filtering (Bayardo et al., WWW 2007) with PPJoin's length and
    * positional filters (Xiao et al., WWW 2008). A doc only indexes its
    * first floor((1-t)|d|)+1 shingles in a global total order, and the
    * prefix-filter theorem guarantees every pair with Jaccard >= t still
    * collides in the indexed prefixes — recall 1.0 by pigeonhole, so the
    * exact-Jaccard oracle is unchanged (ProfJac cross-checks all plan
    * variants equal at three corpus sizes).
    *
    * Measured design calls (ProfJac at the 10x corpus):
    *   - the global order is the shingle HASH itself — the theorem needs
    *     only consistency, and the classic rare-first order costs two
    *     extra full-stream shuffles its candidate savings never repay;
    *   - ONE shuffle builds the per-doc sorted set (array_distinct folded
    *     into the collect_list groupBy — no separate distinct() pass,
    *     whose exchange nothing downstream reuses here);
    *   - both PPJoin filters live in the join CONDITION, in exact integer
    *     arithmetic (t = T_NUM/T_DEN): length — a pair can only reach t
    *     when T_DEN*min(|a|,|b|) >= T_NUM*max(|a|,|b|); positional — at a
    *     prefix collision at 0-based sorted positions (pa, pb) the overlap
    *     is at most 1 + min(|a|-pa-1, |b|-pb-1), and j >= t needs overlap
    *     o with (T_NUM+T_DEN)*o >= T_NUM*(|a|+|b|). At the 10x corpus the
    *     filters cut candidates 2.2M -> a few thousand and halve the
    *     plan's wall-clock (7.7s -> 3.7s). */
  private val T_NUM = 4
  private val T_DEN = 5 // T_NUM/T_DEN == JACCARD_THRESHOLD

  private[graft] def dedupNgramJaccardPrefix(
      s: SparkSession, d: String): DataFrame = {
    // NO localCheckpoint here, unlike dedupMinhashLsh's signature relation:
    // measured at the 10x corpus, materializing `sets` costs 3.5x
    // (1.6s -> 5.5s, ProfAdvisory/ProfJac) — the sorted fat arrays
    // round-trip through block storage while the un-checkpointed plan
    // streams them straight into the prefix explosion and verify joins
    // off one reused exchange.
    val sets = rawShingleHashes(s, d).groupBy("doc_id")
      .agg(sort_array(array_distinct(collect_list(col("h")))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
    val prefix = sets.select(col("doc_id"), col("sz"),
        posexplode(expr(
          "slice(hs, 1, size(hs) - " +
            s"CAST(ceil(size(hs) * $JACCARD_THRESHOLD) AS INT) + 1)")))
      .withColumnRenamed("col", "h")
    val cand = prefix.as("pa").join(prefix.as("pb"),
        col("pa.h") === col("pb.h") && col("pa.doc_id") < col("pb.doc_id") &&
        lit(T_DEN) * least(col("pa.sz"), col("pb.sz")) >=
          lit(T_NUM) * greatest(col("pa.sz"), col("pb.sz")) &&
        lit(T_NUM + T_DEN) * (lit(1) + least(col("pa.sz") - col("pa.pos") - 1,
          col("pb.sz") - col("pb.pos") - 1)) >=
          lit(T_NUM) * (col("pa.sz") + col("pb.sz")))
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"))
      .distinct()
    cand
      .join(sets.as("sa"), col("a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("b") === col("sb.doc_id"))
      // the per-doc sets are sorted+distinct, so |∩| is one native merge
      // walk (no per-row hash set), computed ONCE and reused in the
      // jaccard ratio instead of twice via size(array_intersect)
      .select(col("a"), col("b"),
        graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("sa.hs"), col("sb.hs")).as("ix"),
        col("sa.sz").as("sza"), col("sb.sz").as("szb"))
      .select(col("a"), col("b"),
        (col("ix") / (col("sza") + col("szb") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_THRESHOLD)
      .orderBy("a", "b")
  }

  /** Asymmetric containment pairs: C(A,B) = |A∩B| / |A| >= 0.8 over the
    * same distinct 3-gram shingle sets as the Jaccard family — the
    * subsumption detector (quotes, boilerplate wrappers, re-posts with
    * added commentary) that symmetric Jaccard misses: a short doc pasted
    * into a much longer one scores near-zero Jaccard but containment 1.0.
    *
    * Prefix filtering adapts one-sidedly (Bayardo's theorem on the
    * CONTAINED side only): A needs overlap >= ceil(t|A|), so indexing A's
    * first |A| - ceil(t|A|) + 1 sorted grams preserves recall 1.0 — but B
    * gets NO prefix (containment puts no lower bound on B's matched
    * fraction), so the B side is the full positional inverted index.
    * That asymmetry is inherent to the operator, priced in the plan: the
    * hot-gram exposure is A-prefix x B-full rather than prefix x prefix.
    * Candidates still collapse through the same exact-integer length
    * (C_DEN*|B| >= C_NUM*|A|) and positional
    * (C_DEN*(1 + min(rest_A, rest_B)) >= C_NUM*|A|) filters inside the
    * join condition, and verification is the same one-pass merge walk.
    * Docs with fewer than [[MIN_CONTAIN_SZ]] grams are excluded as the
    * contained side (trivial containment). */
  private val C_NUM = 4
  private val C_DEN = 5 // C_NUM/C_DEN == containment threshold 0.8
  private[graft] val MIN_CONTAIN_SZ = 5

  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val sets = rawShingleHashes(s, d).groupBy("doc_id")
      .agg(sort_array(array_distinct(collect_list(col("h")))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
    val prefixA = sets.filter(col("sz") >= MIN_CONTAIN_SZ)
      .select(col("doc_id"), col("sz"),
        posexplode(expr(
          "slice(hs, 1, size(hs) - " +
            s"CAST(ceil(size(hs) * ${C_NUM.toDouble / C_DEN}) AS INT) + 1)")))
      .withColumnRenamed("col", "h")
    val fullB = sets.select(col("doc_id").as("b_id"), col("sz").as("szb"),
        posexplode(col("hs")))
      .withColumnRenamed("col", "h").withColumnRenamed("pos", "pb")
    val cand = prefixA.as("pa").join(fullB,
        col("pa.h") === fullB("h") && col("pa.doc_id") =!= col("b_id") &&
        lit(C_DEN) * col("szb") >= lit(C_NUM) * col("pa.sz") &&
        lit(C_DEN) * (lit(1) + least(col("pa.sz") - col("pa.pos") - 1,
          col("szb") - col("pb") - 1)) >= lit(C_NUM) * col("pa.sz"))
      .select(col("pa.doc_id").as("a"), col("b_id").as("b"))
      .distinct()
    cand
      .join(sets.as("sa"), col("a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a").as("contained_id"), col("b").as("container_id"),
        (graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("sa.hs"), col("sb.hs")) /
          col("sa.sz")).as("containment"))
      .filter(col("containment") >= lit(C_NUM.toDouble / C_DEN))
      .orderBy("contained_id", "container_id")
  }

  /** MinHash + LSH near-dup pairs: 64-hash signature (min over SplitMix64-
    * permuted shingle hashes), banded 16x4; candidates = band-bucket
    * collisions; exact Jaccard verified on the hashed shingle sets. Output
    * matches [[dedupNgramJaccard]] (recall 1 - 3.9e-8 per pair at
    * j >= 0.9; 1 - 2.2e-4 at the 0.8 verify threshold — see BANDS),
    * so the exact-Jaccard SQL is its oracle. */
  /** Edit-distance near-dup pairs: levenshtein(a, b) <= [[ED_D]] over the
    * first [[ED_L]] characters — the typo/suffix-edit detector the
    * set-similarity family (Jaccard, MinHash, SimHash) cannot express,
    * because token-set measures are blind to character-level order and
    * small in-word edits.
    *
    * Candidates come from PassJoin segment partitioning (Li, Deng, Feng,
    * "PASS-JOIN: a partition-based method for similarity joins", PVLDB
    * 2011 — public literature): every key is cut at fixed positions into
    * D+1 segments, and the pigeonhole gives exact recall — D edits can
    * touch at most D segments, so some segment of b survives verbatim in
    * a, shifted by at most the number of edits before it (<= D). The
    * probe side therefore enumerates, per doc, the (2D+1) candidate
    * partner lengths x (D+1) segment ids x (2D+1) position shifts — a
    * CONSTANT ~405 rows/doc, so candidate generation is linear in the
    * corpus where the naive form is |docs|². (The paper's multi-match-
    * aware windows are tighter; the +-D superset trades a bounded
    * constant for a two-line soundness argument.)
    *
    * Why not Gravano-style q-gram count filtering (VLDB 2001): its
    * inverted index keys on q-grams, and on a small-vocabulary corpus the
    * hot grams appear in every doc — the index degenerates to the cross
    * join. PassJoin's keys are ~L/(D+1)-char segments, essentially unique
    * outside true near-dups regardless of vocabulary. The join key is
    * xxhash64(segment), 8 bytes instead of ~40 on the shuffle wire, as in
    * the shingle family; hash collisions only add candidates, and
    * verification (codegen levenshtein, both engines' classic unit-cost
    * DP) removes them. Keys shorter than D+1 chars are excluded on both
    * sides — a zero-length segment would be a pigeonhole hole — and the
    * oracle pins that contract with the same predicate. */
  private val ED_D = 4
  private val ED_L = 200

  def dedupEditDistance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = load(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, ED_L).as("t"))
      .withColumn("len", length(col("t")))
      .filter(col("len") >= ED_D + 1)
    // partition arithmetic for a length-l key: segment i has length
    // base + (i < rem) and 1-based start i*base + min(i, rem) + 1, with
    // base = l div (D+1), rem = l mod (D+1)
    def base(l: Column) = floor(l / (ED_D + 1)).cast("int")
    def rem(l: Column) = (l % (ED_D + 1)).cast("int")
    // index side: each doc's own D+1 segments. The join key fuses
    // (segment, i, len) into ONE xxhash64 (r18 optimization round,
    // guide §2.3 — shuffle fewer bytes): the r17 plan shuffled and
    // SORTED [id, lb, i, hseg] on the 3-part key (hseg, i, lb); the
    // fused hash carries the same equality — any true match has
    // identical (segment, i, lb) on both sides, so it still collides —
    // while cross-(i, lb) hash collisions merely add candidates, which
    // the levenshtein verification removes (the pre-existing collision
    // contract of hashing segments at all). Rows on the exchange wire
    // drop to [id, hseg].
    val segs = docs
      .crossJoin(broadcast((0 to ED_D).toDF("i")))
      .withColumn("slen", base(col("len")) +
        when(col("i") < rem(col("len")), 1).otherwise(0))
      .withColumn("start", col("i") * base(col("len")) +
        least(col("i"), rem(col("len"))) + 1)
      .select(col("doc_id").as("id_b"),
        xxhash64(col("t").substr(col("start"), col("slen")),
          col("i"), col("len")).as("hseg"))
    // probe side: for every candidate partner length lb in [len-D, len+D]
    // compute lb's OWN partition scheme and extract the segment-shaped
    // substring at each start shift in [-D, D]
    // length-compatibility cut on the window: for the surviving segment,
    // the k1 edits before it bound the start shift (|sh| <= k1) and the
    // k2 edits after it must absorb the remaining length difference
    // (|delta - sh| <= k2 with delta = len - lb = -dl), so k1 + k2 <= D
    // forces |sh| + |dl + sh| <= D — a driver-side pruning of the
    // parameter table that halves probe fan-out (405 -> 205 rows/doc at
    // D = 4) with a two-line soundness argument, measured at sf100 as
    // the difference between fitting local shuffle disk and not
    val params = broadcast((for {
      dl <- -ED_D to ED_D; i <- 0 to ED_D; sh <- -ED_D to ED_D
      if math.abs(sh) + math.abs(dl + sh) <= ED_D
    } yield (dl, i, sh)).toDF("dl", "i", "sh"))
    val probes = docs.crossJoin(params)
      .withColumn("lb", col("len") + col("dl"))
      .filter(col("lb") >= ED_D + 1)
      .withColumn("slen", base(col("lb")) +
        when(col("i") < rem(col("lb")), 1).otherwise(0))
      .withColumn("start", col("i") * base(col("lb")) +
        least(col("i"), rem(col("lb"))) + 1 + col("sh"))
      .filter(col("start") >= 1 &&
        col("start") + col("slen") - 1 <= col("len"))
      .select(col("doc_id").as("id_a"),
        xxhash64(col("t").substr(col("start"), col("slen")),
          col("i"), col("lb")).as("hseg"))
    // shuffled-hash, not sort-merge (guide §3.1): the probe side is
    // ~205 rows/doc and the r17 plan sorted it; the index side is D+1
    // rows/doc — its per-partition hash build stays bounded when a
    // deployment sizes shuffle partitions to the data, and neither
    // side's sort buys anything downstream (the join output goes
    // straight into a hash-distinct)
    val cand = probes.join(segs.hint("shuffle_hash"), Seq("hseg"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .distinct()
    cand
      .join(docs.as("da"), col("a") === col("da.doc_id"))
      .join(docs.as("db"), col("b") === col("db.doc_id"))
      // thresholded levenshtein: banded O(D*n) DP with early exit (-1
      // when the distance exceeds D) instead of the O(n^2) full matrix —
      // for kept pairs the value is identical to the unbounded form, so
      // the brute-force spec cross-check and the DuckDB oracle are
      // unchanged
      .select(col("a"), col("b"),
        levenshtein(col("da.t"), col("db.t"), ED_D).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= ED_D)
      .orderBy("a", "b")
  }

  /** Brute-force baseline (spec cross-check only): every pair within the
    * length filter, verified directly. Quadratic — exists to pin the
    * PassJoin plan's exact recall on real corpora. */
  private[graft] def dedupEditDistanceBrute(
      s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, ED_L).as("t"))
      .withColumn("len", length(col("t")))
      .filter(col("len") >= ED_D + 1)
    docs.as("da").join(docs.as("db"),
        col("da.doc_id") < col("db.doc_id") &&
        abs(col("da.len") - col("db.len")) <= ED_D)
      .select(col("da.doc_id").as("a"), col("db.doc_id").as("b"),
        levenshtein(col("da.t"), col("db.t")).cast("long").as("dist"))
      .filter(col("dist") <= ED_D)
      .orderBy("a", "b")
  }

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame = {
    // ONE shuffle builds both the signature and the verification set:
    // MinHashAgg (one-pass, ~30% faster than 64 composed min() columns,
    // bit-identical per MinHashAggSpec) and collect_set share a single
    // groupBy over the raw shingle stream — duplicates don't change
    // either aggregate, so no distinct() pass is needed, and the band
    // explosion + verification both hang off the same exchange.
    // localCheckpoint: the signature relation has THREE consumers (band
    // explosion + both sides of the verification join); exchange reuse
    // shares only the shuffle files, so without materialization the final
    // aggregate re-executes per consumer. Checkpointing runs it once —
    // the 100 TB shape is the same (persist the signature/set relation as
    // a pipeline stage, never recompute it per probe).
    // Sets are sorted ONCE at build so verification is a single codegen
    // merge walk (SortedIntersectSize) instead of two hash-set
    // array_intersect kernels per candidate pair.
    val grouped = minhashGroupedFrom(
      load(s, d, "documents")).localCheckpoint()
    val buckets = bandBuckets(grouped)

    val cand = buckets.as("l").join(buckets.as("r"),
        col("l.bh") === col("r.bh") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .distinct()

    // Exact verification on candidates only: hashed shingle sets,
    // one merge-walk intersect, |a∪b| from the sizes.
    val sets = grouped.select(col("doc_id"), col("hs"))
    cand
      .join(sets.as("sa"), col("a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("sa.hs"), col("sb.hs")).as("ix"),
        size(col("sa.hs")).as("na"), size(col("sb.hs")).as("nb"))
      .select(col("a"), col("b"),
        (col("ix") / (col("na") + col("nb") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_THRESHOLD)
      .orderBy("a", "b")
  }

  /** (doc_id, sig, hs): the one-shuffle MinHash build over any document
    * relation — one-pass [[graft.functions.MinHashAgg]] signature and the
    * sorted shingle-hash set from a SINGLE groupBy over the raw shingle
    * stream (duplicates change neither aggregate, so no distinct() pass).
    * Shared by the batch LSH dedup and the streaming ingestion filter. */
  private def minhashGroupedFrom(docs: DataFrame): DataFrame =
    rawShingleHashesOf(docs)
      .groupBy("doc_id")
      .agg(
        graft.functions.MinHashAgg.minhash(col("h"), NUM_HASHES).as("sig"),
        sort_array(collect_set(col("h"))).as("hs"))

  /** (doc_id, bh): banded bucket keys from the signature column. The band
    * index is folded INTO the bucket hash (xxhash64(..., b)), so candidate
    * joins key on the single long `bh` — a dense LongHashedRelation build,
    * no two-column composite key. A cross-band 2^-64 false collision only
    * adds a candidate pair, which exact verification rejects; recall is
    * unaffected (same banding). */
  private def bandBuckets(grouped: DataFrame): DataFrame = {
    val bandHashes = (0 until BANDS).map { b =>
      val cols = (0 until ROWS_PER_BAND)
        .map(r => element_at(col("sig"), b * ROWS_PER_BAND + r + 1))
      xxhash64(cols :+ lit(b): _*)
    }
    grouped.select(col("doc_id"), explode(array(bandHashes: _*)).as("bh"))
  }

  /** Validation accessors for graft.tools.BandCheck: the engine's exact
    * per-lane signature elements and band keys at any dataset dir, plus
    * the DuckDB replay SQL for the same two relations. BandCheck diffs
    * them bit-for-bit — the only honest witness that the banding-replay
    * oracle predicts the ENGINE's candidate set rather than running an
    * independent (equally valid, differently-keyed) banding. */
  private[graft] def bandCheckEngine(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val grouped = minhashGroupedFrom(load(s, d, "documents")).localCheckpoint()
    val lanes = grouped.select(col("doc_id"),
        posexplode(col("sig")).as(Seq("i", "s")))
    (lanes, bandBuckets(grouped))
  }

  private[graft] def bandCheckReplaySql: (String, String) = {
    val ctes = XxhashReplaySql.minhashPipelineCtes(
      NUM_HASHES, BANDS, ROWS_PER_BAND)
    (s"WITH $ctes SELECT doc_id, i, s FROM lanes ORDER BY doc_id, i",
      s"WITH $ctes SELECT doc_id, bh FROM bands ORDER BY doc_id, bh")
  }

  /** Streaming ingestion-time near-dup filter — the arrival-path dedup a
    * 100 TB pipeline runs continuously: documents arrive as a file stream
    * (odd doc_ids, staged as 2 chunk files by doc_id mod 4, one per
    * micro-batch) and are checked against a STATIC historical corpus
    * (even doc_ids): MinHash band-key collision candidates, then exact
    * merge-walk Jaccard verification, inside `foreachBatch`. The history (signature + sorted
    * set + band index) is built ONCE and localCheckpointed; each trigger
    * groups only its own batch's shingles, so streaming state is ZERO —
    * the dedup decision needs no cross-batch memory. That is what makes
    * the shape scale: history lives as a persisted artifact (in
    * production a bucketed table keyed on `bh`), and an arriving batch
    * pays |batch| signatures plus one band join against it. Output: per
    * flagged arriving doc, its historical near-dup count and best Jaccard
    * (one exact int division, replayed bit-for-bit by the oracle).
    * Stream ≡ batch ≡ DuckDB, the events_stream_* contract; DedupSpec
    * additionally pins it against the PPJoin operator's cross-half pairs
    * — an algorithm-independent witness. */
  def dedupStreamMinhash(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Paths
    import org.apache.spark.sql.types._
    import graft.streaming.StreamingOps.{drain, replay, stage}
    // scratch keyed by the dataset dir (the ingest_csv_quoted precedent):
    // a fixed path would let a later call for a different dir clobber the
    // sink under an earlier, not-yet-executed returned DataFrame
    val scratch = graft.matview.Materializer.defaultScratch
    // md5 of the dir, not String.hashCode: a 32-bit collision between
    // two dataset dirs in one process would alias the sink and let the
    // second call DELETE it under the first call's lazy result (the
    // shared Tables.dirKey keying, swept repo-wide in r13)
    val key = graft.Tables.dirKey(d)
    val staged = Paths.get(s"$scratch/stream_dedup_src_$key")
    val sink = Paths.get(s"$scratch/stream_dedup_hits_$key")
    val ckpt = Paths.get(s"$scratch/stream_dedup_ckpt_$key")
    Seq(sink, ckpt).foreach(graft.matview.Dirs.delete)

    val docs = load(s, d, "documents")
    val hist = minhashGroupedFrom(docs.filter(col("doc_id") % 2 === 0))
      .localCheckpoint()
    val histBands = bandBuckets(hist)
    val histSets = hist.select(col("doc_id"), col("hs"))

    // each arriving doc is judged against the history alone, so the
    // split of the arriving half into batches does not change the output
    stage(staged, docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .withColumn("__chunk",
        when(pmod(col("doc_id"), lit(4)) === 1, 1).otherwise(2)))

    drain(replay(s, staged, StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val g = minhashGroupedFrom(batch).localCheckpoint()
        // the shared per-batch verification kernel — one body for the
        // stream filter and the persisted-index keys (histDupReport)
        val hits = histDupReport(g, bandBuckets(g), histBands, histSets)
        // write unconditionally — a head(1) emptiness probe would execute
        // the whole band-join + verify once, then write would recompute it
        hits.write.mode("append").parquet(sink.toString)
        ()
      })

    // explicit schema: an all-empty run writes the sink dir with zero
    // part files (the committer still creates it), so inference would fail
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_hist_dups", LongType),
        StructField("max_jaccard", DoubleType))))
      .parquet(sink.toString).orderBy("doc_id")
  }

  /** Clustered-shard count of the persisted dedup index (the ANN index
    * family's IDX_SHARDS analog). */
  private val MH_SHARDS = 4

  /** The doc_id at the given 1-based global rank of the corpus' doc_id
    * order — the dedup-index family's rank-keyed split point, mirroring
    * the ANN index keys' idsAtRanks (r16: value-keyed cuts mis-size
    * every batch on a gapped id space). Runs the
    * [[graft.operators.Ranks]] two-phase prefix scan over the ids alone;
    * only the one boundary row reaches the driver. The INT rank space is
    * required loudly below 2^31 rows, the same stated contract as the
    * ANN family's guard. */
  private def docIdAtRank(ids: DataFrame, rank: Long, n: Long): Long = {
    require(n < Int.MaxValue,
      s"docIdAtRank: $n rows exceed the INT rank space — lift " +
        "Ranks.rowNumberByRange's int cast before numbering past 2^31")
    val ranked = graft.operators.Ranks.rowNumberByRange(
      ids.select(col("doc_id")), 32, Seq(col("doc_id")), "rk")
    ranked.filter(col("rk") === rank).head().getAs[Long]("doc_id")
  }

  /** (doc_id, n_hist_dups, max_jaccard) per flagged arriving doc: the
    * shared verification kernel of the persisted-index keys — band-key
    * candidates against a historical band relation, exact merge-walk
    * Jaccard against the historical sorted shingle sets, grouped per
    * arriving doc. Exactly [[dedupStreamMinhash]]'s per-batch body, so
    * the three keys can never drift onto different dedup semantics. */
  private def histDupReport(gBatch: DataFrame, batchBands: DataFrame,
      histBands: DataFrame, histSets: DataFrame): DataFrame = {
    // parquet round-trips lose the element non-nullability the merge-walk
    // intersect requires (the build writes none), so a persisted history
    // restores it here: coalesce inside transform re-marks the element
    // type containsNull = false without touching any value
    def nonNullElems(c: Column): Column =
      transform(c, e => coalesce(e, lit(Long.MinValue)))
    val cand = batchBands
      .join(histBands.withColumnRenamed("doc_id", "hist_id"), "bh")
      .select(col("doc_id"), col("hist_id")).distinct()
    cand
      .join(gBatch.select(col("doc_id"), col("hs")), "doc_id")
      .join(histSets.select(col("doc_id").as("hist_id"),
        nonNullElems(col("hs")).as("hhs")), "hist_id")
      .select(col("doc_id"), col("hist_id"),
        graft.functions.SortedIntersectSize
          .sorted_intersect_size(col("hs"), col("hhs")).as("ix"),
        size(col("hs")).as("na"), size(col("hhs")).as("nb"))
      .select(col("doc_id"), col("hist_id"),
        (col("ix") / (col("na") + col("nb") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= JACCARD_THRESHOLD)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hist_dups"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Persisted incremental dedup index — the artifact
    * [[dedupStreamMinhash]]'s scaladoc promises ("in production a
    * bucketed table keyed on bh") made REAL, completing the dedup
    * story the way the ANN index keys completed the similarity story:
    * a 100 TB pipeline does not re-minhash its corpus per arriving
    * crawl; it persists the band index ONCE and each day's batch pays
    * |batch| signatures plus one band join against it.
    *
    * Two artifacts in the [[graft.matview.Snapshots]] commit log: the
    * band index (doc_id, bh) committed with zone stats AND a bloom
    * filter on `bh`, then rewritten as MH_SHARDS bh-clustered dirs (a
    * band probe zone-prunes to the one shard whose bh range covers it;
    * the bloom lets it skip unclustered delta dirs too); and the
    * verification sets (doc_id, sorted shingle-hash array) keyed by
    * doc_id. The corpus splits base/batch 3:1 by doc_id RANK (gapped-id
    * honest, the ANN-family discipline); the arriving batch's dup
    * report is served purely from the PERSISTED pre-append index — read
    * AS OF explicit versions, so the subsequent append provably cannot
    * leak into it — and then the batch appends as one O(batch) commit
    * per artifact, no base rewrite.
    *
    * What the oracle proves: it replays the banding bit-for-bit (the
    * shared minhash-pipeline CTEs) restricted to batch-vs-base pairs
    * and the exact-Jaccard verification — so a regression that dedups
    * against the wrong split, retrains signatures, or serves from
    * base ∪ batch hash-fails. The physical facts ride as pinned
    * columns: `n_versions` (base append, clustered rewrite, batch
    * append), `index_rows_ok` (the post-append index carries exactly
    * BANDS rows per signed doc and one set row each — the append lost
    * nothing), `probe_pruned` (a point band probe reads fewer dirs than
    * the manifest lists — zone + bloom planning, never the whole
    * index), and `probe_rows_ok` (the pruned read returns exactly the
    * full index's rows for that band key). */
  def dedupIndexAppend(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
    val n = docs.count()
    require(n >= 4, "dedupIndexAppend needs >= 4 documents to cut base/batch")
    val b = 3L * n / 4
    val cut = docIdAtRank(docs, b + 1, n)
    val gBase = minhashGroupedFrom(docs.filter(col("doc_id") < cut))
      .localCheckpoint()
    val gBatch = minhashGroupedFrom(docs.filter(col("doc_id") >= cut))
      .localCheckpoint()
    val baseBands = bandBuckets(gBase)
    val batchBands = bandBuckets(gBatch)

    val snap = new graft.matview.Snapshots(s,
      s"${graft.matview.Materializer.defaultScratch}/mhidx")
    val tb = s"mh_bands_${dirKey(d)}"
    val ts = s"mh_sets_${dirKey(d)}"
    snap.drop(tb)
    snap.drop(ts)
    snap.commitAppendStats(tb, baseBands, Seq("bh"), Seq("bh"))
    snap.compactClustered(tb, "bh", MH_SHARDS, Seq("bh"), Seq("bh"))
    snap.commitAppendStats(ts, gBase.select(col("doc_id"), col("hs")),
      Seq("doc_id"))

    // the dup report, served purely from the PERSISTED pre-append index:
    // version-pinned reads (clustered base bands = v1, base sets = v0)
    // resolve their manifests NOW, so the appends below cannot reach it
    val report = histDupReport(gBatch, batchBands,
      snap.read(tb, 1), snap.read(ts, 0))

    // the incremental step: one O(batch) append per artifact
    snap.commitAppendStats(tb, batchBands, Seq("bh"), Seq("bh"))
    snap.commitAppendStats(ts, gBatch.select(col("doc_id"), col("hs")),
      Seq("doc_id"))

    val nVersions = snap.latest(tb) + 1
    val nDocs = gBase.count() + gBatch.count()
    val rowsOk = snap.readLatest(tb).count() == BANDS.toLong * nDocs &&
      snap.readLatest(ts).count() == nDocs

    // point band probe: the smallest base band key lives in the first
    // clustered shard; shards 2..MH_SHARDS always zone-prune, and the
    // bloom usually skips the batch delta dir too
    val bh0 = baseBands.agg(min(col("bh"))).head().getLong(0)
    val pr = snap.readPrunedEq(tb, snap.latest(tb), "bh", bh0.toString)
    val probeRows = pr.df.filter(col("bh") === bh0).count()
    val fullRows = snap.readLatest(tb).filter(col("bh") === bh0).count()

    report.orderBy("doc_id")
      .withColumn("n_versions", lit(nVersions.toLong))
      .withColumn("index_rows_ok", lit(rowsOk))
      .withColumn("probe_pruned", lit(pr.dirsRead < pr.dirsTotal))
      .withColumn("probe_rows_ok", lit(probeRows == fullRows && probeRows > 0))
  }

  /** SimHash near-dup pairs: 64-bit signature from tf-weighted token hash
    * bits; 8x8-bit banding guarantees recall for Hamming distance <= 7
    * (pigeonhole), so the exact all-pairs Hamming filter is its oracle —
    * the token hash is mix64(rolling_hash(tok)), which the oracle replays
    * with HUGEINT/UBIGINT arithmetic. */
  /** The signature stage alone: ONE per-row codegen'd projection
    * (functions/SimHashSig): no token explode, no 64-column aggregate,
    * no shuffle before banding. Summing +-1 per token INSTANCE equals
    * the oracle's tf-weighted sum over distinct tokens; bit-equality
    * with the relational form is pinned by SimHashSigSpec. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.SimHashSig.simhash_sig(col("text")).as("sig"))

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the self-join would otherwise recompute the
    // signature FOUR times over the corpus — once per side's projection
    // plus once per side inside the scan (the join keys' inferred
    // isnotnull(bkey) rewrites to isnotnull(simhash_sig(text)) and is
    // pushed into the file scan's DataFilters). 16 bytes/doc — all win.
    val sig = simhashSignatures(s, d).localCheckpoint()

    // Candidate generation: 16-bit blocks with ASYMMETRIC 1-bit
    // multi-probe, replacing 8-bit bands. Pigeonhole both ways: 7 errors
    // over 8 bands leave one band clean (8-bit scheme), and over 4
    // blocks leave one block with <= 1 error (this scheme) — so the
    // probe side emitting each block value plus its 16 single-bit flips
    // against an exact-value index has recall 1.0 for hamming <= 7, and
    // a qualifying pair collides at most once per block (the index side
    // emits ONE key per block, so probe flips can't cross-match).
    // Why the change: simhash bits are driven by common tokens, so
    // signatures CLUSTER on any real corpus and band buckets are badly
    // skewed — at the generated sf1 (50k docs) the 8-bit scheme
    // enumerates 533M candidate pairs, the 16-bit probe 120M; measured
    // 4.2s -> 0.73s (ProfSimhash). Narrower buckets quadratically
    // outpace the 17x probe fan-out as the corpus grows.
    def blockVal(b: Int) =
      shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))
    val index = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        lit(b.toLong << 16) + blockVal(b)): _*)).as("bkey"))
    val probes = sig.select(col("doc_id"), col("sig"),
      explode(array((for { b <- 0 until 4; f <- -1 until 16 } yield {
        val v = if (f < 0) blockVal(b)
                else blockVal(b).bitwiseXOR(lit(1L << f))
        lit(b.toLong << 16) + v
      }): _*)).as("bkey"))

    // The Hamming test lives INSIDE the join condition: candidate pairs
    // die in-register in the codegen'd join loop instead of being
    // shuffled through the distinct — only true near-dups reach it.
    // (The predicate is a pure pair function: filter∘distinct ≡
    // distinct∘filter.) The packed single-long key keeps the broadcast
    // map a dense LongHashedRelation rather than a generic row-keyed one.
    probes.as("l").join(index.as("r"),
        col("l.bkey") === col("r.bkey") &&
        col("l.doc_id") < col("r.doc_id") &&
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))) <= 7)
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))
      .distinct()
      .orderBy("a", "b")
  }

  // 6-bit signatures x 40 tables for the embedding near-dup join. The
  // CONTRACT of this operator (DedupSpec pins both halves):
  //  - design point — true near-dups, cosine >= 0.9 (hyperplane-agreement
  //    p = 1 - acos(0.9)/pi = 0.856): pair miss probability is
  //    (1 - p^6)^40 < 1e-5, i.e. recall ~1.0 where dedup decisions
  //    actually ride on the answer;
  //  - operating point on THIS synthetic corpus — which has NO planted
  //    high-cosine pairs (max pairwise cosine 0.51 at sf0.01/0.60 at
  //    sf0.1), so the 0.4 verification threshold sits inside the random-
  //    similarity bulk (p(0.4) = 0.63 vs 0.5 for random pairs — one bit
  //    of selectivity per ~6 planes): measured recall vs the exact
  //    baseline is ~0.95, INTENDED, and spec-pinned >= 0.9. Chasing 1.0
  //    here would mean widening bands until the candidate set approaches
  //    all-pairs on random data — paying a quadratic blowup at 100 TB to
  //    recover pairs no cleaning policy keys on. Measured recall is also
  //    reported per-round in BENCH (ann_recall.embedding_dedup).
  private[graft] val EMB_TABLES = 40
  private[graft] val EMB_BITS = 6
  private val COSINE_THRESHOLD = 0.4

  /** Embedding-cosine near-dup pairs, LSH-bucketed: candidates from
    * hyperplane-signature bucket collisions ([[Similarity.signatures]] —
    * shuffle keyed on (table, signature), never all-pairs), then exact
    * cosine verification on candidates only. Fully deterministic (closed-
    * form SplitMix64 planes), so the oracle replays the bucketing and the
    * verification bit-exactly; the all-pairs exact form survives as
    * [[dedupEmbeddingCosineExact]], the oracle of the BENCH recall metric.
    * Scores rounded to 9 decimals so both engines' summation orders
    * agree. */
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame = {
    val sigs = Similarity.signatures(s, d, EMB_TABLES, EMB_BITS)
    val cand = sigs.as("l").join(sigs.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.sig") === col("r.sig") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"))
      .distinct()
    // zero-norm contract (Similarity.norm doc): a direction-free vector
    // is near-dup to nothing — both engines exclude it from verification
    // (Spark's NaN >= t and DuckDB's NaN >= t are BOTH true under their
    // NaN-greatest orderings, so without the filter a zero-norm pair
    // would pass with a NaN score that hashes differently per engine)
    val e = load(s, d, "embeddings").select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    cand
      .join(e.as("ea"), col("a") === col("ea.vec_id"))
      .join(e.as("eb"), col("b") === col("eb.vec_id"))
      .select(col("a"), col("b"),
        round(Similarity.dot("ea.embedding", "eb.embedding") /
          (col("ea.nrm") * col("eb.nrm")), 9).as("cosine"))
      .filter(col("cosine") >= COSINE_THRESHOLD)
      .orderBy("a", "b")
  }

  /** Exact all-pairs embedding cosine — the correctness baseline for the
    * LSH-bucketed operator above (BENCH reports the bucketed operator's
    * recall against this). Deliberately NOT registered as a query key: the
    * self-join is quadratic and exists only as an oracle at test scale. */
  private[graft] def dedupEmbeddingCosineExact(
      s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "embeddings").select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm contract (Similarity.norm doc)
    e.as("l").join(e.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a"), col("r.vec_id").as("b"),
        round(Similarity.dot("l.embedding", "r.embedding") /
          (col("l.nrm") * col("r.nrm")), 9).as("cosine"))
      .filter(col("cosine") >= COSINE_THRESHOLD)
      .orderBy("a", "b")
  }

  /** Near-dup CLUSTERING: connected components over the verified pair
    * graph via iterative min-label propagation — the step that turns
    * pairwise matches into keep/drop decisions (keeper = min doc_id per
    * component). The driver loop converges in O(component diameter)
    * rounds; each round is one shuffle join + aggregate, and
    * localCheckpoint cuts the growing lineage — the standard Spark shape
    * for iterative graph algorithms (GraphX's cc does the same dance).
    * At 100 TB the pair graph is tiny relative to the corpus (only
    * near-dups appear), so the loop runs on the small relation. */
  /** Min-label connected components over an undirected `(src, dst)` edge
    * relation, with pointer doubling: each round does one edge-propagation
    * step (label(x) <- min over neighbors' labels) AND one shortcut step
    * (label(x) <- min(label(x), label(label(x)))) — the effective
    * propagation distance doubles per round, so convergence takes
    * O(log diameter) rounds instead of O(diameter). Near-dup graphs have
    * tiny diameters either way; the doubling bounds the adversarial
    * long-chain case (spec-pinned on a planted 64-chain). Labels are
    * always member node ids, so the final labeling — min id per
    * component — is identical to plain propagation. Returns the labels
    * and the round count (driver orchestrates only the loop; each round
    * is two keyed joins + one count action). */
  private[graft] def minLabelComponents(edges: DataFrame): (DataFrame, Int) = {
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val prop = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(prop, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // shortcut: every label IS a node id, so it has its own label row —
      // jump to it (identical subtrees plan as a reused exchange)
      val lab2 = stepped.select(col("id").as("lid"), col("label").as("llabel"))
      val next = stepped.join(lab2, col("label") === col("lid"))
        .select(col("id"), least(col("label"), col("llabel")).as("label"))
        .localCheckpoint()
      changed = next.join(labels.select(col("id"), col("label").as("old")), "id")
        .filter(col("label") =!= col("old")).count()
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  def dedupCluster(s: SparkSession, d: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, d).select(col("a"), col("b"))
    // localCheckpoint the edge relation BEFORE the loop: every round's
    // propagation join otherwise re-executes the entire jaccard pipeline
    // it inherits as lineage — measured 5.1s -> ~2s at the 10x corpus
    // (one jaccard run instead of one per round). At 100 TB the pair
    // graph is materialized once for the same reason.
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst")
      .localCheckpoint()
    val (labels, _) = minLabelComponents(edges)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Leakage-safe train/val/test split (r15) — the eval-contamination
    * guard every training pipeline needs composed from two existing
    * primitives: a naive per-doc hash split puts near-duplicate pairs on
    * OPPOSITE sides (a test doc whose near-dup sits in train leaks the
    * answer into evaluation), so the split key is the near-dup CLUSTER,
    * not the document — every doc inherits the md5 bucket of its
    * cluster representative (the component's min doc_id, from
    * [[minLabelComponents]] over the exact-Jaccard near-dup graph).
    * Singletons are their own representative, so their assignment is
    * IDENTICAL to the plain corpus_split_assign cut (240/8/8);
    * clustering only MOVES near-dup members onto their representative's
    * side, flagged in `moved` as the audit trail. The leakage guarantee
    * is structural — one split per cluster_id by construction — and the
    * oracle replays components, bucket, and cut exactly. 100 TB shape:
    * the component loop runs on the near-dup pair graph (tiny relative
    * to the corpus); everything else is a per-row projection plus one
    * left join of the corpus against the label relation. */
  def corpusSplitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, d).select(col("a"), col("b"))
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst")
      .localCheckpoint() // one jaccard run, not one per component round
    val (labels, _) = minLabelComponents(edges)
    val docs = load(s, d, "documents").select(col("doc_id"))
    val clustered = docs
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    def splitOf(c: Column) = {
      val b = graft.Tables.md5Bucket(c, 2).cast("int")
      when(b < 240, "train").when(b < 248, "val").otherwise("test")
    }
    clustered.select(col("doc_id"), col("cluster_id"),
        splitOf(col("cluster_id")).as("split"),
        (splitOf(col("cluster_id")) =!= splitOf(col("doc_id"))).as("moved"))
      .orderBy("doc_id")
  }

  /** PageRank over the part–supplier supply graph (who supplies what,
    * from distinct lineitem pairs; undirected, so rank flows both ways) —
    * the iterative-graph-analytics operator beyond [[dedupCluster]]'s
    * connected components. Classic damped formulation, 10 rounds; every
    * round is one shuffle join + one aggregate on the (tiny relative to
    * the fact) edge relation, checkpointed once before the loop.
    *
    * Cross-engine exactness for an iterative DOUBLE computation: each
    * node's incoming contributions are folded SEQUENTIALLY in ascending
    * src order (aggregate over array_sort(collect_list(...))), which the
    * oracle replays with list(c ORDER BY src) + list_reduce — the same
    * fold order, hence bit-identical ranks after every round. */
  // part-node id offset: 2^40 keeps part and supplier ids disjoint well
  // past the 100 TB design point (suppkeys reach ~10M around sf1000; a
  // 10M offset would silently collide there)
  private val PR_OFFSET = 1L << 40

  /** The raw directed supply-graph edge relation (supplier -> offset
    * part), shared by [[graphPagerank]] and the decade profiler. */
  private[graft] def pagerankEdges0(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + PR_OFFSET).as("dst"))
      .distinct()

  def graphPagerank(s: SparkSession, d: String): DataFrame = {
    val P = PR_OFFSET
    val e0 = pagerankEdges0(s, d)
    // SERIALIZED checkpoint (the dedup_semantic / triangle-sketch
    // lesson, hit live here at sf10: the default deserialized level
    // pins ~2x|lineitem| edge ROW OBJECTS on the heap across all 10
    // iterations and OOMs a 16g one-box run at 120M directed edges;
    // MEMORY_AND_DISK_SER keeps them in flat GC-invisible buffers)
    val SER = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    // Iteration-loop layout (measured at sf10, 120M directed edges: the
    // naive loop ran 325s because every lazily-referenced relation was
    // re-derived from the edge corpus INSIDE each iteration's plan —
    // nodes' 112M-row distinct, deg's 112M-row rollup, and an SMJ
    // re-sort of the full edge side, three edge-scale passes per round
    // beyond the two the algorithm needs):
    //   - edges are hash-partitioned on src BEFORE the checkpoint
    //     (LogicalRDD preserves outputPartitioning, so every
    //     iteration's src-keyed join reuses it — only the |nodes|-sized
    //     rank relation moves per round);
    //   - nodes and deg are checkpointed |nodes|-sized relations, built
    //     once partition-locally (HashPartitioning(src) already
    //     satisfies their clustering);
    //   - ranks and deg pre-merge into ONE src-keyed relation per
    //     round, so the edge corpus is probed once, with a shuffle-hash
    //     hint (the build side is |nodes|/parts per task; an SMJ would
    //     re-sort 112M edge rows per round instead).
    val (edges, nodes, deg, nNodes) = pagerankRelations(e0, SER)
    var ranks = nodes.withColumn("rank", lit(1.0 / nNodes))
    var prevCkpt: Option[DataFrame] = None
    for (_ <- 1 to 10) {
      // the EAGER checkpoint materializes the new ranks here, truncating
      // lineage — after which the previous iteration's checkpoint has no
      // referents and is unpersisted immediately (r16, the decade
      // finding of VERDICT item 5: the r15 loop kept all 10 iteration
      // checkpoints alive, ~10 x |nodes| SER blocks — at sf10 that
      // storage pressure squeezed unified execution memory until the
      // shuffle-hash build OOMed an 8g one-box heap; live checkpoints
      // are now bounded at 2 regardless of iteration count). SER level
      // for the same reason as the base relations: flat GC-invisible
      // buffers, spill-to-disk beyond the storage pool.
      val next = pagerankStep(edges, nodes, deg, ranks, nNodes)
        .localCheckpoint(true, SER)
      prevCkpt.foreach(unpersistCheckpoint)
      prevCkpt = Some(next)
      ranks = next
    }
    ranks
      .select(col("id"),
        when(col("id") >= P, "part").otherwise("supplier").as("node_type"),
        round(col("rank") * nNodes, 9).as("rank_scaled"))
      .orderBy("id")
  }

  /** Release a localCheckpoint's persisted blocks: the checkpointed
    * DataFrame's plan is a LogicalRDD over the materialized RDD —
    * unpersist exactly that RDD (non-blocking), nothing else. Shared by
    * [[graphPagerank]]'s loop and the decade profiler. */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** The checkpointed PageRank base relations — (edges, nodes, deg,
    * |nodes|) — factored from [[graphPagerank]] (r16, VERDICT item 5) so
    * the decade profiler (ProfPrDecade) and the PlanSpec pin drive the
    * EXACT production relations, not a spec-local copy that silently
    * drifts. Edges are hash-partitioned on src before the checkpoint;
    * nodes/deg are |nodes|-sized rollups built once on that layout. */
  private[graft] def pagerankRelations(e0: DataFrame,
      level: org.apache.spark.storage.StorageLevel)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true, level)
    val nodes = edges.select(col("src").as("id")).distinct()
      .localCheckpoint(true, level)
    val nNodes = nodes.count()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true, level)
    (edges, nodes, deg, nNodes)
  }

  /** One PageRank superstep over the checkpointed relations — factored
    * (r16, VERDICT item 5) so PlanSpec pins the iteration plan shape the
    * 100 TB argument rests on: the edge corpus is probed IN PLACE (its
    * checkpoint partitioning satisfies the src-keyed join — zero
    * edge-scale exchange per superstep; only |nodes|-sized relations
    * move), the rank side joins shuffle-hash (an SMJ would re-sort the
    * full edge side every round), and the per-node fold is the native
    * [[graft.functions.OrderedSumAgg]] — deterministic double fold in
    * ascending src order (same order the oracle replays, ~half the
    * per-iteration agg cost of aggregate(array_sort(collect_list)),
    * GC-flat primitive buffers — ProfPR, round 11). Every superstep is
    * therefore O(E) work: one in-place edge probe + one dst-keyed
    * aggregate + two |nodes|-sized joins. */
  private[graft] def pagerankStep(edges: DataFrame, nodes: DataFrame,
      deg: DataFrame, ranks: DataFrame, nNodes: Long): DataFrame = {
    val rd = ranks.join(deg, col("id") === col("src"))
      .select(col("id"), (col("rank") / col("deg")).as("c"))
    val contrib = edges.join(rd.hint("shuffle_hash"),
        col("src") === col("id"))
      .select(col("dst"), col("src"), col("c"))
    val summed = contrib.groupBy("dst")
      .agg(graft.functions.OrderedSumAgg
        .ordered_sum(col("src"), col("c")).as("in_sum"))
    nodes.join(summed, col("id") === col("dst"), "left")
      .select(col("id"),
        (lit(0.15 / nNodes) +
          lit(0.85) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
  }

  // -- co-purchase graph analytics ------------------------------------
  // Customer co-purchase graph: an edge (u, v) for every customer pair
  // sharing >= 4 distinct non-hub parts. Hub removal (parts bought by
  // > 64 distinct customers are dropped) is the standard co-occurrence
  // cap: one globally popular item otherwise creates a near-clique whose
  // pair explosion is quadratic in its buyer count, and its edges carry
  // no affinity signal anyway. At 100 TB the per-part pair fan-out is
  // thus bounded by 64^2, and every join below is a keyed hash shuffle
  // (part key, then pair key) — no all-pairs anywhere.
  private val COPURCHASE_MIN_SHARED = 4
  private val COPURCHASE_HUB_CAP = 64

  /** Co-purchase edge relation `(u, v)` with `u < v`, both BIGINT. */
  private[graft] def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    // one repartition(p) up front makes every downstream step partition-
    // local: the (c, p) distinct (HashPartitioning(p) satisfies
    // ClusteredDistribution(c, p) by the subset rule), the hub-cap
    // rollup, the cap join, AND the per-part self-join all cluster on p,
    // so the only remaining exchange before the final (u, v) rollup is
    // this one — and ReuseExchange serves every branch of the DAG from
    // the same shuffle instead of re-running the scan+join per consumer.
    val cp = load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(load(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_partkey").cast("long").as("p"))
      .repartition(col("p"))
      .dropDuplicates("c", "p")
    val nonHub = cp.groupBy("p").agg(count(lit(1)).as("nc"))
      .filter(col("nc") <= COPURCHASE_HUB_CAP).select("p")
    val capped = cp.join(nonHub, "p")
    capped.as("a").join(capped.as("b"),
        col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c").as("u"), col("b.c").as("v"))
      .agg(count(lit(1)).as("nshared"))
      .filter(col("nshared") >= COPURCHASE_MIN_SHARED)
      .select("u", "v")
  }

  /** Distributed triangle counting over the co-purchase graph — the
    * clustering-coefficient / community-density primitive. Compact-
    * forward algorithm (Schank & Wagner 2005): every edge is oriented
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle is generated by exactly ONE wedge at its lowest-order
    * corner and total wedge work is O(m^1.5) regardless of skew — a
    * popular node's wedges are enumerated only from its low-degree
    * neighbors, never quadratically from the hub itself. Both the wedge
    * build and the closing-edge probe are keyed hash joins.
    *
    * The oracle enumerates triangles by plain id order (x < y < z) —
    * orientation changes WHICH wedge finds a triangle, never the
    * triangle set, so per-node participation counts agree exactly. */
  def graphTriangleCount(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchaseEdges(s, d).localCheckpoint()
    triangleCounts(pairs)
      .select(col("id").as("custkey"), col("n_triangles"))
      .orderBy("custkey")
  }

  private val TRI_SKETCH_K = 16
  private val TRI_SKETCH_MIN_SHARED = 4

  /** Sketched triangle counting: the exact key's one documented cost
    * center is the per-part pair expansion (~87M candidate pairs at sf1
    * before the >=4-shared filter — inherent to exact co-occurrence
    * mining). This variant pre-aggregates each part's buyer list into a
    * deterministic bottom-k sketch (the k buyers with the smallest
    * md5(custkey), k=16) BEFORE pairing, so per-part fan-out is bounded
    * by C(16,2)=120 instead of C(64,2)=2016 — a 17x candidate-set cap
    * that holds at any scale because it is per-part, not global.
    *
    * Error contract (vs `graph_triangle_count`): ONE-SIDED. The sketch
    * keeps the exact key's >= 4 shared-parts threshold over the SAMPLED
    * lists, and sampled co-occurrence never exceeds true co-occurrence,
    * so every sketched edge is a true exact-graph edge (zero false
    * edges) — the error is only missed edges: a pair survives a busy
    * part's sketch with probability ~(k/nc)^2, so pairs whose shared
    * parts are all popular under-count toward the threshold (parts with
    * <= k buyers are sampled whole and lose nothing). The sketch is a
    * deterministic pure function of the data (no RNG), so the DuckDB
    * oracle replays it exactly and the correctness gate is an equality
    * check, not a tolerance; the recall actually achieved is measured
    * per round in the bench `triangle_sketch` field (node recall +
    * triangle ratio at sf0.01, the gate SF — both <= 1 by the one-sided
    * contract, up to wedge recombination). Triangle enumeration over
    * the sketched edge set reuses the exact compact-forward core. */
  def graphTriangleSketch(s: SparkSession, d: String): DataFrame = {
    // the sketch aggregate's groups (one per part) far exceed
    // ObjectHashAggregateExec's 128-group sort-fallback threshold, so by
    // default the WHOLE aggregation runs as an external row sort with
    // per-row buffer serialization — disk-spill-prone exactly where the
    // r7 driver box diverged (52.8s median vs 3.9s quiet-box; the probe
    // degraded rep-over-rep as sort churn met a loaded spark.local.dir).
    // With the relation pre-partitioned by p (coPurchaseEdgesSketch),
    // each partition holds only its own ~|parts|/shuffle.partitions
    // groups x O(k) TopKAgg state — a few MB — so keeping the aggregate
    // HASH-based is strictly bounded memory at any scale. Scoped raise +
    // eager materialization inside the scope (localCheckpoint), same
    // pattern as Lifecycle.withAutoBucketedScanDisabled.
    val pairs = graft.Tables.withConf(s,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        -> (1 << 21).toString) {
      // serialized checkpoint storage (r8 VERDICT item 1): the default
      // deserialized MEMORY_AND_DISK caches row OBJECTS, whose heap
      // footprint (and GC scan cost) is ~4x the serialized bytes — under
      // a pressured heap that is exactly the mode where this key's
      // driver-box numbers diverged. The edge relation is read twice
      // downstream (degree agg + wedge join legs); paying one
      // deserialization per read for a flat, GC-invisible byte buffer is
      // the right trade on every box and free on a quiet one.
      coPurchaseEdgesSketch(s, d).localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }
    triangleCounts(pairs)
      .select(col("id").as("custkey"), col("n_triangles"))
      .orderBy("custkey")
  }

  /** Co-purchase edges from bottom-k-sketched buyer lists; `(u, v)`,
    * `u < v`. Same hub cap as the exact relation. ONE keyed aggregate
    * computes both the buyer count (hub cap) and the bottom-k sketch —
    * [[graft.functions.TopKAgg]] over the NEGATED 52-bit md5 prefix of
    * the custkey (13 hex digits: exact in a double, so top-k by -hash ==
    * bottom-k by (hash, c); hash ties break by id ascending in the
    * aggregate and by `c` in the oracle's ORDER BY — same order). State
    * is O(k) per part map-side — a hub part folds its million buyers
    * into 16 slots instead of collecting a list to later discard — and
    * the C(k,2) pair fan-out is generated ROW-LOCALLY with nested array
    * transforms, so nothing unbounded ever reaches an exchange. Two
    * shuffles total: by part, then by pair. */
  private[graft] def coPurchaseEdgesSketch(
      s: SparkSession, d: String): DataFrame = {
    import graft.Tables.{load, md5Bucket}
    // ONE exchange for the whole sketch build: hash-partition by p, then
    // the (c, p) distinct AND the per-part aggregate both run in-stage —
    // HashPartitioning(p) satisfies ClusteredDistribution(c, p) (subset
    // rule) and ClusteredDistribution(p), so EnsureRequirements inserts
    // no further shuffle. The former plan exchanged twice (distinct by
    // (c, p), then 200k-group partials by p) and built partial aggregate
    // maps over the FULL part domain on every map-side partition; now
    // every map is partition-local (|parts|/shuffle.partitions groups).
    // Skew-safe: TPC-H order lines spread ~uniformly over parts (30
    // lines/part at sf1, growing in part COUNT with SF, not per-part).
    val cp = load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(load(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_partkey").cast("long").as("p"))
      .repartition(col("p"))
      .dropDuplicates("c", "p")
    cp.groupBy("p")
      .agg(
        count(lit(1)).as("nc"),
        graft.functions.TopKAgg.top_k(
          -md5Bucket(col("c"), 13).cast("double"), col("c"),
          TRI_SKETCH_K).as("topk"))
      .filter(col("nc") <= COPURCHASE_HUB_CAP)
      .select(expr("transform(topk, x -> x.neighbor_id)").as("sk"))
      .select(explode(expr(
        """flatten(transform(sk, (x, i) ->
          |  transform(slice(sk, i + 2, size(sk)),
          |    y -> struct(least(x, y) AS u, greatest(x, y) AS v))))"""
          .stripMargin)).as("e"))
      .groupBy(col("e.u").as("u"), col("e.v").as("v"))
      .agg(count(lit(1)).as("nshared"))
      .filter(col("nshared") >= TRI_SKETCH_MIN_SHARED)
      .select("u", "v")
  }

  /** Compact-forward core over an undirected `(u, v)` pair relation
    * (`u < v`, each edge once): per-node triangle participation counts
    * `(id, n_triangles)`, nodes in no triangle omitted. */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val und = pairs.union(pairs.select(col("v"), col("u"))).toDF("u", "v")
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val withDeg = pairs
      .join(deg.select(col("u").as("du_id"), col("deg").as("du")),
        col("u") === col("du_id"))
      .join(deg.select(col("u").as("dv_id"), col("deg").as("dv")),
        col("v") === col("dv_id"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge carries the dst's (deg, id) so the wedge join can
    // order its two legs without re-joining degrees
    val oriented = withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddeg"))
      // serialized for the same reason as the sketch's edge checkpoint:
      // three downstream consumers (both wedge legs + the closing probe)
      // re-read this relation, and flat byte buffers keep it off the GC's
      // object graph
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val legLess = col("e1.ddeg") < col("e2.ddeg") ||
      (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && legLess)
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
    val tri = wedges.join(oriented.as("e3"),
        col("y") === col("e3.src") && col("z") === col("e3.dst"))
      .select("x", "y", "z")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-depth reachability over the co-purchase graph — the
    * `WITH RECURSIVE` capability (PostgreSQL's recursive CTE, which the
    * reference engine supports natively) re-expressed as Spark's
    * iterative-fixpoint idiom: a driver-orchestrated BFS frontier loop,
    * one keyed join + anti-join per level, every intermediate
    * localCheckpoint'd so lineage stays flat. Depth is bounded at 6 —
    * the same bound that makes the oracle's recursive CTE terminate on
    * a cyclic graph — and the loop body is a no-op once the frontier
    * empties, so the fixed trip count costs nothing beyond the metadata
    * jobs. Output: minimum hop distance from the seed (the lowest node
    * id) for every node reached within the bound; integers end-to-end,
    * so the oracle compare is exact. */
  def recursiveCteReach(s: SparkSession, d: String): DataFrame = {
    val pairs = coPurchaseEdges(s, d)
    val edges = pairs.union(pairs.select(col("v"), col("u")))
      .toDF("src", "dst").localCheckpoint()
    // 1-row action; guard the degenerate empty-graph case (min = NULL)
    // with a clear contract error instead of an NPE
    val seedRow = edges.agg(min(col("src"))).first()
    require(!seedRow.isNullAt(0),
      "recursive_cte_reach: co-purchase graph is empty at this SF")
    val seed = seedRow.getLong(0)
    bfsLevels(edges, seed, maxDepth = 6)
      .select(col("id").as("custkey"), col("dist")).orderBy("custkey")
  }

  /** BFS min-hop distances from `seed` over a directed `(src, dst)` edge
    * relation, bounded at `maxDepth` levels: `(id, dist)` for every node
    * reached within the bound. */
  private[graft] def bfsLevels(
      edges: DataFrame, seed: Long, maxDepth: Int): DataFrame = {
    var visited = edges.sparkSession.range(1)
      .select(lit(seed).as("id"), lit(0).as("dist"))
    var frontier = visited.select("id")
    for (k <- 1 to maxDepth) {
      val next = edges.join(frontier, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(k).as("dist"))
        .localCheckpoint()
      visited = visited.union(next)
      frontier = next.select("id")
    }
    visited
  }

  /** Sub-document (block-level) duplication — the line-dedup analog for
    * a corpus with no line structure: each doc's non-overlapping 16-token
    * blocks are hashed, block frequency is counted as DISTINCT docs per
    * block across the corpus, and each doc reports the fraction of its
    * blocks that also appear in some other doc. Catches boilerplate and
    * partial copies that document-level near-dup measures dilute below
    * threshold. Docs shorter than one block carry no evidence and are
    * excluded (oracle mirrors the filter).
    *
    * Scale shape: the corpus-wide relation is (block-hash, doc_id) — 16
    * bytes per 16 tokens, ~1% of text width; the raw block string never
    * shuffles (hashes only need WITHIN-engine injectivity — the oracle
    * groups the strings themselves). Frequency join and the per-doc
    * aggregate are both keyed hash shuffles. */
  def dedupBlockRatio(s: SparkSession, d: String): DataFrame = {
    val pairs = load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 16)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) div 16 - 1), " +
          "b -> xxhash64(array_join(slice(ws, b*16 + 1, 16), ' ')))")).as("h"))
    val freq = pairs.distinct().groupBy("h")
      .agg(count(lit(1)).as("ndocs"))
    pairs.join(freq, "h")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared_blocks"))
      .withColumn("shared_frac", col("n_shared_blocks") / col("n_blocks"))
      .orderBy("doc_id")
  }

  /** Exact substring-dedup coverage — the overlapping-span sharpening of
    * [[dedupBlockRatio]], after the exact-substring training-data dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): every stride-1 16-token span is hashed, a span is
    * duplicated when it occurs in >= 2 DISTINCT docs, and each doc
    * reports the exact fraction of its tokens covered by the UNION of its
    * duplicated spans. Block hashing misses copies that straddle a block
    * boundary (a 16-token copy can split 8/8 across two blocks and count
    * nothing); stride-1 spans catch every aligned-or-not copy of >= 16
    * tokens, and the interval union converts span hits into the
    * token-level removal fraction the paper's cut is keyed on.
    *
    * Interval union without interval objects: duplicated span at token
    * position p covers [p, p+15], so walking positions in order, each
    * span adds min(gap to previous duplicated position, 16) new tokens
    * (16 for the first) — one keyed lag window + sum per doc, no
    * island-reconstruction join. Scale shape: the span stream is
    * (hash, doc_id, pos) longs — same row count as the Jaccard shingle
    * stream, ~1% of text width; frequency count, hit join, and the
    * per-doc window are all keyed hash shuffles; the raw span string
    * never leaves the scan (hashes need only within-engine injectivity —
    * the oracle groups the span strings themselves). */
  def dedupSpanCoverage(s: SparkSession, d: String): DataFrame =
    spanCoverageOf(load(s, d, "documents"))

  /** The coverage computation over any `(doc_id, text)` relation — split
    * out so the spec can plant copies at known offsets and assert the
    * exact covered-token count. */
  private[graft] def spanCoverageOf(docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 16
    val docs = docsIn
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= W)
    // span hashes from the native one-pass kernel (positional: element j
    // hashes words j..j+W-1) — the transform/array_join/xxhash64 SQL form
    // is CodegenFallback and builds a ~100-byte gram string per position;
    // this is 16 chained long-hashes per position, no allocation
    // (measured 2.10s -> 0.87s at sf0.1, both consumers included)
    val spans = docs.select(col("doc_id"), posexplode(
      graft.functions.WordGramHashes.word_gram_hashes(col("text"), W)))
      .toDF("doc_id", "pos", "h")
    // "occurs in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id): one
    // map-side-combinable aggregate instead of distinct + count-distinct
    // (two full-stream shuffles)
    val dup = spans.groupBy("h")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cov = spans.join(dup, "h")
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_dup_spans"),
        sum(when(col("gap").isNull, lit(W.toLong))
          .otherwise(least(col("gap").cast("long"), lit(W.toLong))))
          .as("covered_tokens"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)) / col("n_tokens"))
          .as("dup_token_frac"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix — where the near-duplication
    * actually lives: per unordered source pair (lexicographic lo/hi, so
    * the matrix is one triangle), the near-dup pair count and mean
    * Jaccard. Off-diagonal cells are inter-source leakage (what
    * benchmark decontamination and mixture weighting key on); diagonal
    * cells are within-source redundancy. Exactness: the mean folds
    * e9-scaled rounded longs (order-independent integer sum — the pair
    * jaccards are already bit-identical cross-engine), then two fixed
    * divisions. Shape: the fact side is the PAIR graph (near-dup-bounded,
    * orders smaller than the corpus); the (doc_id, source) lookup joins
    * it twice on doc_id — text never enters the plan. */
  def dedupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val src = load(s, d, "documents").select(col("doc_id"), col("source"))
    dedupNgramJaccard(s, d)
      .join(src.as("pa"), col("a") === col("pa.doc_id"))
      .join(src.as("pb"), col("b") === col("pb.doc_id"))
      .select(least(col("pa.source"), col("pb.source")).as("src_lo"),
        greatest(col("pa.source"), col("pb.source")).as("src_hi"),
        col("jaccard"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * lit(1e9)).cast("long")).as("jsum_e9"))
      .select(col("src_lo"), col("src_hi"), col("n_pairs"),
        ((col("jsum_e9") / col("n_pairs")) / lit(1e9)).as("mean_jaccard"))
      .orderBy("src_lo", "src_hi")
  }

  /** Canonical-copy selection — the curation decision that follows
    * near-dup clustering: per duplicate cluster keep the most complete
    * copy (max token count, ties to the smallest doc_id) and account for
    * what dedup drops. The argmax rides an exact packed long,
    * `n_tokens * 2^40 - doc_id`: an order-independent MAX both engines
    * compare bit-identically — no double-typed scores, no window. (Room:
    * doc_id < 2^40 holds to ~sf10^5; n_tokens < 2^23 keeps the product in
    * a long.) Shape: the cluster relation (pair-graph-sized, far smaller
    * than the corpus) shuffles on cluster_id twice — aggregate, then the
    * keeper join-back on the packed key; raw text never moves. */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val nTok = (length(col("text")) -
      length(translate(col("text"), " ", "")) + 1).cast("long")
    val docs = load(s, d, "documents").select(col("doc_id"), nTok.as("n_tokens"))
    // every clustered doc sits in a >=2-member cluster (labels come from
    // the symmetric pair graph), so no singleton filter is needed
    val members = dedupCluster(s, d).select("doc_id", "cluster_id")
      .join(docs, "doc_id")
      .withColumn("packed", col("n_tokens") * lit(1L << 40) - col("doc_id"))
    val best = members.groupBy("cluster_id").agg(
      count(lit(1)).as("cluster_size"),
      sum("n_tokens").as("tokens_total"),
      max("packed").as("best_packed"))
    best.join(members.select(col("cluster_id").as("m_cid"), col("doc_id"),
        col("n_tokens"), col("packed")),
        col("cluster_id") === col("m_cid") &&
          col("best_packed") === col("packed"))
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("keeper_doc"), col("n_tokens").as("keeper_tokens"),
        (col("cluster_size") - 1).as("n_dropped"),
        (col("tokens_total") - col("n_tokens")).as("tokens_dropped"))
      .orderBy("cluster_id")
  }

  /** End-to-end corpus-cleaning plan — the composition a training-data
    * pipeline actually runs: exact dedup (keep min doc per content hash),
    * near-dup clustering (keep the cluster keeper), then quality
    * filtering; every doc gets a disposition with the FIRST failing rule
    * as its reason. Each stage is one of this module's scale-designed
    * operators; the composition itself adds only broadcast-sized joins. */
  def corpusCleanPlan(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
    // exact-dup keeper via fingerprint groupBy + join-back, NOT a window
    // partitioned by md5(text): the window shuffles every row WITH its
    // full text as payload, while this shape shuffles (doc_id, 16-byte
    // fp) twice — the difference is the whole text column's width at
    // 100 TB. Same result: min doc_id per content group.
    val fp = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val exact = fp.join(
        fp.groupBy("fp").agg(min(col("doc_id")).as("exact_keeper")), "fp")
      .select(col("doc_id"), col("exact_keeper"))
    val clusters = dedupCluster(s, d)
      .select(col("doc_id").as("c_doc"), col("cluster_id"))
    val nTok = length(col("text")) - length(translate(col("text"), " ", "")) + 1
    val stop = regexp_count(
      concat(lit(" "), col("text"), lit(" ")), lit(" (a|the)(?= )"))
    val q = docs.select(col("doc_id").as("q_doc"),
      nTok.as("n_tokens"), (stop / nTok).as("stop_ratio"))
    // no broadcast hint on the cluster relation: near-dup clusters are
    // corpus-proportional (every doc in a dup cluster appears), not
    // dimension-sized — AQE picks the strategy from the actual size
    docs.select("doc_id")
      .join(exact, "doc_id")
      .join(clusters, col("doc_id") === col("c_doc"), "left")
      .join(q, col("doc_id") === col("q_doc"))
      .select(col("doc_id"),
        when(col("exact_keeper") =!= col("doc_id"), "exact_dup")
          .when(col("cluster_id").isNotNull &&
            col("cluster_id") =!= col("doc_id"), "near_dup")
          .when(col("n_tokens") < 20 || col("stop_ratio") > 0.15, "low_quality")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  val entries: Map[String, Q] = Map(
    "corpus_clean_plan"      -> (corpusCleanPlan _),
    "dedup_cluster"          -> (dedupCluster _),
    "corpus_split_leakage_safe" -> (corpusSplitLeakageSafe _),
    "dedup_keep_best"        -> (dedupKeepBest _),
    "dedup_source_matrix"    -> (dedupSourceMatrix _),
    "dedup_block_ratio"      -> (dedupBlockRatio _),
    "dedup_span_coverage"    -> (dedupSpanCoverage _),
    "dedup_exact"            -> (dedupExact _),
    "dedup_normalized"       -> (dedupNormalized _),
    "graph_pagerank"         -> (graphPagerank _),
    "graph_triangle_count"   -> (graphTriangleCount _),
    "graph_triangle_sketch"  -> (graphTriangleSketch _),
    "recursive_cte_reach"    -> (recursiveCteReach _),
    "dedup_ngram_jaccard"    -> (dedupNgramJaccard _),
    "dedup_edit_distance"    -> (dedupEditDistance _),
    "dedup_containment"      -> (dedupContainment _),
    "dedup_minhash_lsh"      -> (dedupMinhashLsh _),
    "dedup_stream_minhash"   -> (dedupStreamMinhash _),
    "dedup_index_append"     -> (dedupIndexAppend _),
    "dedup_simhash"          -> (dedupSimhash _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
  )

  private val exactJaccardSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
      |n AS (SELECT doc_id, COUNT(*) AS cnt FROM g GROUP BY doc_id),
      |inter AS (SELECT ga.doc_id AS a, gb.doc_id AS b, COUNT(*) AS ix
      |          FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |          GROUP BY 1, 2)
      |SELECT a, b, ix * 1.0 / (na.cnt + nb.cnt - ix) AS jaccard
      |FROM inter
      |JOIN n na ON na.doc_id = a
      |JOIN n nb ON nb.doc_id = b
      |WHERE ix * 1.0 / (na.cnt + nb.cnt - ix) >= 0.8
      |ORDER BY a, b""".stripMargin

  /** The shared dup-report replay: banding CTEs (bit-for-bit the
    * engine's minhash pipeline), batch-vs-history band-collision
    * candidates under the given split predicates, exact-Jaccard
    * verification, grouped per arriving doc. One body for the stream
    * key and the persisted-index keys — the SQL face of
    * [[histDupReport]], so neither side of an oracle pair can drift
    * onto different dedup semantics. `extraCtes` prepends split-point
    * CTEs (empty for the parity split); `pinCols` appends the pinned
    * structural constants (empty for the stream key, whose recorded
    * hashes this refactor therefore leaves unchanged). */
  private def histDupOracleSql(extraCtes: String, batchPred: String,
      histPred: String, pinCols: String): String =
    s"""WITH ${XxhashReplaySql.minhashPipelineCtes(
           NUM_HASHES, BANDS, ROWS_PER_BAND)},$extraCtes
      |cand AS (SELECT DISTINCT l.doc_id AS sid, r.doc_id AS hid
      |  FROM bands l JOIN bands r ON l.bh = r.bh
      |  WHERE $batchPred AND $histPred),
      |ixr AS (SELECT c.sid AS isid, c.hid AS ihid, COUNT(*) AS ix
      |  FROM cand c JOIN gsets ga ON ga.doc_id = c.sid
      |  JOIN gsets gb ON gb.doc_id = c.hid AND gb.gh = ga.gh
      |  GROUP BY 1, 2),
      |j AS (SELECT c.sid, c.hid,
      |    COALESCE(ix, 0) * 1.0 / (ns.cnt + nh.cnt - COALESCE(ix, 0))
      |      AS jaccard
      |  FROM cand c
      |  LEFT JOIN ixr ON ixr.isid = c.sid AND ixr.ihid = c.hid
      |  JOIN gn ns ON ns.doc_id = c.sid
      |  JOIN gn nh ON nh.doc_id = c.hid
      |  WHERE COALESCE(ix, 0) * 1.0 / (ns.cnt + nh.cnt - COALESCE(ix, 0))
      |    >= 0.8)
      |SELECT sid AS doc_id, COUNT(*) AS n_hist_dups,
      |       MAX(jaccard) AS max_jaccard$pinCols
      |FROM j GROUP BY sid ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // 10 unrolled damped-PageRank rounds; each round replays the Spark
    // side's ascending-src sequential fold with list(... ORDER BY src) +
    // list_reduce, so every intermediate rank is bit-identical
    "graph_pagerank" -> {
      val base =
        """WITH e0 AS (SELECT DISTINCT l_suppkey::BIGINT AS src,
          |  l_partkey::BIGINT + 1099511627776 AS dst FROM lineitem),
          |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
          |nodes AS (SELECT DISTINCT src AS id FROM edges),
          |nn AS (SELECT COUNT(*) AS n FROM nodes),
          |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
          |r0 AS (SELECT id, 1.0::DOUBLE / n AS rank FROM nodes, nn)""".stripMargin
      val steps = (1 to 10).map { k =>
        s"""s$k AS (SELECT e.dst, list_reduce(list_prepend(0.0::DOUBLE,
           |  list(r.rank / dg.deg ORDER BY e.src)), (a, x) -> a + x) AS in_sum
           |  FROM edges e JOIN r${k - 1} r ON r.id = e.src
           |  JOIN deg dg ON dg.src = e.src GROUP BY e.dst),
           |r$k AS (SELECT nodes.id,
           |  0.15::DOUBLE / n + 0.85::DOUBLE * COALESCE(s$k.in_sum, 0.0) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN s$k ON s$k.dst = nodes.id)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$steps
         |SELECT id,
         |CASE WHEN id >= 1099511627776 THEN 'part' ELSE 'supplier' END AS node_type,
         |round(rank * n, 9) AS rank_scaled
         |FROM r10 CROSS JOIN nn ORDER BY id""".stripMargin
    },

    // triangle set enumerated in plain id order x < y < z — orientation
    // only changes which wedge DISCOVERS a triangle, so per-node
    // participation counts match the compact-forward Spark plan exactly
    "graph_triangle_count" ->
      """WITH cp AS (SELECT DISTINCT o_custkey::BIGINT AS c,
        |              l_partkey::BIGINT AS p
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT p FROM (SELECT p, COUNT(*) AS nc FROM cp GROUP BY p)
        |       WHERE nc <= 64),
        |cpc AS (SELECT c, p FROM cp JOIN ok USING (p)),
        |e AS (SELECT a.c AS u, b.c AS v
        |      FROM cpc a JOIN cpc b ON a.p = b.p AND a.c < b.c
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT x AS id FROM tri UNION ALL
        |            SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id AS custkey, COUNT(*)::BIGINT AS n_triangles
        |FROM corners GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical enumeration over the bottom-16-by-md5-prefix sketched
    // buyer lists; the sketch is a deterministic function of the data
    // (52-bit md5 prefix: the engine-portable md5Bucket hash, exact in
    // the aggregate's double), so the oracle replays it exactly and the
    // compare stays an equality check
    "graph_triangle_sketch" ->
      """WITH cp AS (SELECT DISTINCT o_custkey::BIGINT AS c,
        |              l_partkey::BIGINT AS p
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT p FROM (SELECT p, COUNT(*) AS nc FROM cp GROUP BY p)
        |       WHERE nc <= 64),
        |cpc AS (SELECT c, p FROM cp JOIN ok USING (p)),
        |sk AS (SELECT c, p FROM (
        |        SELECT c, p, ROW_NUMBER() OVER (PARTITION BY p
        |          ORDER BY CAST(('0x' || substr(md5(c::VARCHAR), 1, 13))
        |            AS BIGINT), c) AS rn FROM cpc)
        |       WHERE rn <= 16),
        |e AS (SELECT a.c AS u, b.c AS v
        |      FROM sk a JOIN sk b ON a.p = b.p AND a.c < b.c
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (SELECT x AS id FROM tri UNION ALL
        |            SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT id AS custkey, COUNT(*)::BIGINT AS n_triangles
        |FROM corners GROUP BY 1 ORDER BY 1""".stripMargin,

    // WITH RECURSIVE with UNION (not UNION ALL) dedups (id, dist) states;
    // dist < 6 bounds the recursion on the cyclic graph, MIN(dist) is the
    // BFS distance — exactly the Spark frontier loop's bounded fixpoint
    "recursive_cte_reach" ->
      """WITH RECURSIVE cp AS (SELECT DISTINCT o_custkey::BIGINT AS c,
        |              l_partkey::BIGINT AS p
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT p FROM (SELECT p, COUNT(*) AS nc FROM cp GROUP BY p)
        |       WHERE nc <= 64),
        |cpc AS (SELECT c, p FROM cp JOIN ok USING (p)),
        |e AS (SELECT a.c AS u, b.c AS v
        |      FROM cpc a JOIN cpc b ON a.p = b.p AND a.c < b.c
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 4),
        |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |seed AS (SELECT MIN(u) AS sid FROM ed),
        |reach(id, dist) AS (
        |  SELECT sid, 0 FROM seed
        |  UNION
        |  SELECT ed.v, reach.dist + 1
        |  FROM reach JOIN ed ON ed.u = reach.id WHERE reach.dist < 6)
        |SELECT id AS custkey, MIN(dist) AS dist
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    // components via transitive closure (recursive CTE), labeled by the
    // minimum reachable doc_id — equality with the propagation loop's
    // fixpoint proves the clustering
    // block hashing is engine-local (the oracle groups the block STRINGS;
    // Spark groups xxhash64 of them — injective within each engine);
    // counts are integers, shared_frac one BIGINT/BIGINT->double division
    "dedup_block_ratio" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |blk AS (SELECT doc_id,
        |          array_to_string(list_slice(ws, b*16 + 1, b*16 + 16), ' ')
        |            AS blk
        |        FROM w, unnest(range(0, len(ws) // 16)) AS r(b)
        |        WHERE len(ws) >= 16),
        |freq AS (SELECT blk, COUNT(DISTINCT doc_id)::BIGINT AS ndocs
        |         FROM blk GROUP BY 1)
        |SELECT doc_id, COUNT(*)::BIGINT AS n_blocks,
        |  SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_shared_blocks,
        |  SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT
        |    / COUNT(*)::BIGINT AS shared_frac
        |FROM blk JOIN freq USING (blk)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // span strings vs xxhash64 of them — the same within-engine
    // injectivity contract as dedup_block_ratio; positions and covered
    // counts are integers, the frac one BIGINT/BIGINT->double division
    "dedup_span_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE len(string_split(text, ' ')) >= 16),
        |sp AS (SELECT doc_id, i,
        |         array_to_string(list_slice(ws, i + 1, i + 16), ' ') AS g
        |       FROM w, unnest(range(0, len(ws) - 15)) AS r(i)),
        |dup AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd
        |                       FROM sp GROUP BY 1) WHERE nd >= 2),
        |hit AS (SELECT doc_id, i,
        |          i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS gap
        |        FROM sp JOIN dup USING (g)),
        |cov AS (SELECT doc_id, COUNT(*)::BIGINT AS n_dup_spans,
        |          SUM(CASE WHEN gap IS NULL THEN 16
        |                   ELSE LEAST(gap, 16) END)::BIGINT AS covered_tokens
        |        FROM hit GROUP BY doc_id)
        |SELECT w.doc_id, len(ws)::BIGINT AS n_tokens,
        |  COALESCE(n_dup_spans, 0)::BIGINT AS n_dup_spans,
        |  COALESCE(covered_tokens, 0)::BIGINT AS covered_tokens,
        |  COALESCE(covered_tokens, 0)::BIGINT / len(ws)::BIGINT
        |    AS dup_token_frac
        |FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
        |ORDER BY w.doc_id""".stripMargin,
    // the pair jaccards are bit-identical cross-engine (dedup_ngram_jaccard
    // is hash-exact), so the e9-scaled long fold and the two divisions
    // replay exactly; both engines round half away from zero
    "dedup_source_matrix" ->
      s"""WITH pairs AS (SELECT a, b, jaccard FROM ($exactJaccardSql) jac),
         |cells AS (SELECT least(da.source, db.source) AS src_lo,
         |            greatest(da.source, db.source) AS src_hi,
         |            p.jaccard
         |          FROM pairs p
         |          JOIN documents da ON da.doc_id = p.a
         |          JOIN documents db ON db.doc_id = p.b),
         |agg AS (SELECT src_lo, src_hi, COUNT(*)::BIGINT AS n_pairs,
         |          SUM(round(jaccard * 1e9)::BIGINT)::BIGINT AS jsum_e9
         |        FROM cells GROUP BY 1, 2)
         |SELECT src_lo, src_hi, n_pairs,
         |  (jsum_e9 / n_pairs) / 1e9 AS mean_jaccard
         |FROM agg ORDER BY src_lo, src_hi""".stripMargin,
    // same recursive closure as dedup_cluster, then the packed-long argmax
    // (n_tokens * 2^40 - doc_id) and join-back replayed verbatim
    "dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($exactJaccardSql) jac),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r
         |                JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |m AS (SELECT l.doc_id, l.cluster_id,
         |        len(string_split(dd.text, ' '))::BIGINT AS n_tokens,
         |        len(string_split(dd.text, ' '))::BIGINT * 1099511627776
         |          - l.doc_id AS packed
         |      FROM lab l JOIN documents dd USING (doc_id)),
         |b AS (SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size,
         |        SUM(n_tokens)::BIGINT AS tokens_total,
         |        MAX(packed) AS best_packed
         |      FROM m GROUP BY 1)
         |SELECT b.cluster_id, b.cluster_size, m.doc_id AS keeper_doc,
         |  m.n_tokens AS keeper_tokens,
         |  b.cluster_size - 1 AS n_dropped,
         |  b.tokens_total - m.n_tokens AS tokens_dropped
         |FROM b JOIN m ON m.cluster_id = b.cluster_id
         |              AND m.packed = b.best_packed
         |ORDER BY b.cluster_id""".stripMargin,
    // components replayed recursively (the dedup_cluster CTEs), every
    // doc joined to its representative (own id for singletons), then the
    // corpus_split_assign md5-byte cut applied to the CLUSTER id; moved
    // compares against the naive own-id cut
    "corpus_split_leakage_safe" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($exactJaccardSql) jac),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r
         |                JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |cl AS (SELECT d.doc_id,
         |         COALESCE(lab.cluster_id, d.doc_id) AS cluster_id
         |       FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
         |bk AS (SELECT doc_id, cluster_id,
         |  CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2))
         |    AS INTEGER) AS cb,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
         |    AS INTEGER) AS db
         |  FROM cl)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN cb < 240 THEN 'train'
         |       WHEN cb < 248 THEN 'val' ELSE 'test' END AS split,
         |  (CASE WHEN cb < 240 THEN 'train'
         |        WHEN cb < 248 THEN 'val' ELSE 'test' END) <>
         |  (CASE WHEN db < 240 THEN 'train'
         |        WHEN db < 248 THEN 'val' ELSE 'test' END) AS moved
         |FROM bk ORDER BY doc_id""".stripMargin,
    "dedup_cluster" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($exactJaccardSql) jac),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r
         |                JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |          FROM lab GROUP BY 1)
         |SELECT doc_id, cluster_id, cluster_size
         |FROM lab JOIN sizes USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin,
    "dedup_normalized" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
        |ORDER BY keeper_id""".stripMargin,
    // the full cleaning composition: exact-dup window, near-dup closure,
    // quality thresholds, first-failing-rule disposition
    "corpus_clean_plan" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($exactJaccardSql) jac),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |          UNION SELECT r.src, e.dst FROM reach r
         |                JOIN edges e ON r.dst = e.src),
         |lab AS (SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
         |        FROM reach GROUP BY src),
         |ex AS (SELECT doc_id,
         |       MIN(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
         |       FROM documents),
         |q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |      len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
         |        * 1.0 / len(string_split(text, ' ')) AS stop_ratio
         |      FROM documents)
         |SELECT d.doc_id,
         |CASE WHEN ex.exact_keeper <> d.doc_id THEN 'exact_dup'
         |     WHEN lab.cluster_id IS NOT NULL AND lab.cluster_id <> d.doc_id
         |       THEN 'near_dup'
         |     WHEN q.n_tokens < 20 OR q.stop_ratio > 0.15 THEN 'low_quality'
         |     ELSE 'kept' END AS status
         |FROM documents d
         |JOIN ex USING (doc_id)
         |LEFT JOIN lab ON lab.doc_id = d.doc_id
         |JOIN q USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_ngram_jaccard" -> exactJaccardSql,
    // brute-force containment on string grams (same gram bijection as the
    // Jaccard oracles); the one-sided prefix + inverted index in the
    // Spark plan has recall 1.0 by the pigeonhole argument, so the exact
    // result is its oracle
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
        |n AS (SELECT doc_id, COUNT(*) AS cnt FROM g GROUP BY doc_id),
        |inter AS (SELECT ga.doc_id AS a, gb.doc_id AS b, COUNT(*) AS ix
        |          FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id <> gb.doc_id
        |          GROUP BY 1, 2)
        |SELECT a AS contained_id, b AS container_id,
        |  ix * 1.0 / na.cnt AS containment
        |FROM inter
        |JOIN n na ON na.doc_id = a
        |WHERE na.cnt >= 5 AND ix * 1.0 / na.cnt >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    // brute-force levenshtein over every length-compatible pair; the
    // PassJoin plan's recall is exactly 1.0 by the segment pigeonhole,
    // so the exact result is its oracle (both engines run the classic
    // unit-cost DP). The length >= D+1 predicate is the operator's
    // pinned contract, not a fixture assumption.
    //
    // Codepoint recode (r15, closing the r14-named oracle boundary):
    // DuckDB's levenshtein is BYTE-level (lev('café','cafe') = 2) while
    // the engine's is CODEPOINT-level, so non-ASCII corpora diverged by
    // design. The recode maps every distinct multi-byte codepoint to an
    // UNUSED single-byte control char (translate() is codepoint-wise),
    // after which byte-lev == codepoint-lev exactly. The target alphabet
    // is the control range 1..31 MINUS whatever control chars the corpus
    // actually carries (r16, r15 ADVICE: the r15 form aborted whenever
    // non-ASCII text coexisted with ANY control char — including the
    // \t/\n/\r present in virtually all real multi-line text — so the
    // common case stayed out of scope; excluding only the OCCUPIED slots
    // keeps the map a bijection and widens the scope to every corpus
    // whose distinct non-ASCII codepoints fit the free slots).
    // Scope-guarded the XXH64 way — the oracle query ABORTS via error()
    // (never diverges silently) when they don't fit. length() is
    // codepoint-based in both engines and translate preserves character
    // count, so the length-bucket predicate is untouched.
    "dedup_edit_distance" ->
      """WITH k AS (SELECT doc_id, substring(text, 1, 200) AS t
        |           FROM documents WHERE length(substring(text, 1, 200)) >= 5),
        |cps AS (SELECT DISTINCT unnest(string_split(t, '')) AS ch FROM k),
        |nacp AS (SELECT ch, ROW_NUMBER() OVER (ORDER BY unicode(ch)) AS r
        |         FROM cps WHERE unicode(ch) > 127),
        |avail AS (SELECT c AS slot, ROW_NUMBER() OVER (ORDER BY c) AS r
        |          FROM range(1, 32) AS t(c)
        |          WHERE c NOT IN (SELECT unicode(ch) FROM cps
        |                          WHERE unicode(ch) BETWEEN 1 AND 31)),
        |gchk AS (SELECT CASE
        |  WHEN (SELECT COUNT(*) FROM nacp) > (SELECT COUNT(*) FROM avail)
        |    THEN error('edit-distance recode out of scope: more distinct non-ASCII codepoints than free control-char slots')
        |  ELSE 1 END AS ok),
        |dict AS (SELECT COALESCE(string_agg(n.ch, '' ORDER BY n.r), '') AS f,
        |                COALESCE(string_agg(chr(a.slot::INTEGER), '' ORDER BY n.r), '') AS s
        |         FROM nacp n JOIN avail a ON a.r = n.r),
        |kr AS (SELECT doc_id, translate(t, d.f, d.s) AS t
        |       FROM k, dict d, gchk g WHERE g.ok = 1)
        |SELECT ka.doc_id AS a, kb.doc_id AS b,
        |  CAST(levenshtein(ka.t, kb.t) AS BIGINT) AS dist
        |FROM kr ka, kr kb
        |WHERE ka.doc_id < kb.doc_id
        |  AND abs(length(ka.t) - length(kb.t)) <= 4
        |  AND levenshtein(ka.t, kb.t) <= 4
        |ORDER BY a, b""".stripMargin,
    // Banding-replay oracle (r12 VERDICT item 4): the full
    // XXH64 -> MinHash -> band-key pipeline replayed in DuckDB
    // (XxhashReplaySql), candidates from the SAME band-bucket join the
    // engine runs, then exact Jaccard over the SAME hashed shingle sets.
    // The previous exact-Jaccard oracle rode a deterministic 2.2e-4/pair
    // miss chance for pairs in [0.8, 0.9) that the 16x4 banding can
    // legitimately drop; this oracle predicts the engine's candidate set
    // exactly, so the probabilistic pass-chance is gone.
    "dedup_minhash_lsh" ->
      s"""WITH ${XxhashReplaySql.minhashPipelineCtes(
             NUM_HASHES, BANDS, ROWS_PER_BAND)},
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.bh = r.bh AND l.doc_id < r.doc_id),
         |ixr AS (SELECT c.a AS ia, c.b AS ib, COUNT(*) AS ix
         |  FROM cand c JOIN gsets ga ON ga.doc_id = c.a
         |  JOIN gsets gb ON gb.doc_id = c.b AND gb.gh = ga.gh
         |  GROUP BY 1, 2)
         |SELECT c.a, c.b,
         |  COALESCE(ix, 0) * 1.0 / (na.cnt + nb.cnt - COALESCE(ix, 0))
         |    AS jaccard
         |FROM cand c
         |LEFT JOIN ixr ON ixr.ia = c.a AND ixr.ib = c.b
         |JOIN gn na ON na.doc_id = c.a
         |JOIN gn nb ON nb.doc_id = c.b
         |WHERE COALESCE(ix, 0) * 1.0 / (na.cnt + nb.cnt - COALESCE(ix, 0))
         |  >= $JACCARD_THRESHOLD
         |ORDER BY a, b""".stripMargin,

    // the streaming ingestion filter drains to the batch cross-half
    // near-dup relation: odd (arriving) docs vs even (historical) docs,
    // grouped per arriving doc — and since r13 the candidates come from
    // the SAME banding replay as dedup_minhash_lsh's oracle (restricted
    // to the parity split), so the probabilistic banding-miss chance is
    // gone here too
    "dedup_stream_minhash" ->
      histDupOracleSql("", "l.doc_id % 2 = 1", "r.doc_id % 2 = 0", ""),
    // the persisted-index key is the SAME replay over the rank-keyed
    // 3:1 base/batch split (batch docs vs base docs only), plus the
    // pinned structural constants: 3 versions (base append, clustered
    // rewrite, batch append) and the TRUE-literal storage facts that
    // hash-fail if the append loses rows or the band probe stops
    // pruning. Sharing histDupOracleSql with the stream key (whose
    // recorded hashes are unchanged by the refactor) pins both keys to
    // one dedup semantics.
    "dedup_index_append" ->
      histDupOracleSql(
        s"""
        |nb AS (SELECT 3 * COUNT(*) // 4 AS b FROM documents),
        |rks AS (SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM documents),
        |cutv AS (SELECT doc_id AS c FROM rks
        |  WHERE rn = (SELECT b FROM nb) + 1),""".stripMargin,
        "l.doc_id >= (SELECT c FROM cutv)",
        "r.doc_id < (SELECT c FROM cutv)",
        """,
        |  3::BIGINT AS n_versions, true AS index_rows_ok,
        |  true AS probe_pruned, true AS probe_rows_ok""".stripMargin),
    // Replays the token hash (61-bit Rabin poly → SplitMix64 finalizer,
    // wrap-around multiplies emulated via HUGEINT split multiplication),
    // then the tf-weighted bit sums and exact all-pairs Hamming. Banding
    // in the Spark plan has guaranteed recall at hamming <= 7, so the
    // brute-force filter is exact.
    "dedup_simhash" ->
      s"""WITH toks AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |-- token rolling hash over UTF-8 BYTES (the engine's SimHashSig
        |-- hashes the word's bytes in place) — r14: byte list derived
        |-- from code points, retiring the ASCII-only assumption
        |t0 AS (SELECT doc_id, tf,
        |  CASE WHEN tok = '' THEN 0::UBIGINT ELSE
        |  list_reduce(list_prepend(0::HUGEINT,
        |    ${XxhashReplaySql.utf8BytesHugeint("tok")}),
        |    (acc, c) -> (acc * 257 + c + 1) % 2305843009213693951)::UBIGINT END AS z0
        |  FROM toks),
        |t1 AS (SELECT doc_id, tf, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM t0),
        |t2 AS (SELECT doc_id, tf, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |th AS (SELECT doc_id, tf, xor(z2, z2 >> 31) AS h FROM t2),
        |bits AS (SELECT doc_id, k,
        |  SUM(CASE WHEN (h >> k) & 1 = 1 THEN tf ELSE -tf END) AS vk
        |  FROM th, unnest(range(64)) AS t(k) GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |  bit_or(CASE WHEN vk > 0 THEN 1::UBIGINT << k ELSE 0::UBIGINT END) AS sig
        |  FROM bits GROUP BY 1)
        |SELECT a, b, hamming FROM (
        |  SELECT l.doc_id AS a, r.doc_id AS b,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS INTEGER) AS hamming
        |  FROM sig l JOIN sig r ON l.doc_id < r.doc_id)
        |WHERE hamming <= 7 ORDER BY a, b""".stripMargin,
    // Replays the deterministic hyperplane signatures (shared CTE with the
    // ANN oracle), the (table, signature) bucket self-join, and the exact
    // cosine verification on candidates — bit-identical to the Spark plan.
    "dedup_embedding_cosine" ->
      s"""WITH ${Similarity.lshSigsCte(EMB_TABLES, EMB_BITS)},
         |${Similarity.nonZeroSql},
         |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM sigs l JOIN sigs r
         |  ON l.tbl = r.tbl AND l.sig = r.sig AND l.vec_id < r.vec_id)
         |SELECT a, b,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) AS cosine
         |FROM cand
         |JOIN nz ea ON ea.vec_id = a
         |JOIN nz eb ON eb.vec_id = b
         |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) >= $COSINE_THRESHOLD
         |ORDER BY a, b""".stripMargin,
  )
}
