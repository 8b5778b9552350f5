package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Similarity search over the `embeddings` table (`array<float>` column).
  *
  * Two paths:
  *   - [[similarityTopkBruteforce]]: exact cosine top-k — the correctness
  *     baseline. Query set x corpus join; scales as |Q| x |corpus|, which is
  *     the right plan when |Q| is small (batch scoring) — the corpus side
  *     streams through whole-stage codegen, never materializing pairs.
  *   - [[similarityAnnLsh]]: random-hyperplane LSH (Charikar, STOC 2002):
  *     8 tables x 16-bit signatures; candidates = bucket collisions; exact
  *     rerank on candidates. At 100 TB the bucket join replaces the full
  *     corpus scan per query with a shuffle keyed on (table, signature).
  *
  * Dot products run in double via `zip_with` + `aggregate` (codegen'd
  * higher-order functions, sequential fold). Scores are rounded to 9
  * decimals so ranking is identical across engines; ties break on vec_id.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val K = 5
  private val NUM_QUERIES = 10
  // 5-bit signatures x 20 tables: sized for moderate-similarity corpora
  // (top-neighbor cosine ~0.45 here, where each hyperplane flips with
  // p ~ 0.35 — recall per table (1-p)^BITS is low, so tables do the
  // work). At web scale, bits grows with log2(corpus/bucket-target) and
  // tables with the recall target.
  private val TABLES = 20
  private val BITS = 5
  // private[graft]: ProfSem's stage-0 probe rebuilds the assignment
  // shape and must read the SAME dimension (a frozen copy silently
  // drifts when this changes)
  private[graft] val DIM = 64
  private val NLISTS = 16
  // 6/16 lists probed: recall@5 0.98 -> 1.00 at sf0.1 (the r3 attempt to
  // buy recall with a SECOND Lloyd pass instead moved it 0.98 -> 0.96 and
  // was reverted — probing wider is the productive lever, costing only
  // 3/8 more corpus read per query, no extra training pass)
  private val NPROBE = 6
  private val DIVERSITY_CAP = 8

  /** SemDeDup's cluster count: L = max(2, ceil(sqrt(N))) — the bound
    * that makes cluster-scoped pair work L * C(N/L, 2) ~ N^1.5 / 2.
    * Shared with ProfSem (stage profiler) and mirrored by the oracle's
    * GREATEST(2, CEIL(SQRT(COUNT(*)))) so all three shapes stay in
    * lockstep. */
  private[graft] def nlistsFor(n: Long): Int =
    math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)

  // norm/dot run through the native codegen'd VectorDot expression — the
  // element-ordered double fold is bit-identical to the
  // aggregate(zip_with(...)) lambda formulation it replaced, but stays
  // inside whole-stage codegen (HOF lambdas are CodegenFallback, which
  // broke codegen exactly in the rerank hot loop)
  //
  // ZERO-NORM CONTRACT (r12 VERDICT item 3): a zero vector has no
  // direction — cosine against it is 0/0 = NaN, which TopKAgg SKIPS
  // while a ROW_NUMBER oracle RANKS FIRST (both engines sort NaN
  // greatest), so the two sides would diverge on the first real corpus
  // carrying one. The contract is IDENTICAL EXCLUSION: a zero-norm
  // vector participates in NO cosine scoring, as query or neighbor, on
  // either side. Engine side: `.filter(nrm > 0)` at every scoring
  // relation (a nonzero float element squares to a nonzero double —
  // float magnitudes can't underflow a double product — so nrm > 0 ⟺
  // any element nonzero); oracle side: the nonZeroSql relation
  // (list_max of abs > 0), provably the same set. Quantizer/centroid
  // TRAINING keeps all vectors (it is dot-based, NaN-free) so the
  // cluster structure both sides replay is unchanged. The contrastive
  // key keeps its pair STRUCTURE and defines the score as NULL instead
  // (a dropped pair row would silently change the training set).
  // Spec-pinned with planted zero vectors in SimilarityZeroNormSpec.
  private[graft] def norm(embedding: Column): Column =
    sqrt(graft.functions.VectorDot.vector_dot(embedding, embedding))

  /** The oracle-side twin of `.filter(nrm > 0)` — embeddings with at
    * least one nonzero element. */
  private[graft] def nonZeroSql: String =
    """nz AS (SELECT * FROM embeddings
      |  WHERE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) > 0)"""
      .stripMargin

  private[graft] def dot(a: String, b: String): Column =
    graft.functions.VectorDot.vector_dot(col(a), col(b))

  /** Exact per-query top-K over scored candidates via the bounded-heap
    * [[graft.functions.TopKAgg]] — O(K) state per query folded map-side,
    * instead of a row_number window that shuffles and fully sorts every
    * scored row. Same ordering contract: score desc, neighbor_id asc. */
  private def topkExact(scored: DataFrame): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .top_k(col("score"), col("neighbor_id"), K).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"),
        col("t.rank").as("rank"), col("t.score").as("score"))
      .orderBy("query_id", "rank")

  /** Exact cosine top-K for the first [[NUM_QUERIES]] vectors against the
    * whole corpus. */
  def similarityTopkBruteforce(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm contract (see norm())
    val q = e.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
    topkExact(scored)
  }

  /** Deterministic +-1 hyperplanes from a SplitMix64 stream (public
    * algorithm; seed fixed so plans are reproducible across runs). The
    * n-th draw is the closed form mix(42 + n*GOLDEN), which the DuckDB
    * oracles replay exactly. */
  private[graft] def hyperplanes(
      tables: Int = TABLES, bits: Int = BITS): Array[Array[Array[Double]]] = {
    var state = 42L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(tables, bits) {
      Array.fill(DIM)(if ((next() & 1L) == 0L) -1.0 else 1.0)
    }
  }

  /** (vec_id, tbl, sig) hyperplane signatures for every vector — the shared
    * kernel of the ANN bucket join and the LSH-bucketed embedding dedup.
    * Per-row imperative math over a fixed-size array: the one place a typed
    * Dataset map beats an expression tree (tables x bits aggregate()
    * expressions would defeat codegen). */
  private[graft] def signatures(
      s: SparkSession, d: String, tables: Int, bits: Int): DataFrame = {
    import s.implicits._
    val bPlanes = s.sparkContext.broadcast(hyperplanes(tables, bits))
    load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        val ps = bPlanes.value
        (0 until tables).map { t =>
          var sig = 0
          var b = 0
          while (b < bits) {
            val plane = ps(t)(b)
            var acc = 0.0
            var i = 0
            while (i < DIM) { acc += emb(i) * plane(i); i += 1 }
            if (acc > 0) sig |= (1 << b)
            b += 1
          }
          (id, t, sig)
        }
      }
      .toDF("vec_id", "tbl", "sig")
  }

  /** ANN via random-hyperplane LSH with multi-probe; same output shape as
    * the brute-force baseline. Approximate in recall but fully
    * deterministic: the planes come from a closed-form SplitMix64 stream,
    * and the oracle replays them (and the sequential-fold dot products)
    * exactly in DuckDB.
    *
    * Multi-probe (Lv et al., VLDB 2007): each query also probes the BITS
    * 1-bit-flip neighbors of its signature — the buckets a near neighbor
    * most likely fell into when exactly one hyperplane disagreed. This
    * multiplies per-table recall ~4x at the corpus' neighbor similarity
    * while costing only (BITS+1)x more QUERY-side bucket rows (the corpus
    * side — the 100 TB side — is untouched). */
  def similarityAnnLsh(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(s, d, TABLES, BITS)

    val probes = array((lit(0) +: (0 until BITS).map(b => lit(1 << b))): _*)
    val qs = sigs.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(probes).as("flip"), col("sig"))
      .select(col("query_id"), col("tbl"),
        col("sig").bitwiseXOR(col("flip")).as("sig"))
    val cand = broadcast(qs).join(sigs, Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()

    val e = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm contract (see norm())
    val q = e.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val scored = cand
      .join(broadcast(q), "query_id")
      .join(e, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
    topkExact(scored)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of K centroids (the first
    * K vectors by id — deterministic seeding; one Lloyd refinement pass
    * keeps it honest without breaking determinism), vectors assigned to
    * their nearest centroid's inverted list, queries probing the NPROBE
    * nearest lists with exact rerank. At 100 TB the inverted lists are
    * bucketed tables keyed by centroid id: a probe reads NPROBE/K of the
    * corpus instead of scanning it. Approximate in recall but fully
    * deterministic (seeded centroids, vec_id-ordered mean folds), so the
    * oracle replays the whole pipeline: assignment, one Lloyd pass,
    * probe, exact rerank. */
  /** The IVF coarse quantizer shared by [[similarityIvf]] and
    * [[corpusDiversityCap]]: deterministic seeds (first NLISTS vectors by
    * vec_id) + ONE Lloyd pass. Returns (embeddings-with-norm, the same
    * relation with its refined list assignment, refined centroids).
    * Refinement stays distributed — per-centroid sums fold on the
    * executors over vec_id-sorted lists (the exact sequential double fold
    * the oracle replays with `list(... ORDER BY vec_id)`); only the K
    * centroid rows ever reach the driver.
    *
    * Centroids are returned as (cid, centroid) PAIRS with their original
    * labels, and the refined assignment maps its argmax back through
    * those labels — so an emptied seed list (possible under dot-product
    * argmax: a low-norm seed need not win its own vector) merely drops
    * out of the candidate set, exactly as in the oracle's cents CTE,
    * instead of silently shifting every later cid off the oracle's
    * numbering. That hazard was latent while the count was a fixed 16;
    * with [[dedupSemantic]]'s corpus-scaled ceil(sqrt(N)) lists it had
    * real probability, hence labels-not-positions. */
  private def ivfLists(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Array[(Int, Array[Double])]) =
    ivfListsK(s, d, NLISTS)

  /** [[ivfLists]] with an explicit cluster count — the ANN keys keep the
    * fixed [[NLISTS]] (their oracles and NPROBE tuning assume it);
    * [[dedupSemantic]] passes a corpus-derived count. */
  private[graft] def ivfListsK(s: SparkSession, d: String, nlists: Int)
      : (DataFrame, DataFrame, Array[(Int, Array[Double])]) =
    ivfListsOn(load(s, d, "embeddings"), nlists)

  /** [[ivfListsK]] over an explicit (vec_id, embedding) source relation —
    * the incremental-index key trains on a BASE slice of the corpus, so
    * the quantizer must be buildable from something other than the whole
    * embeddings table. Seeding is dense-rank positional (r15): the first
    * `nlists` rows of the SOURCE in vec_id order, labeled by position —
    * any id space trains, gapped or contiguous; there is no
    * ids-must-be-0..nlists-1 contract. */
  private[graft] def ivfListsOn(e0: DataFrame, nlists: Int)
      : (DataFrame, DataFrame, Array[(Int, Array[Double])]) = {
    val s = e0.sparkSession
    import s.implicits._
    val e = e0
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    // Seeding is DENSE-RANK keyed on both sides (r15, replacing the r14
    // refusal): the engine takes the first `nlists` rows ordered by
    // vec_id and labels them by POSITION — which IS the dense rank of
    // vec_id — and the oracles replay seeds as
    // ROW_NUMBER() OVER (ORDER BY vec_id) - 1 < nlists, labeled by that
    // same rank. The two coincide on ANY id space, gapped or contiguous
    // (on contiguous fixtures rank == vec_id, so all recorded hashes are
    // unchanged), so a filtered or resharded corpus trains the identical
    // quantizer on both sides instead of failing a contract require.
    val seedRows = e.orderBy("vec_id").limit(nlists)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    require(seedRows.nonEmpty,
      "IVF training requires a non-empty source relation")
    val seed: Array[(Int, Array[Double])] = seedRows
      .map(_._2.map(_.toDouble)).zipWithIndex.map(_.swap)
    val assigned0 = e.withColumn("cid", assignTo(seed)(col("embedding")))
    val refined: Array[(Int, Array[Double])] = assigned0
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("vs"))
      .select(col("cid"), expr(
        s"""transform(
           |  aggregate(vs, array_repeat(CAST(0 AS DOUBLE), $DIM),
           |    (acc, v) -> zip_with(acc, v.embedding,
           |      (a, x) -> a + CAST(x AS DOUBLE))),
           |  m -> m / size(vs))""".stripMargin).as("cent"))
      .as[(Int, Array[Double])]
      .collect()
      .sortBy(_._1)
    (e, e.withColumn("cid", assignTo(refined)(col("embedding"))), refined)
  }

  /** Nearest-centroid assignment by dot product: argmax over the centroid
    * PAIRS, returning the winner's LABEL — positions and labels coincide
    * for the seed pass, and for the refined pass the label mapping is
    * what keeps an emptied list from shifting later cids off the oracle's
    * numbering.
    *
    * Array[Float], NOT Seq[Float]: the Seq signature hands the loop a
    * boxed view (every emb(i) dereferences a java.lang.Float), measured
    * ~48ns/element — 8.5s per corpus pass at sf10, the single largest
    * cost in dedup_semantic (ProfSem). The primitive-array signature
    * deserializes straight to float[]; identical double arithmetic
    * (float operand widens exactly), so assignments — and the oracle —
    * are bit-unchanged. Measured 8.5s -> 0.9s per pass at sf10. */
  private def assignTo(cents: Array[(Int, Array[Double])]) =
    udf { (emb: Array[Float]) =>
      var best = 0; var bestDot = Double.MinValue
      var c = 0
      while (c < cents.length) {
        var acc = 0.0; var i = 0
        val cent = cents(c)._2
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        if (acc > bestDot) { bestDot = acc; best = c }
        c += 1
      }
      cents(best)._1
    }

  def similarityIvf(s: SparkSession, d: String): DataFrame =
    similarityIvfWith(s, d, NLISTS, NPROBE)

  /** [[similarityIvf]] with explicit geometry (r15, VERDICT item 7): the
    * gate key pins the fixture geometry ([[NLISTS]]/[[NPROBE]] — its
    * oracle and recall tuning assume it), but at 100x the corpus the
    * list count must grow ~sqrt(N) or the probe degrades toward a scan —
    * so the geometry is a parameter, not a constant, and
    * [[ivfOracleSqlWith]] parameterizes the replay identically. Probed
    * at sf10 with nlists=64 (ProfIvfGeom): recall and per-query cost on
    * record in ROADMAP. */
  private[graft] def similarityIvfWith(s: SparkSession, d: String,
      nlists: Int, nprobe: Int): DataFrame = {
    val NPROBE = nprobe
    val (e, lists, refined) = ivfListsK(s, d, nlists)

    // probe: rank centroids per query, take NPROBE nearest lists
    // primitive signature for the same unboxing reason as assignUdf
    // (this one only touches the NUM_QUERIES rows, but consistency is
    // free)
    val probeUdf = udf { (emb: Array[Float]) =>
      refined.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(NPROBE).map(_._2)
    }
    // scoring (not training) excludes zero-norm vectors — see norm();
    // the quantizer trained on all of them, matching the oracle's CTEs
    val queries = lists.filter(col("vec_id") < NUM_QUERIES)
      .filter(col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cid"), col("nrm").as("qn"))

    val scored = broadcast(queries)
      .join(lists.filter(col("nrm") > 0), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()
    topkExact(scored)
  }

  /** [[similarityIvf]] at the CORPUS-SCALED geometry (r15, the item-7
    * parameterization made a first-class gate key): nlists = max(2,
    * ceil(sqrt(N))) — the SemDeDup bound [[nlistsFor]] already shares
    * with [[dedupSemantic]], the growth that keeps probe cost ~sqrt(N)
    * per query instead of degrading toward a scan — and nprobe = max(2,
    * ceil(sqrt(nlists))), self-similar so the probed fraction FALLS as
    * the corpus grows (37% at the fixture 16-list geometry, 5% at
    * sf10's 448). The oracle derives BOTH counts from COUNT(*) with the
    * identical arithmetic, so the key stays value-exact at any SF.
    *
    * nprobe carries a 1.1x overdrive on the sqrt (r16, VERDICT item 3):
    * the bare ceil(sqrt(L)) default read recall@5 = 0.920 at sf10 (448
    * lists x 22 probes, ProfAnnRecall) while every sibling ANN key
    * delivers 1.00 — and ProfIvfGeom showed nprobe 24 reads 0.98 at the
    * same geometry. ceil(1.1 * sqrt(L)) lands exactly there (24 at
    * L=448) while keeping the probed fraction falling with the corpus
    * (~1.1/sqrt(L)); the oracle replays the same IEEE-double arithmetic
    * (1.1 and sqrt round identically in both engines), so the key stays
    * value-exact. */
  def similarityIvfScaled(s: SparkSession, d: String): DataFrame = {
    // column-less count (reads no column chunks), as in dedupSemantic
    val n = load(s, d, "embeddings").count()
    val nlists = nlistsFor(n)
    val nprobe = scaledNprobeFor(nlists)
    similarityIvfWith(s, d, nlists, nprobe)
  }

  /** The scaled key's probe depth: max(2, ceil(1.1 * sqrt(L))) — shared
    * with its spec so the derived-geometry assertion can't drift. */
  private[graft] def scaledNprobeFor(nlists: Int): Int =
    math.max(2, math.ceil(1.1 * math.sqrt(nlists.toDouble)).toInt)

  /** Filtered ANN (r15) — top-k under a metadata predicate, the
    * production pattern every vector store serves (tenant/shard/language
    * scoping): each query retrieves only neighbors sharing its `label`.
    * The naive post-filter breaks IVF — a 10%-selective filter leaves a
    * fixed-width probe with ~10% of its candidates and recall collapses
    * — so the probe WIDENS by inverse selectivity: nprobe_f = min(L,
    * ceil(NPROBE * N / count(label))), in EXACT integer arithmetic
    * ((a + c - 1) div c) so the oracle replays it bit-for-bit. The label
    * filter is pushed INTO the inverted-list scan — candidates drop
    * BEFORE any dot product — which at 100 TB is the difference between
    * scoring probed-lists x selectivity rows and scoring the probed
    * lists whole. Selectivity comes from a label-count relation (tiny,
    * broadcast); everything else is the [[similarityIvf]] machinery. */
  def similarityFilteredAnn(s: SparkSession, d: String): DataFrame =
    filteredAnnWith(s, d, NLISTS, NPROBE)

  /** [[similarityFilteredAnn]] at the CORPUS-SCALED geometry (r17 —
    * completing the filtered x scaled matrix the two r15/r16 keys left
    * open): nlists = max(2, ceil(sqrt(N))) and nprobe = max(2,
    * ceil(1.1 * sqrt(L))) exactly as [[similarityIvfScaled]], with the
    * selectivity-widened probe and the label filter pushed into the
    * list scan exactly as the fixture-geometry key. This is the
    * geometry where the r17 generate bound MATTERS: at the sf10 probe
    * tier (200k vectors, L = 448, nprobe = 24, min lcnt = 19.8k) the
    * bound lands at min(448, ceil(24·n/min lcnt)) = 243, so the capped
    * generate emits 243 ranked lists per query instead of all 448 —
    * and the gap widens with the corpus: at 1e10 vectors (L = 1e5,
    * nprobe = 348, ten equal labels) the emit is ~3.5k, a 29x
    * reduction, because the widened depth grows ~sqrt(L)/selectivity
    * while L grows linearly in list count. The oracle derives BOTH
    * counts from COUNT(*) with identical IEEE arithmetic, so the key
    * is value-exact at any SF. */
  def similarityFilteredAnnScaled(s: SparkSession, d: String): DataFrame = {
    // column-less count (reads no column chunks), as in dedupSemantic
    val n = load(s, d, "embeddings").count()
    val nlists = nlistsFor(n)
    filteredAnnWith(s, d, nlists, scaledNprobeFor(nlists))
  }

  /** The filtered-ANN machinery with explicit (nlists, nprobe) geometry
    * — the fixture key pins ([[NLISTS]], [[NPROBE]]) (its oracle and
    * recall tuning assume them); the scaled key passes the
    * corpus-derived counts. */
  private[graft] def filteredAnnWith(s: SparkSession, d: String,
      nlists: Int, nprobe: Int): DataFrame = {
    val emb = load(s, d, "embeddings")
    // the count relation is label-keyed only (every vector sits in
    // exactly one list, so counting over the assignment adds nothing) —
    // derived straight from the corpus, it also yields the one scalar
    // the generate bound needs without re-running the assignment UDF
    val n = emb.count()
    val lc = emb.groupBy("label").agg(count(lit(1)).as("lcnt"))
    val maxDepth = maxWidenedDepth(n, minLcntOf(lc), nlists, nprobe)
    val (_, lists0, refined) = ivfListsK(s, d, nlists)
    val lists = lists0.join(
      emb.select(col("vec_id"), col("label")), "vec_id")
    // centroids ranked per query, generate bounded at the global max
    // widened depth (r17); the per-query probe DEPTH is decided
    // relationally from the label's selectivity
    val probeAllUdf = rankAllListsUdf(refined, maxDepth)
    val queries = lists.filter(col("vec_id") < NUM_QUERIES)
      .filter(col("nrm") > 0) // zero-norm contract (see norm())
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"),
        posexplode(probeAllUdf(col("embedding"))).as(Seq("pos", "cid")))
      .join(broadcast(lc.withColumnRenamed("label", "qlabel")), "qlabel")
      // ceil(nprobe * n / lcnt) in exact integer math, capped at L —
      // `div`, not `/`: Column./ is ALWAYS a double divide in Spark;
      // n rides as a literal (already read for the generate bound)
      .filter(expr(
        s"pos < least($nlists, ($nprobe * $n + lcnt - 1) div lcnt)"))
    val scored = broadcast(queries)
      .join(lists.filter(col("nrm") > 0), Seq("cid"))
      // the metadata filter, pushed BEFORE the dot product
      .filter(col("label") === col("qlabel") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()
    topkExact(scored)
  }

  /** Centroids ranked per query by dot product, truncated at `maxDepth`
    * — the per-query probe-depth decision stays DOWNSTREAM, relational
    * (shared by the single-label and conjunctive variants), but the
    * GENERATE is bounded at the global maximum widened depth (r17,
    * r16 VERDICT item 6): every per-label depth is
    * min(L, ceil(NPROBE·n/lcnt)) ≤ min(L, ceil(NPROBE·n/min lcnt)), so
    * emitting more than that many ranked lists per query row can never
    * survive the downstream filter. Unbounded, the generate emitted ALL
    * L lists per query — O(Q×L) rows at √N lists on a 1e10-vector
    * corpus (~1e5 emitted to keep dozens); capped, it scales with the
    * measured selectivity instead of the list count. Results are
    * unchanged by construction (the cap dominates every kept pos), so
    * both keys' recorded hashes hold. [[rankAllLists]] is the kernel,
    * exposed for the spec pin on the bound. */
  private[graft] def rankAllLists(refined: Array[(Int, Array[Double])],
      maxDepth: Int): Array[Float] => Seq[Int] =
    (emb: Array[Float]) =>
      refined.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(maxDepth).map(_._2).toSeq

  private def rankAllListsUdf(refined: Array[(Int, Array[Double])],
      maxDepth: Int) = udf(rankAllLists(refined, maxDepth))

  /** The global maximum widened probe depth, in the same exact integer
    * arithmetic as the per-label filter: min(L, ceil(nprobe·n/minLcnt)).
    * A degenerate count relation (no labels at all) degrades to L —
    * harmless, the downstream inner join against it is empty anyway. */
  private def maxWidenedDepth(n: Long, minLcnt: Option[Long],
      nlists: Int = NLISTS, nprobe: Int = NPROBE): Int =
    minLcnt.filter(_ > 0)
      .map(m => math.min(nlists.toLong, (nprobe * n + m - 1) / m).toInt)
      .getOrElse(nlists)

  /** Smallest per-label count of a (label, lcnt) relation, driver-side —
    * the one scalar [[maxWidenedDepth]] needs (the relation is
    * label-bounded, so this is a tiny aggregate, not a data-scale
    * collect). */
  private def minLcntOf(lc: DataFrame): Option[Long] = {
    val r = lc.agg(min(col("lcnt"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Filtered ANN under a CONJUNCTIVE predicate (r16, VERDICT item 6) —
    * [[similarityFilteredAnn]]'s selectivity-widened probe extended to a
    * two-column conjunction: label equality AND an ingestion-window
    * range (the middle half of the corpus by vec_id RANK — ids arrive in
    * ingestion order, so the rank window is this schema's date-range
    * analog, and rank — not id value — keeps the window exactly half
    * the rows on gapped id spaces). The widening arithmetic is the same
    * exact integer form, and it stays relational: the count relation is
    * ONE group-by over the windowed slice, so the measured selectivity
    * reflects the WHOLE conjunction — a label thin inside the window
    * widens the probe further than its global count would. Both
    * conjuncts are pushed INTO the inverted-list scan, so candidates
    * drop before any dot product, exactly like the single-label key. A
    * query whose label has no row inside the window drops out (inner
    * join against the count relation); the oracle replays the same
    * join. */
  def similarityFilteredAnnConj(s: SparkSession, d: String): DataFrame = {
    val emb = load(s, d, "embeddings")
    val n = emb.count()
    require(n >= 4,
      "similarityFilteredAnnConj needs >= 4 vectors to cut the rank window")
    // window = ranks (n/4, 3n/4]: lo = id at rank n/4 + 1 (inclusive),
    // hi = id at rank 3n/4 + 1 (exclusive)
    val winRanks = Seq(n / 4 + 1, 3 * n / 4 + 1)
    val winIds = idsAtRanks(emb.select(col("vec_id")), winRanks, n)
    val lo = winIds(n / 4 + 1)
    val hi = winIds(3 * n / 4 + 1)
    // the CONJUNCTION's count relation: one group-by over the windowed
    // slice (tiny, broadcast) — label-keyed only, so it derives straight
    // from the corpus and doubles as the generate-bound scalar's source
    val lc = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
      .groupBy("label").agg(count(lit(1)).as("lcnt"))
    val maxDepth = maxWidenedDepth(n, minLcntOf(lc))
    val (_, lists0, refined) = ivfListsK(s, d, NLISTS)
    val lists = lists0.join(
      emb.select(col("vec_id"), col("label")), "vec_id")
    val probeAllUdf = rankAllListsUdf(refined, maxDepth)
    val queries = lists.filter(col("vec_id") < NUM_QUERIES)
      .filter(col("nrm") > 0) // zero-norm contract (see norm())
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"),
        posexplode(probeAllUdf(col("embedding"))).as(Seq("pos", "cid")))
      .join(broadcast(lc.withColumnRenamed("label", "qlabel")), "qlabel")
      // ceil(NPROBE * n / lcnt) in exact integer math, capped at L — n
      // was already read for the window cut, so it rides as a literal
      .filter(expr(
        s"pos < least($NLISTS, ($NPROBE * $n + lcnt - 1) div lcnt)"))
    val scored = broadcast(queries)
      .join(lists.filter(col("nrm") > 0), Seq("cid"))
      // BOTH conjuncts pushed BEFORE the dot product
      .filter(col("label") === col("qlabel") &&
        col("vec_id") >= lo && col("vec_id") < hi &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()
    topkExact(scored)
  }

  /** Clustered-shard count of the persisted incremental index. */
  private val IDX_SHARDS = 4

  /** The vec_id values at the given 1-based global ranks of the corpus'
    * vec_id order — the rank-keyed split points the incremental-index
    * keys cut base/delta batches at (r16, r15 ADVICE: value-keyed cuts
    * `vec_id < (max+1)*3/4` silently mis-size every batch on a gapped
    * id space — the exact corpora the dense-rank seeding supports).
    * Runs the [[graft.operators.Ranks]] two-phase prefix scan over the
    * ids alone (8 bytes/row through one range exchange — no global
    * single-partition window, no embedding bytes moved); only the
    * requested boundary rows reach the driver. On a contiguous 0..n-1
    * id space the id at rank k is k-1, so the fixture splits — and all
    * recorded hashes — are unchanged.
    *
    * `n` (the corpus row count, which every caller has already read) is
    * required below Int.MaxValue LOUDLY (r17, r16 ADVICE): the rank
    * column is emitted as INT, and while the engine's default ANSI mode
    * makes an overflowing cast throw, a deployment running with ANSI off
    * would wrap it silently — and a wrapped rank can collide with a
    * requested boundary and mis-cut every batch. The guard makes the
    * 2^31-row limit a stated contract instead of a mode-dependent one
    * (the same design point that Int-clamps the PQ rerank width). */
  private def idsAtRanks(ids: DataFrame, ranks: Seq[Long],
      n: Long): Map[Long, Long] = {
    require(n < Int.MaxValue,
      s"idsAtRanks: $n rows exceed the INT rank space — lift " +
        "Ranks.rowNumberByRange's int cast before numbering past 2^31")
    val ranked = graft.operators.Ranks.rowNumberByRange(
      ids.select(col("vec_id")), 32, Seq(col("vec_id")), "rk")
    ranked.filter(col("rk").isin(ranks: _*))
      .collect()
      .map(r => r.getAs[Int]("rk").toLong -> r.getAs[Long]("vec_id")).toMap
  }

  /** Incremental ANN index maintenance — the production vector-ingestion
    * pattern every large vector store runs: the IVF quantizer trains ONCE
    * on the BASE corpus (the first 3/4 of vec_ids), the index persists as
    * a cid-clustered table in the [[graft.matview.Snapshots]] commit log,
    * and the arriving batch APPENDS as one commit of vectors assigned to
    * the FROZEN centroids — no retrain, no rewrite of the base shards.
    * Queries then serve from the persisted table alone.
    *
    * What the oracle proves: it replays base-only training, the
    * frozen-centroid delta assignment, and the served top-k relationally
    * — so a regression that retrains on the union, perturbs base
    * assignments during the append, or serves from anything but
    * base ∪ delta hash-fails. The physical facts ride as pinned columns:
    * `n_versions` (base append, clustered rewrite, delta append),
    * `delta_rows`, `probe_pruned` (a single probed list reads only the
    * one clustered base shard whose cid range covers it, plus the delta
    * dir — never the whole index; at 100 TB this is why the append
    * pattern scales: queries touch O(probed lists), ingestion touches
    * O(batch)), and `probe_rows_ok` (the pruned read returns exactly the
    * full list's rows). */
  def similarityIndexAppend(s: SparkSession, d: String): DataFrame = {
    val all = load(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val n = all.count()
    require(n > 0,
      "similarityIndexAppend requires a non-empty embeddings relation")
    // base/delta split by RANK, not id value (r16, r15 ADVICE): base =
    // the first 3n/4 ROWS in vec_id order, so a gapped/filtered corpus
    // splits 3:1 by row count exactly like the contiguous fixture (where
    // the cut id equals 3n/4 and every recorded hash is unchanged), and
    // delta_rows below is a true row count on any id space
    val b = 3L * n / 4
    val cut = idsAtRanks(all, Seq(b + 1), n)(b + 1)
    val (_, baseLists, refined) =
      ivfListsOn(all.filter(col("vec_id") < cut), NLISTS)
    val delta = all.filter(col("vec_id") >= cut)
      .withColumn("cid", assignTo(refined)(col("embedding")))
      .select(col("cid"), col("vec_id"), col("embedding"))

    val snap = new graft.matview.Snapshots(s,
      s"${graft.matview.Materializer.defaultScratch}/ivfidx")
    val t = s"ivf_index_${dirKey(d)}"
    snap.drop(t)
    snap.commitAppendStats(t,
      baseLists.select(col("cid"), col("vec_id"), col("embedding")),
      Seq("cid"))
    snap.compactClustered(t, "cid", IDX_SHARDS, Seq("cid"))
    snap.commitAppendStats(t, delta, Seq("cid"))
    val nVersions = snap.latest(t) + 1

    // serve purely from the persisted index (base shards + delta dir)
    val idx = snap.readLatest(t).withColumn("nrm", norm(col("embedding")))
    val probeUdf = udf { (emb: Array[Float]) =>
      refined.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(NPROBE).map(_._2)
    }
    val queries = idx.filter(col("vec_id") < NUM_QUERIES && col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cid"), col("nrm").as("qn"))
    val scored = broadcast(queries)
      .join(idx.filter(col("nrm") > 0), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()

    // point-probe planning fact: the list holding vec 0 reads its ONE
    // clustered base shard (cid ranges are disjoint by construction)
    // plus at most the delta dir
    val cid0 = baseLists.filter(col("vec_id") === 0)
      .select(col("cid")).head().getInt(0)
    val pr = snap.readPrunedEq(t, snap.latest(t), "cid", cid0.toString)
    val listRows = pr.df.filter(col("cid") === cid0).count()
    val fullRows = idx.filter(col("cid") === cid0).count()

    topkExact(scored)
      .withColumn("n_versions", lit(nVersions.toLong))
      .withColumn("delta_rows", lit(n - b))
      .withColumn("probe_pruned", lit(pr.dirsRead < pr.dirsTotal))
      .withColumn("probe_rows_ok", lit(listRows == fullRows && listRows > 0))
  }

  /** Delta-fold policy for the incremental ANN index (r15, VERDICT item
    * 6): each append adds one delta dir, so N appends accumulate N dirs
    * and a point probe's read cost grows O(N). The maintenance rule of
    * every log-structured index applies — when the manifest carries more
    * than `maxDeltas` dirs beyond the clustered shards, fold everything
    * back into `shards` cid-clustered dirs with ONE compactClustered
    * commit. Folding is a pure layout move (the quantizer is frozen and
    * assignments ride IN the rows), so query results are invariant under
    * any fold schedule; read cost is bounded at shards + maxDeltas dirs
    * no matter how many appends arrive. Returns true when a fold ran. */
  private[graft] def indexMaintain(snap: graft.matview.Snapshots, t: String,
      maxDeltas: Int, shards: Int = IDX_SHARDS): Boolean = {
    val dirs = snap.manifestDirs(t, snap.latest(t))
    if (dirs > shards + maxDeltas) {
      snap.compactClustered(t, "cid", shards, Seq("cid"))
      true
    } else false
  }

  /** Maintained incremental index — [[similarityIndexAppend]]'s pattern
    * continued past one batch: the quantizer trains once on the base
    * half, THREE delta batches append against the frozen centroids, and
    * the [[indexMaintain]] policy (fold when deltas > 2) folds the
    * accumulated deltas back into the clustered layout. With 3 appends
    * the policy fires exactly once (5, 6 dirs pass; 7 folds to
    * [[IDX_SHARDS]]), so the pinned facts are deterministic: `n_folds`
    * = 1, `dirs_latest` = IDX_SHARDS, `rows_total_ok` (the fold lost
    * nothing), `probe_pruned`/`probe_rows_ok` (a point probe of the
    * folded layout reads 1 clustered shard and returns the full list).
    * The oracle replays base-only training, the frozen-centroid delta
    * assignments, and the served top-k — which must be IDENTICAL to the
    * unfolded union, the invariant that makes fold scheduling a pure
    * cost decision at 100 TB. */
  def similarityIndexMaintain(s: SparkSession, d: String): DataFrame = {
    val all = load(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val n = all.count()
    require(n > 0,
      "similarityIndexMaintain requires a non-empty embeddings relation")
    // base + 3 delta batches cut by RANK, not id value (r16, r15
    // ADVICE): value-ranged cuts on a gapped id space could leave a
    // delta batch EMPTY — breaking the pinned n_folds = 1 — and made
    // rows_total_ok compare against max(vec_id)+1 instead of the true
    // row count. Rank cuts guarantee every batch carries ~r/3 rows on
    // any id space (for r >= 3), and on the contiguous fixture the cut
    // ids equal the old values, so recorded hashes are unchanged.
    val b = n / 2
    val r = n - b
    val rankCuts = Seq(b, b + r / 3, b + 2 * r / 3)
    val cutIds = idsAtRanks(all, rankCuts.map(_ + 1), n)
    val cuts = rankCuts.map(c => cutIds(c + 1)) :+ Long.MaxValue
    val (_, baseLists, refined) =
      ivfListsOn(all.filter(col("vec_id") < cuts.head), NLISTS)

    val snap = new graft.matview.Snapshots(s,
      s"${graft.matview.Materializer.defaultScratch}/ivfidx")
    val t = s"ivf_maint_${dirKey(d)}"
    snap.drop(t)
    snap.commitAppendStats(t,
      baseLists.select(col("cid"), col("vec_id"), col("embedding")),
      Seq("cid"))
    snap.compactClustered(t, "cid", IDX_SHARDS, Seq("cid"))
    var folds = 0
    (0 until 3).foreach { i =>
      val delta = all
        .filter(col("vec_id") >= cuts(i) && col("vec_id") < cuts(i + 1))
        .withColumn("cid", assignTo(refined)(col("embedding")))
        .select(col("cid"), col("vec_id"), col("embedding"))
      snap.commitAppendStats(t, delta, Seq("cid"))
      if (indexMaintain(snap, t, maxDeltas = 2)) folds += 1
    }
    val dirsLatest = snap.manifestDirs(t, snap.latest(t))

    // serve purely from the persisted (now folded) index
    val idx = snap.readLatest(t).withColumn("nrm", norm(col("embedding")))
    val rowsTotal = idx.count()
    val probeUdf = udf { (emb: Array[Float]) =>
      refined.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(NPROBE).map(_._2)
    }
    val queries = idx.filter(col("vec_id") < NUM_QUERIES && col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cid"), col("nrm").as("qn"))
    val scored = broadcast(queries)
      .join(idx.filter(col("nrm") > 0), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()

    val cid0 = baseLists.filter(col("vec_id") === 0)
      .select(col("cid")).head().getInt(0)
    val pr = snap.readPrunedEq(t, snap.latest(t), "cid", cid0.toString)
    val listRows = pr.df.filter(col("cid") === cid0).count()
    val fullRows = idx.filter(col("cid") === cid0).count()

    topkExact(scored)
      .withColumn("n_folds", lit(folds.toLong))
      .withColumn("dirs_latest", lit(dirsLatest.toLong))
      .withColumn("rows_total_ok", lit(rowsTotal == n))
      .withColumn("probe_pruned", lit(pr.dirsRead < pr.dirsTotal))
      .withColumn("probe_rows_ok", lit(listRows == fullRows && listRows > 0))
  }

  /** Streaming vector ingestion into the incremental ANN index (r17) —
    * the continuous face of [[similarityIndexMaintain]], completing the
    * index lifecycle (append / maintain / delete / STREAM): vectors
    * arrive as time-ordered micro-batches (Structured Streaming file
    * source, one chunk per trigger), each batch is assigned to the
    * FROZEN base-trained centroids inside `foreachBatch` and committed
    * as one exactly-once append (the txn guard of the log format — a
    * replayed batch is a no-op, not a duplicate), and the
    * [[indexMaintain]] fold policy runs AFTER EVERY COMMIT, so read
    * cost stays bounded at shards + maxDeltas dirs no matter how long
    * the stream runs. The replay probe fires AFTER the fold — the
    * absorbed txn ids must survive compaction for streaming ingest +
    * maintenance to compose (the guard-survives-compaction property,
    * exercised on the index itself).
    *
    * The batch split is the SAME rank-keyed thirds as the batch-mode
    * maintain key, and folding is a pure layout move — so the served
    * top-k, and therefore the oracle, are IDENTICAL to the batch key's:
    * the stream is an execution strategy, not a semantics change, which
    * is exactly the property worth pinning. Extra fact vs the batch
    * key: `replay_skipped` (the re-delivered batch changed nothing). */
  def similarityIndexStream(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Paths
    import graft.streaming.StreamingOps.{drain, replay, stage}
    val all = load(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val n = all.count()
    require(n >= 6,
      "similarityIndexStream needs >= 6 vectors for 3 non-empty batches")
    val b = n / 2
    val r = n - b
    val rankCuts = Seq(b, b + r / 3, b + 2 * r / 3)
    val cutIds = idsAtRanks(all, rankCuts.map(_ + 1), n)
    val cuts = rankCuts.map(c => cutIds(c + 1)) :+ Long.MaxValue
    val (_, baseLists, refined) =
      ivfListsOn(all.filter(col("vec_id") < cuts.head), NLISTS)

    // stage the arriving half as 3 time-ordered chunk files in one job
    // (the streaming-key staging discipline: one file per micro-batch,
    // delivered in arrival order)
    val scratch = graft.matview.Materializer.defaultScratch
    val staged = Paths.get(s"$scratch/idx_stream_src_${dirKey(d)}")
    val ckpt = Paths.get(s"$scratch/idx_stream_ckpt_${dirKey(d)}")
    graft.matview.Dirs.delete(ckpt)
    stage(staged, all.filter(col("vec_id") >= cuts(0)).coalesce(1)
      .withColumn("__chunk", when(col("vec_id") < cuts(1), 1)
        .when(col("vec_id") < cuts(2), 2).otherwise(3)))

    val snap = new graft.matview.Snapshots(s, s"$scratch/ivfidx")
    val t = s"ivf_stream_${dirKey(d)}"
    snap.drop(t)
    snap.commitAppendStats(t,
      baseLists.select(col("cid"), col("vec_id"), col("embedding")),
      Seq("cid"))
    snap.compactClustered(t, "cid", IDX_SHARDS, Seq("cid"))
    var folds = 0
    val assign = assignTo(refined)
    val vecSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    drain(replay(s, staged, vecSchema).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        snap.commitAppendStats(t,
          batch.withColumn("cid", assign(col("embedding")))
            .select(col("cid"), col("vec_id"), col("embedding")),
          Seq("cid"), txn = Some(s"vec-$batchId"))
        if (indexMaintain(snap, t, maxDeltas = 2)) folds += 1
        ()
      })
    val committed = snap.latest(t) + 1
    // at-least-once re-delivery, AFTER the fold absorbed the ingestion
    // txn ids into the clustered shards: batch 1's data under its
    // original id must still be a no-op
    val afterReplay = {
      val chunk2 = s.read.schema(vecSchema)
        .parquet(staged.resolve("chunk_02.parquet").toString)
      snap.commitAppendStats(t,
        chunk2.withColumn("cid", assign(col("embedding")))
          .select(col("cid"), col("vec_id"), col("embedding")),
        Seq("cid"), txn = Some("vec-1"))
      snap.latest(t) + 1
    }
    val dirsLatest = snap.manifestDirs(t, snap.latest(t))

    // serve purely from the persisted (streamed, folded) index
    val idx = snap.readLatest(t).withColumn("nrm", norm(col("embedding")))
    val rowsTotal = idx.count()
    val probeUdf = udf { (emb: Array[Float]) =>
      refined.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(NPROBE).map(_._2)
    }
    val queries = idx.filter(col("vec_id") < NUM_QUERIES && col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(probeUdf(col("embedding"))).as("cid"), col("nrm").as("qn"))
    val scored = broadcast(queries)
      .join(idx.filter(col("nrm") > 0), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9).as("score"))
      .distinct()

    topkExact(scored)
      .withColumn("n_folds", lit(folds.toLong))
      .withColumn("dirs_latest", lit(dirsLatest.toLong))
      .withColumn("rows_total_ok", lit(rowsTotal == n))
      .withColumn("replay_skipped", lit(afterReplay == committed))
  }

  /** Deletion in the incremental ANN index (r17, r16 VERDICT item 4) —
    * the takedown/contamination-purge path every production vector store
    * must serve, the one index operation [[similarityIndexAppend]] /
    * [[similarityIndexMaintain]] (grow and fold) cannot express.
    * Log-structured delete in three moves: (1) tombstones commit as ONE
    * O(deleted) append — rows (cid, vec_id, tomb=true), never a rewrite
    * of the immutable shards (at 100 TB a takedown touches O(takedown),
    * not O(index)); (2) reads are MERGE-ON-READ — live = non-tombstone
    * rows anti-joined against the tombstoned ids; (3) the next
    * maintenance fold RESOLVES them — [[graft.matview.Snapshots
    * .compactClustered]]'s resolve hook (the deletion-vector-apply role
    * of a lakehouse OPTIMIZE) rewrites only the survivors back into the
    * clustered layout, and the tombstones vanish with the superseded
    * dirs. The deleted slice is rank-keyed — ranks (n/4, 3n/8] of the
    * vec_id order, inside the BASE half — via [[idsAtRanks]], so a
    * gapped id space deletes the same row count as the contiguous
    * fixture (the r16 rank-cut spec, extended to deletes).
    *
    * What the oracle proves: base-only training, frozen-centroid delta
    * assignment, and the served top-k over exactly the SURVIVING corpus
    * — serving a deleted vector, or dropping a survivor, hash-fails.
    * Physical facts pinned: `n_versions` (base, clustered rewrite,
    * delta, tombstone, fold = 5), `deleted_rows` (an exact rank-window
    * count on any id space), `rows_total_ok` (post-fold rows = n −
    * deleted), `tomb_gone` (no tombstone survives the fold), `mor_ok`
    * (the merge-on-read serve BEFORE the fold equals the post-fold
    * serve — deletes are visible immediately and the fold stays a pure
    * layout move), `dirs_latest` (the fold restored the [[IDX_SHARDS]]
    * clustered layout), and the point-probe pruning pair of the sibling
    * keys (probed at the id of RANK 1, which is always in base and
    * never deleted). */
  def similarityIndexDelete(s: SparkSession, d: String): DataFrame = {
    val all = load(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val n = all.count()
    require(n >= 8,
      "similarityIndexDelete needs >= 8 vectors to cut base/delta/delete")
    val b = 3L * n / 4
    val dLo = n / 4
    val dHi = 3L * n / 8
    val ids = idsAtRanks(all, Seq(1L, dLo + 1, dHi + 1, b + 1), n)
    val cut = ids(b + 1)
    val delLo = ids(dLo + 1)
    val delHi = ids(dHi + 1)
    val probeId = ids(1L)
    val (_, baseLists, refined) =
      ivfListsOn(all.filter(col("vec_id") < cut), NLISTS)

    val snap = new graft.matview.Snapshots(s,
      s"${graft.matview.Materializer.defaultScratch}/ivfidx")
    val t = s"ivf_del_${dirKey(d)}"
    snap.drop(t)
    snap.commitAppendStats(t,
      baseLists.select(col("cid"), col("vec_id"), col("embedding"),
        lit(false).as("tomb")),
      Seq("cid"))
    snap.compactClustered(t, "cid", IDX_SHARDS, Seq("cid"))
    snap.commitAppendStats(t,
      all.filter(col("vec_id") >= cut)
        .withColumn("cid", assignTo(refined)(col("embedding")))
        .select(col("cid"), col("vec_id"), col("embedding"),
          lit(false).as("tomb")),
      Seq("cid"))
    // the tombstone commit: O(deleted) rows, key + list id only — the
    // embedding does NOT travel (a takedown carries no payload)
    snap.commitAppendStats(t,
      baseLists.filter(col("vec_id") >= delLo && col("vec_id") < delHi)
        .select(col("cid"), col("vec_id"),
          lit(null).cast("array<float>").as("embedding"),
          lit(true).as("tomb")),
      Seq("cid"))

    // merge-on-read resolution, shared verbatim between the read path
    // and the fold (the whole point: the fold applies exactly what every
    // reader was already applying)
    def resolve(idx: DataFrame): DataFrame =
      idx.filter(!col("tomb")).join(
        idx.filter(col("tomb")).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    // serve purely from a live (tombstone-resolved) index relation
    def serve(live: DataFrame): DataFrame = {
      val idx = live.withColumn("nrm", norm(col("embedding")))
      val probeUdf = udf { (emb: Array[Float]) =>
        refined.map { case (cid, cent) =>
          var acc = 0.0; var i = 0
          while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
          (acc, cid)
        }.sortBy(-_._1).take(NPROBE).map(_._2)
      }
      val queries = idx.filter(col("vec_id") < NUM_QUERIES && col("nrm") > 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          explode(probeUdf(col("embedding"))).as("cid"), col("nrm").as("qn"))
      val scored = broadcast(queries)
        .join(idx.filter(col("nrm") > 0), Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(dot("qe", "embedding") / (col("qn") * col("nrm")), 9)
            .as("score"))
        .distinct()
      topkExact(scored)
    }
    // the merge-on-read serve, BEFORE the fold (NUM_QUERIES × K rows)
    val morRows = serve(resolve(snap.readLatest(t))).collect().toSeq
    // the fold: one clustered rewrite of the SURVIVORS
    snap.compactClustered(t, "cid", IDX_SHARDS, Seq("cid"),
      resolve = resolve)
    val nVersions = snap.latest(t) + 1
    val dirsLatest = snap.manifestDirs(t, snap.latest(t))
    val idxF = snap.readLatest(t)
    val rowsTotal = idxF.count()
    val tombLeft = idxF.filter(col("tomb")).count()
    val served = serve(idxF)
    val morOk = served.collect().toSeq == morRows

    val cid0 = baseLists.filter(col("vec_id") === probeId)
      .select(col("cid")).head().getInt(0)
    val pr = snap.readPrunedEq(t, snap.latest(t), "cid", cid0.toString)
    val listRows = pr.df.filter(col("cid") === cid0).count()
    val fullRows = idxF.filter(col("cid") === cid0).count()

    served
      .withColumn("n_versions", lit(nVersions.toLong))
      .withColumn("deleted_rows", lit(dHi - dLo))
      .withColumn("rows_total_ok", lit(rowsTotal == n - (dHi - dLo)))
      .withColumn("tomb_gone", lit(tombLeft == 0L))
      .withColumn("mor_ok", lit(morOk))
      .withColumn("dirs_latest", lit(dirsLatest.toLong))
      .withColumn("probe_pruned", lit(pr.dirsRead < pr.dirsTotal))
      .withColumn("probe_rows_ok", lit(listRows == fullRows && listRows > 0))
  }

  /** Semantic diversity cap — the SemDeDup-family selection step: bound
    * per-semantic-cluster redundancy by keeping at most CAP vectors per
    * IVF list, most-central first (dot with the refined centroid, ties to
    * the smaller vec_id). Near-identical embeddings land in one list and
    * compete for the same CAP slots, so redundant mass is dropped while
    * every occupied semantic region keeps representation.
    *
    * Exactness: the centrality dot is the same ascending-index sequential
    * fold as the assignment UDF, so the doubles — and therefore the
    * per-list ranks — are bit-identical in the oracle's replay; the
    * reported centrality is rounded to 9 dp to absorb any future ulp
    * drift. Scale shape: the rank window is PARTITIONED BY the list id
    * (inverted-list-sized partitions, never global); centroids ride the
    * UDF closure exactly like assignment. */
  def corpusDiversityCap(s: SparkSession, d: String): DataFrame = {
    val (_, lists, refined) = ivfLists(s, d)
    val centByCid = refined.toMap
    // primitive signature (the assignUdf unboxing rationale) — this one
    // also walks the whole corpus, one dot per row
    val centDot = udf { (emb: Array[Float], cid: Int) =>
      val cent = centByCid(cid)
      var acc = 0.0; var i = 0
      while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
      acc
    }
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("cdot").desc, col("vec_id").asc)
    lists
      .select(col("cid"), col("vec_id"),
        centDot(col("embedding"), col("cid")).as("cdot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= DIVERSITY_CAP)
      .select(col("cid"), col("vec_id"), col("rank"),
        round(col("cdot"), 9).as("centrality"))
      .orderBy("cid", "rank")
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * compression every vector index at 100 TB runs (4x smaller than
    * float32, dot products in integer SIMD). Per vector: max-abs scale,
    * codes round(x * 127 / scale), and the quality report a pipeline
    * actually needs — reconstruction L2 error, saturation count (always
    * >= 1: the max-abs element lands exactly on +-127), and an exact
    * integer checksum of the codes so the oracle pins every code, not
    * just the error summary.
    *
    * Pure per-row projection, no shuffle. Folds are sequential (Spark
    * `aggregate` == DuckDB `list_reduce`), so the error doubles match
    * bitwise; codes are exact integers (both engines round half away
    * from zero for doubles). */
  def embeddingQuantize(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
          .as("scale"))
      // all-zero vectors have no max-abs scale: x*127/0 is NaN and the
      // int cast of round(NaN) diverges between engines (ANSI throw vs
      // conversion error) — excluded identically on both sides
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("embedding"), col("scale"),
        expr("transform(embedding," +
          " x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS INT))")
          .as("q"))
      .select(
        col("vec_id"),
        round(col("scale"), 9).as("scale_r"),
        expr("aggregate(zip_with(q, sequence(1, size(q)), (c, i) -> c * i)," +
          " CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_checksum"),
        expr("size(filter(q, c -> abs(c) = 127))").as("n_sat"),
        round(sqrt(expr(
          "aggregate(zip_with(embedding, q," +
            " (x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE) * scale / 127.0)," +
            " CAST(0 AS DOUBLE), (a, e) -> a + e * e)")), 9).as("l2_err"))
      .orderBy("vec_id")

  /** ANN over the int8-quantized index with exact float rerank — the
    * IVF-PQ-lite pattern: candidate scoring runs on 4x-smaller integer
    * codes (the storage layout [[embeddingQuantize]] produces; integer
    * dot products are what SIMD vector indexes actually execute), the
    * top-[[RERANK_WIDTH]] per query then rerank on full floats.
    *
    * Fully deterministic and oracle-replayable end to end: code dot
    * products are EXACT longs, quantized norms are sqrt of exact longs,
    * and the rerank reuses the 9-rounded exact-cosine contract of every
    * ANN key, so both stages order identically in any engine. The
    * quantized scan is brute-force (the pruning structures are the LSH /
    * IVF keys — this key isolates the quantized-scoring stage); at 100 TB
    * the same scoring expression runs inside those keys' candidate
    * streams. Both stages keep O(k) state per query ([[TopKAgg]]), so the
    * only shuffles are the two k-bounded aggregates. */
  private val RERANK_WIDTH = 32

  def similarityAnnQuantized(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
          .as("scale"))
      .filter(col("scale") > 0)
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding," +
          " x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale) AS INT))")
          .as("q"))
      .withColumn("qn", sqrt(
        expr("CAST(aggregate(q, CAST(0 AS BIGINT)," +
          " (a, c) -> a + CAST(c AS BIGINT) * c) AS DOUBLE)"))
      )
    val queries = e.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("qn").as("qqn"))
    // stage 1: exact integer code dots, approx cosine from quantized norms
    val approx = broadcast(queries)
      .join(e.select(col("vec_id"), col("q"), col("qn")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (expr("CAST(aggregate(zip_with(qq, q, (x, y) -> x * y)," +
          " CAST(0 AS BIGINT), (a, p) -> a + CAST(p AS BIGINT)) AS DOUBLE)") /
          (col("qqn") * col("qn"))).as("ascore"))
    val cand = approx.groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .top_k(col("ascore"), col("vec_id"), RERANK_WIDTH).as("top"))
      .select(col("query_id"), explode(col("top.neighbor_id")).as("vec_id"))
    // stage 2: exact float rerank of the quantized shortlist
    val full = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val fq = full.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn2"))
    val scored = cand
      .join(broadcast(fq), "query_id")
      .join(full, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn2") * col("nrm")), 9).as("score"))
    topkExact(scored)
  }

  // product quantization geometry — the standard PQ8x8: M subspaces of
  // SUBDIM dims, 256 codewords per subspace -> 8 one-byte codes per
  // vector at DIM=64 (vs 256 float bytes, 32x), the compression that
  // lets a 100 TB corpus's index live in executor memory
  private val PQ_M = 8
  private val PQ_SUBDIM = DIM / PQ_M
  private val PQ_KSUB = 256
  // the PQ shortlist is 4x the int8 path's RERANK_WIDTH: one-byte codes
  // on RAW vectors (no residuals) still blur ADC ranking enough to need
  // a wider exact-rerank net. Measured recall@5 at sf0.1 (2000 vectors,
  // ~750 probed candidates/query): 16 codes/width 32 -> 0.54; 256
  // codes/width 64 -> 0.92; 256/128 -> 1.00. Rerank cost stays trivial
  // (128 exact dots per query).
  //
  // r15: the FLOOR of an adaptive width. ADC noise displaces true
  // neighbors by a roughly constant FRACTION of the candidate stream,
  // so a fixed 128 collapses as the corpus grows: at sf1 (20k vectors,
  // ~7.5k probed candidates/query) recall@5 read 0.68 at width 128 and
  // was CODEBOOK-INSENSITIVE (0.62 at ksub=64, 0.66 at 1024 — the
  // shortlist, not the quantizer, was the binding constraint), while
  // widths 512/1024 read 0.98/1.00 at the same wall-clock (ProfPqGeom).
  // The gate key therefore sizes the shortlist to the probed stream:
  // max(128, ceil(N * NPROBE / (NLISTS * 8))) — 128 at every fixture SF
  // (hashes unchanged), ~940 at sf1, growing with the corpus while
  // staying a trivial number of exact dots per query.
  private val PQ_RERANK = 128

  /** PQ codebook training + corpus encoding over a coarse-assigned
    * relation `lists(vec_id, cid, embedding, ...)` — the shared first
    * stage of [[similarityIvfPq]] and [[dedupSemantic]]'s pair
    * pre-scoring. Training touches only the embeddings (seeds = first
    * [[PQ_KSUB]] vec_ids, squared-L2 nearest assignment with ties to
    * the lowest code, ONE Lloyd pass whose per-dim means fold in vec_id
    * order), so the codebook is independent of which coarse quantizer
    * produced `cid`; the returned codes relation carries cid through.
    * Returns (refined codebooks [m][k][dim], codes(vec_id, cid, codes)). */
  private[graft] def pqTrainEncode(s: SparkSession, lists: DataFrame)
      : (Array[Array[Array[Double]]], DataFrame) =
    pqTrainEncodeK(s, lists, PQ_KSUB)

  /** [[pqTrainEncode]] with an explicit codeword count (r15: the last
    * fixed ANN-geometry constant made a parameter — the gate keys keep
    * [[PQ_KSUB]]=256, and a deployment sizes the codebook to the data's
    * intrinsic diversity). The encode kernel derives every dimension
    * from the codebook SHAPE, so the arithmetic is identical at any
    * ksub and the fixture keys' hashes are unchanged. */
  private[graft] def pqTrainEncodeK(s: SparkSession, lists: DataFrame,
      ksub: Int): (Array[Array[Array[Double]]], DataFrame) = {
    import s.implicits._
    // --- PQ training: seeds -> assign -> one Lloyd pass -> codebooks
    val seedCb: Array[Array[Array[Double]]] = {
      val seedRows = lists.orderBy("vec_id").limit(ksub)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      // fewer vectors than codewords would AIOOBE below with an
      // inscrutable index — fail with the contract instead (a corpus
      // this small has no business training a ksub-codeword PQ)
      require(seedRows.length >= ksub,
        s"PQ training needs at least $ksub vectors to seed the " +
          s"codebook, got ${seedRows.length}")
      // codeword keys are the POSITION of the seed row in vec_id order —
      // the dense rank — and the oracle's seeds_m CTEs replay exactly
      // that (ROW_NUMBER() OVER (ORDER BY vec_id) - 1), so gapped id
      // spaces train the identical codebook on both sides (r15; the r14
      // 0..KSUB-1 contract require is gone)
      val rows = seedRows.map(_._2)
      Array.tabulate(PQ_M, ksub, PQ_SUBDIM)((m, k, i) =>
        rows(k)(m * PQ_SUBDIM + i).toDouble)
    }
    // encoding runs as a typed Dataset map over primitive float arrays —
    // the signatures-kernel pattern: a Seq[Float] UDF boxes every element
    // access, and at 256 codewords the encode is 16k array reads per
    // vector (measured 4.9s -> 2.3s at sf1 from this alone)
    // a val lambda, not a local def: a nested def compiles to a method on
    // the (non-serializable) enclosing object and task closures calling
    // it would capture Similarity$ itself
    // every dimension derived from the codebook shape (cb.length
    // subspaces, cb(m).length codewords, cb(m)(k).length sub-dims):
    // the identical loop order and arithmetic at any geometry
    val encode = (cb: Array[Array[Array[Double]]], emb: Array[Float]) =>
      Array.tabulate(cb.length) { m =>
        val cws = cb(m)
        val subdim = cws(0).length
        var best = 0; var bestDist = Double.MaxValue
        val base = m * subdim
        var k = 0
        while (k < cws.length) {
          val cw = cws(k)
          var acc = 0.0; var i = 0
          while (i < subdim) {
            val dd = emb(base + i) - cw(i)
            acc += dd * dd; i += 1
          }
          if (acc < bestDist) { bestDist = acc; best = k }
          k += 1
        }
        best
      }
    val typed = lists.select(col("vec_id"), col("cid"), col("embedding"))
      .as[(Long, Int, Array[Float])]
    val codes0 = typed.map { case (id, _, emb) =>
      (id, encode(seedCb, emb), emb) }.toDF("vec_id", "codes", "embedding")
    val refinedCb: Array[Array[Array[Double]]] = {
      val rows = codes0
        .select(col("vec_id"), explode(array((0 until PQ_M).map(m =>
          struct(lit(m).as("m"), col("codes")(m).as("code"),
            slice(col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM).as("sv")))
          : _*)).as("x"))
        .select(col("vec_id"), col("x.m").as("m"), col("x.code").as("code"),
          col("x.sv").as("sv"))
        .groupBy("m", "code")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("sv"))))
          .as("vs"))
        .select(col("m"), col("code"), expr(
          s"""transform(
             |  aggregate(vs, array_repeat(CAST(0 AS DOUBLE), $PQ_SUBDIM),
             |    (acc, v) -> zip_with(acc, v.sv,
             |      (a, x) -> a + CAST(x AS DOUBLE))),
             |  t -> t / size(vs))""".stripMargin).as("cent"))
        .as[(Int, Int, Array[Double])].collect()
      require(rows.length == PQ_M * ksub,
        s"PQ refine lost a codeword: ${rows.length} of ${PQ_M * ksub}")
      val cb = Array.ofDim[Array[Double]](PQ_M, ksub)
      rows.foreach { case (m, k, c) => cb(m)(k) = c }
      cb
    }
    val codes = typed.map { case (id, cid, emb) =>
      (id, cid, encode(refinedCb, emb)) }.toDF("vec_id", "cid", "codes")
    (refinedCb, codes)
  }

  /** IVF-PQ: the production-scale ANN composition — the [[ivfLists]]
    * coarse quantizer prunes the corpus to NPROBE inverted lists per
    * query, per-subspace product-quantization codes compress every
    * vector to [[PQ_M]] one-byte code ids, candidates are scored by
    * asymmetric distance computation (ADC: one query-side lookup table
    * of query-subvector x codeword dots, the candidate's approximate dot
    * = M table adds, never touching its floats), and the ADC shortlist
    * is reranked on exact cosine — the [[similarityAnnQuantized]]
    * two-stage contract with a pruned, compressed first stage.
    *
    * PQ codebooks are trained like the coarse quantizer ([[pqTrainEncode]]):
    * deterministic seeds (the first KSUB vectors' subvectors),
    * nearest-codeword assignment by squared L2 (sequential fold, ties to
    * the lowest code), ONE Lloyd refinement whose per-dim means fold in
    * vec_id order on the executors — so the oracle replays training,
    * encoding, ADC, and rerank exactly. Codes here quantize RAW vectors
    * (not IVF residuals): residual PQ recenters each list before encoding
    * for tighter cells, at the price of coupling the codebook to the
    * coarse assignment; the shared-codebook form keeps the two stages
    * independent (either can be rebuilt alone) and the exact rerank
    * absorbs the lost precision at these list sizes.
    *
    * Every seed subvector of one subspace must be distinct (the
    * [[ivfLists]] seed invariant, per subspace): a duplicated seed pair
    * would leave the higher code id memberless (every tie breaks low),
    * and the refine fold indexes codewords by id. Holds here and in
    * SfGen; the gated key hash-mismatches loudly if it ever breaks. */
  def similarityIvfPq(s: SparkSession, d: String): DataFrame = {
    // adaptive shortlist width (see the PQ_RERANK note): exact integer
    // ceil, replayed by the oracle from COUNT(*). Clamped to Int range
    // BEFORE the truncation (r15 ADVICE): at ~1.7e10 vectors the Long
    // width exceeds Int.MaxValue and a bare .toInt would wrap negative,
    // silently emptying every shortlist — the clamp keeps the width at
    // the widest representable value instead (the oracle carries the
    // identical LEAST), and TopKAgg degrades to keep-everything, never
    // to keep-nothing.
    val n = load(s, d, "embeddings").count()
    val denom = NLISTS.toLong * 8
    val rerank = math.min(Int.MaxValue.toLong, math.max(PQ_RERANK.toLong,
      (n * NPROBE + denom - 1) / denom)).toInt
    similarityIvfPqWith(s, d, PQ_KSUB, rerank)
  }

  /** [[similarityIvfPq]] with an explicit codeword count — the gate key
    * pins the fixture PQ8x256; geometry probes (ProfPqGeom) measure
    * recall/cost at other codebook sizes through the identical
    * pipeline. */
  private[graft] def similarityIvfPqWith(s: SparkSession, d: String,
      ksub: Int, rerank: Int = PQ_RERANK): DataFrame = {
    import s.implicits._
    // the coarse-assigned relation has four consumers (seed collect, seed
    // encode, final encode, query probe); re-derivation is deterministic
    // (centroids are driver-collected) and an A/B showed checkpointing it
    // buys nothing at sf1 once encoding is unboxed — at 100 TB the list
    // assignment is a persisted index artifact either way
    val (_, lists, coarse) = ivfLists(s, d)
    val (refinedCb, codes) = pqTrainEncodeK(s, lists, ksub)

    // --- query side: coarse probe + ADC lookup table
    // primitive signatures (the assignUdf unboxing rationale) — these
    // two only touch NUM_QUERIES rows, but one convention for every
    // vector UDF in the file
    val probeUdf = udf { (emb: Array[Float]) =>
      coarse.map { case (cid, cent) =>
        var acc = 0.0; var i = 0
        while (i < cent.length) { acc += emb(i) * cent(i); i += 1 }
        (acc, cid)
      }.sortBy(-_._1).take(NPROBE).map(_._2)
    }
    val lutUdf = udf { (emb: Array[Float]) =>
      Array.tabulate(PQ_M * ksub) { j =>
        val m = j / ksub; val k = j % ksub
        var acc = 0.0; var i = 0
        while (i < PQ_SUBDIM) {
          acc += emb(m * PQ_SUBDIM + i) * refinedCb(m)(k)(i); i += 1
        }
        acc
      }
    }
    val queries = lists.filter(col("vec_id") < NUM_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        lutUdf(col("embedding")).as("lut"),
        explode(probeUdf(col("embedding"))).as("cid"))
      .drop("qe")

    // --- stage 1: ADC over the probed lists (M table adds per candidate,
    // fold in subspace order — the oracle's left-associated sum)
    val approx = broadcast(queries)
      .join(codes.select("cid", "vec_id", "codes"), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), expr(
        s"""aggregate(sequence(0, ${PQ_M - 1}), CAST(0 AS DOUBLE),
           |  (acc, m) -> acc + lut[m * $ksub + codes[m]])"""
          .stripMargin).as("ascore"))
    val cand = approx.groupBy("query_id")
      .agg(graft.functions.TopKAgg
        .top_k(col("ascore"), col("vec_id"), rerank).as("top"))
      .select(col("query_id"), explode(col("top.neighbor_id")).as("vec_id"))

    // --- stage 2: exact float rerank of the ADC shortlist; the rerank
    // excludes zero-norm vectors (the ADC stage is dot-based and may
    // shortlist one) — see norm()
    val full = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0)
    val fq = full.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn2"))
    val scored = cand
      .join(broadcast(fq), "query_id")
      .join(full, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("qe", "embedding") / (col("qn2") * col("nrm")), 9).as("score"))
    topkExact(scored)
  }

  /** Contrastive training-pair construction — the step between curation
    * and contrastive/embedding training: every anchor gets one positive
    * (the next vector of the SAME planted label, wrapping — a keyed
    * window, deterministic) and up to 4 negatives drawn by the portable
    * md5 hash of "anchor:j" over the corpus, kept only when the draw
    * lands on a DIFFERENT label (rejection without redraw: deterministic,
    * replayable, and at 10 labels rejects ~10% — the honest contract is
    * "up to NEG negatives"). Each pair carries its exact cosine, the
    * diagnostic a training pipeline checks (positives must score above
    * negatives in aggregate). Scale shape: positives are one keyed
    * window over the label partition; negative candidate ids are pure
    * per-row hashes resolved by ONE keyed join against the embedding
    * relation; cosines come from two keyed joins + the codegen'd
    * VectorDot — no all-pairs anywhere. */
  def corpusContrastivePairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val NEG = 4
    val emb = load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint() // one source, four consumers below
    val nRow = emb.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("label").orderBy("vec_id")
    val pos = emb.select(col("vec_id").as("anchor_id"),
        coalesce(lead(col("vec_id"), 1).over(w),
          first(col("vec_id")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .as("pair_id"))
      .filter(col("pair_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("pair_id"),
        lit(true).as("is_positive"), lit(0).as("pair_rank"))
    val negs = emb.select(col("vec_id").as("anchor_id"),
        col("label").as("albl"))
      .crossJoin(broadcast(nRow))
      .select(col("anchor_id"), col("albl"), col("n"),
        explode(expr(s"sequence(1, $NEG)")).as("pair_rank"))
      .withColumn("pair_id", pmod(graft.Tables.md5Bucket(
        concat(col("anchor_id").cast("string"), lit(":"),
          col("pair_rank").cast("string")), 13).cast("long"), col("n")))
      .join(emb.select(col("vec_id").as("pair_id"),
        col("label").as("plbl")), "pair_id")
      .filter(col("plbl") =!= col("albl"))
      .select(col("anchor_id"), col("pair_id"),
        lit(false).as("is_positive"), col("pair_rank"))
    val a = emb.select(col("vec_id").as("anchor_id"),
      col("embedding").as("ae"), norm(col("embedding")).as("an"))
    val b = emb.select(col("vec_id").as("pair_id"),
      col("embedding").as("pe"), norm(col("embedding")).as("pn"))
    pos.unionByName(negs)
      .join(a, "anchor_id").join(b, "pair_id")
      .select(col("anchor_id"), col("pair_id"), col("is_positive"),
        col("pair_rank"),
        // zero-norm contract, defined-score form (see norm()): the pair
        // STRUCTURE is the training set and must not silently shrink, so
        // a pair touching a direction-free vector keeps its row with a
        // NULL cosine instead of a NaN that hashes differently per engine
        when(col("an") > 0 && col("pn") > 0,
          round(dot("ae", "pe") / (col("an") * col("pn")), 9)).as("cosine"))
      .orderBy("anchor_id", "pair_rank", "pair_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster-scoped
    * semantic dedup, the embedding-space dedup formulation that SCALES:
    * k-means first (reusing [[ivfLists]]'s deterministic 1-Lloyd-pass
    * training, so the cluster structure is shared with the IVF index and
    * both oracles), then each vector compares ONLY against its own
    * cluster's lower-id members; max cosine >= 0.4 marks it a semantic
    * duplicate of an earlier representative (keep-lowest-id is the
    * deterministic greedy rule; 0.4 is this synthetic corpus's
    * documented threshold, as in the LSH embedding-dedup key).
    *
    * 100 TB shape: the cluster scope bounds candidate pairs at
    * sum C(|cluster|, 2) instead of global C(N, 2) — clusters ARE the
    * shards and no pair ever crosses one — and the cluster count SCALES
    * with the corpus: L = ceil(sqrt(N)), so expected pair work is
    * L * C(N/L, 2) ~ N^1.5 / 2 (the compact-forward-triangles growth
    * class, not quadratic). Measured: a fixed L=16 read 95s at sf10
    * (31k-vector clusters, ~7.7G pairs); sqrt-scaled, the tier is
    * seconds again and the sf1 -> sf10 step stays sublinear-quadratic.
    * The oracle derives the SAME bound in SQL (CEIL(SQRT(COUNT(*)))),
    * so train + score remain replayed exactly. At extreme scale the
    * centroid set outgrows a broadcast UDF's argument (L ~ millions) —
    * the assignment becomes a shuffled join against a centroid
    * relation; the algebra is unchanged. The pair join shuffles on cid
    * once; per-pair scoring is the codegen'd
    * [[graft.functions.VectorDot]]; the max folds map-side per vec_id. */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    // a column-less parquet scan (count reads no column chunks); the
    // driver needs L before it can build the assignment closure
    val n = load(s, d, "embeddings").count()
    val nlists = nlistsFor(n)
    // checkpointed SERIALIZED: the assignment scores L = ceil(sqrt(N))
    // centroids per vector (N=2M -> 1415 at sf100) and the plan
    // instantiates `m` three times (both pair sides + the final
    // projection). Today exchange reuse happens to dedup those subtrees
    // (measured: 370s un-checkpointed == 369s SER-checkpointed at
    // sf100); the checkpoint PINS that single-execution property
    // instead of trusting reuse across future plan changes. Storage
    // level matters enormously: the default deserialized level caches
    // 2M embedding ROW OBJECTS (~4x the serialized bytes, all
    // GC-scanned) and measured 614s at sf100 — MEMORY_AND_DISK_SER
    // (the graphTriangleSketch lesson) keeps the floats in a flat
    // GC-invisible buffer at no cost on a quiet box.
    val (_, assigned0, _) = ivfListsK(s, d, nlists)
    val assigned = assigned0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val m = assigned.select(
      col("vec_id"), col("cid"), col("embedding"), col("nrm"))
    // Pair scoring: one per-cluster kernel instead of a per-pair join
    // row (r18 optimization round). The r17 form self-joined mScore on
    // cid and scored each pair with the codegen VectorDot — exact, but
    // every one of the ~N^1.5/2 candidate pairs materialized a joined
    // UnsafeRow carrying BOTH 64-float embeddings (~0.5 KB of row copy
    // per 64-FMA dot; 44.5M pairs = ~23 GB of row writes at the sf10
    // tier). The kernel keeps the exact same arithmetic — pairs
    // enumerated in vec_id order, dot accumulated in element order in
    // double (VectorDot's documented fold), cos = dot / (a.nrm *
    // b.nrm), plain max — but runs it as one primitive-array loop per
    // cluster over a collect_list'd cluster relation, so per-pair cost
    // is the 64 FMAs and nothing else. Work distribution is unchanged
    // (a cluster's pairs always were one task's work in the cid join);
    // per-group memory is one cluster's vectors — ceil(sqrt(N)) x
    // ~0.3 KB, i.e. ~0.4 MB at sf100 — the same growth class the
    // key's N^1.5 pair bound already accepts. Measured (ProfSemK,
    // sf10, repeated-baseline control): pair phase 8.74 -> 3.60 s
    // (2.4x) with BIT-IDENTICAL output (199,552 rows, zero
    // doubleToRawLongBits diffs vs the join form; the off-codegen
    // ScalaUDF costs one row conversion per VECTOR, not per pair —
    // the opposite trade of the rejected r16 SDC pass, whose UDF sat
    // on the per-pair path).
    // zero-norm members never enter PAIR SCORING (cosine against them is
    // NaN — see norm()); they stay in the output via the left join below
    // with max_sim_lower = -1.0, kept = true (nothing is "similar" to a
    // direction-free vector). The oracle's mem CTE carries the same
    // nrm > 0 guard.
    val mScore = m.filter(col("nrm") > 0)
    val kernel = udf { (vs: Seq[org.apache.spark.sql.Row]) =>
      // sort by vec_id so "max over lower ids" is the loop prefix; the
      // sort also makes the fold order deterministic regardless of
      // collect_list's arrival order
      val arr = vs.map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getDouble(2))).sortBy(_._1).toArray
      val out = new Array[(Long, Double)](math.max(0, arr.length - 1))
      var i = 1
      while (i < arr.length) {
        val (idI, eI, nI) = arr(i)
        var m0 = Double.NegativeInfinity
        var j = 0
        while (j < i) {
          val (_, eJ, nJ) = arr(j)
          // VectorDot.dot's exact fold: element-ordered double acc
          var acc = 0.0; var k = 0
          while (k < eI.length) {
            acc += eI(k).toDouble * eJ(k).toDouble; k += 1
          }
          val c = acc / (nI * nJ)
          if (c > m0) m0 = c
          j += 1
        }
        // the lowest-id member emits no row (no lower partner), exactly
        // like the join form, and falls to -1.0 in the left join below
        out(i - 1) = (idI, m0)
        i += 1
      }
      out
    }
    val mx = mScore.groupBy("cid")
      .agg(collect_list(struct(col("vec_id"), col("embedding"),
        col("nrm"))).as("vs"))
      .select(explode(kernel(col("vs"))).as("r"))
      .select(col("r._1").as("vec_id"), col("r._2").as("mxraw"))
    m.select("vec_id", "cid").join(mx, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        round(coalesce(col("mxraw"), lit(-1.0)), 9).as("max_sim_lower"))
      .withColumn("kept", col("max_sim_lower") < lit(0.4))
      .orderBy("vec_id")
  }

  val entries: Map[String, Q] = Map(
    "dedup_semantic"             -> (dedupSemantic _),
    "similarity_ann_quantized"   -> (similarityAnnQuantized _),
    "similarity_ivf_pq"          -> (similarityIvfPq _),
    "embedding_quantize"         -> (embeddingQuantize _),
    "similarity_topk_bruteforce" -> (similarityTopkBruteforce _),
    "similarity_ann_lsh"         -> (similarityAnnLsh _),
    "similarity_ivf"             -> (similarityIvf _),
    "similarity_ivf_scaled"      -> (similarityIvfScaled _),
    "similarity_filtered_ann"    -> (similarityFilteredAnn _),
    "similarity_filtered_ann_scaled" -> (similarityFilteredAnnScaled _),
    "similarity_filtered_ann_conj" -> (similarityFilteredAnnConj _),
    "similarity_index_append"    -> (similarityIndexAppend _),
    "similarity_index_maintain"  -> (similarityIndexMaintain _),
    "similarity_index_delete"    -> (similarityIndexDelete _),
    "similarity_index_stream"    -> (similarityIndexStream _),
    "corpus_diversity_cap"       -> (corpusDiversityCap _),
    "corpus_contrastive_pairs"   -> (corpusContrastivePairs _),
  )

  /** DuckDB CTE chain replaying the deterministic hyperplane draw and the
    * per-vector signatures for a (tables x bits) LSH family — shared by the
    * ANN oracle and the embedding-dedup oracle. Yields a `sigs(vec_id, tbl,
    * sig)` relation bit-identical to [[signatures]]. */
  private[graft] def lshSigsCte(tables: Int, bits: Int): String =
    s"""nums AS (SELECT t, b, i, ((t*$bits+b)*$DIM + i + 1)::HUGEINT AS n
       |  FROM range($tables) AS rt(t), range($bits) AS rb(b), range($DIM) AS ri(i)),
       |s0 AS (SELECT t, b, i,
       |  CAST((42 + n * 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z0 FROM nums),
       |s1 AS (SELECT t, b, i, CAST((
       |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
       |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
       |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM s0),
       |s2 AS (SELECT t, b, i, CAST((
       |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
       |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
       |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM s1),
       |planes AS (SELECT t, b,
       |  list(CASE WHEN (xor(z2, z2 >> 31) & 1) = 0 THEN -1.0 ELSE 1.0 END ORDER BY i) AS plane
       |  FROM s2 GROUP BY 1, 2),
       |sigbits AS (SELECT e.vec_id, p.t, p.b,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * p.plane[i+1])),
       |    (acc, x) -> acc + x) > 0 AS bit
       |  FROM embeddings e CROSS JOIN planes p),
       |sigs AS (SELECT vec_id, t AS tbl,
       |  SUM(CASE WHEN bit THEN (1 << b) ELSE 0 END)::INTEGER AS sig
       |  FROM sigbits GROUP BY 1, 2)""".stripMargin

  // Shared replay of the IVF coarse quantizer (mirrors ivfLists): seed
  // centroids = first NLISTS vectors, argmax-dot assignment (strict >
  // keeps the first max -> row_number tie-break on cid), one Lloyd pass
  // whose per-dim means fold in vec_id order, reassignment against the
  // refined centroids. `assign2` keeps the dot for downstream ranking.
  /** The k-means assignment CTE chain with a pluggable seed-count bound:
    * the ANN oracles pin the fixed [[NLISTS]]; the semantic-dedup oracle
    * derives ceil(sqrt(count)) from the data, matching the Scala side. */
  /** The IVF training/assignment replay over source relation `src` —
    * "embeddings" for the whole-corpus ANN keys; the incremental-index
    * key passes its base CTE so the quantizer provably trains on the
    * base slice alone. Seeds are keyed by DENSE RANK of vec_id (r15),
    * matching the engine's position labels on any id space — on the
    * contiguous fixtures rank == vec_id, so recorded hashes are
    * unchanged. */
  private def ivfAssignSqlFor(seedBound: String,
      src: String = "embeddings"): String =
    s"""seeds AS (SELECT cid, embedding FROM (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding
       |  FROM $src) WHERE cid < $seedBound),
       |assign1 AS (SELECT e.vec_id, s.cid,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * s.embedding[i+1]::DOUBLE)),
       |    (acc, x) -> acc + x) AS dot
       |  FROM $src e CROSS JOIN seeds s),
       |a1 AS (SELECT vec_id, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
       |  FROM assign1) WHERE rn = 1),
       |dimsums AS (SELECT a1.cid, i,
       |  list_reduce(list_prepend(0.0::DOUBLE, list(e.embedding[i+1]::DOUBLE ORDER BY e.vec_id)),
       |    (acc, x) -> acc + x) / COUNT(*) AS c
       |  FROM a1 JOIN $src e USING (vec_id), range($DIM) AS r(i)
       |  GROUP BY a1.cid, i),
       |cents AS (SELECT cid, list(c ORDER BY i) AS cent FROM dimsums GROUP BY cid),
       |assign2 AS (SELECT e.vec_id, c.cid,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * c.cent[i+1])),
       |    (acc, x) -> acc + x) AS dot
       |  FROM $src e CROSS JOIN cents c),
       |a2 AS (SELECT vec_id, cid, dot FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
       |  FROM assign2) WHERE rn = 1)""".stripMargin

  private val ivfAssignSql = ivfAssignSqlFor(NLISTS.toString)

  /** The similarity_ivf oracle parameterized by the same (nlists, nprobe)
    * geometry as [[similarityIvfWith]] — the gate key instantiates it at
    * the fixture geometry; geometry probes (ProfIvfGeom) replay wider
    * configurations through the identical SQL; the scaled key passes
    * derived SQL expressions for both counts. */
  private[graft] def ivfOracleSqlWith(nlists: Int, nprobe: Int): String =
    ivfOracleSqlExpr(nlists.toString, nprobe.toString)

  /** The corpus-scaled geometry as SQL — the exact arithmetic of
    * [[similarityIvfScaled]]'s Scala side (GREATEST mirrors math.max,
    * CEIL(SQRT(...)) the Double ceil/sqrt; both engines run IEEE
    * doubles, so the derived counts are identical). */
  private[graft] val scaledNlistsSql: String =
    "(SELECT GREATEST(2, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings)"
  private[graft] val scaledNprobeSql: String =
    """(SELECT GREATEST(2, CAST(CEIL(1.1::DOUBLE * SQRT(
      |  GREATEST(2, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))) AS BIGINT))
      |  FROM embeddings)""".stripMargin

  /** The similarity_filtered_ann oracle parameterized by the same
    * (nlists, nprobe) geometry as [[filteredAnnWith]] — the fixture key
    * instantiates it at ([[NLISTS]], [[NPROBE]]); the scaled key passes
    * the derived-count SQL expressions. */
  private[graft] def filteredAnnOracleSqlExpr(
      nlists: String, nprobe: String): String =
    s"""WITH ${ivfAssignSqlFor(nlists)},
       |$nonZeroSql,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |lc AS (SELECT label, COUNT(*) AS lcnt FROM embeddings GROUP BY 1),
       |nt AS (SELECT COUNT(*) AS n FROM embeddings),
       |pr0 AS (SELECT a.vec_id AS query_id, a.cid, ql.label AS qlabel,
       |  ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY a.dot DESC, a.cid) AS rn
       |  FROM assign2 a JOIN lab ql ON ql.vec_id = a.vec_id
       |  WHERE a.vec_id < $NUM_QUERIES),
       |probe AS (SELECT query_id, cid, qlabel FROM pr0
       |  JOIN lc ON lc.label = pr0.qlabel CROSS JOIN nt
       |  WHERE rn <= LEAST($nlists, ($nprobe * n + lcnt - 1) // lcnt)),
       |cand AS (SELECT DISTINCT p.query_id, a2.vec_id
       |  FROM probe p JOIN a2 USING (cid)
       |  JOIN lab nl ON nl.vec_id = a2.vec_id
       |  WHERE a2.vec_id <> p.query_id AND nl.label = p.qlabel),
       |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
       |  FROM cand c
       |  JOIN nz q ON q.vec_id = c.query_id
       |  JOIN nz e ON e.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, rank, score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  private[graft] def ivfOracleSqlExpr(
      nlists: String, nprobe: String): String =
    s"""WITH ${ivfAssignSqlFor(nlists)},
       |$nonZeroSql,
       |probe AS (SELECT vec_id AS query_id, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
       |  FROM assign2 WHERE vec_id < $NUM_QUERIES) WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT p.query_id, a2.vec_id
       |  FROM probe p JOIN a2 USING (cid) WHERE a2.vec_id <> p.query_id),
       |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
       |  FROM cand c
       |  JOIN nz q ON q.vec_id = c.query_id
       |  JOIN nz e ON e.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, rank, score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Per-subspace PQ training/encoding/LUT CTEs, program-generated per
    * subspace m: raw subvectors, seed codewords (first KSUB vectors),
    * squared-L2 nearest assignment (sequential fold, ties to lowest
    * code), one Lloyd pass with vec_id-ordered per-dim mean folds,
    * re-assignment, and the query-side codeword dot table — each the
    * exact arithmetic of the Spark UDFs/folds. */
  private def pqCtes: String = pqCtesFor(PQ_KSUB)

  /** The per-subspace PQ replay with an explicit codeword count — the
    * oracle-side twin of [[pqTrainEncodeK]]'s parameterization. */
  private[graft] def pqCtesFor(ksub: Int): String = (0 until PQ_M).map { m =>
    val off = m * PQ_SUBDIM
    def l2(s: String, c: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(range($PQ_SUBDIM),
         |      i -> ($s.sv[i+1] - $c.c[i+1]) * ($s.sv[i+1] - $c.c[i+1]))),
         |      (acc, x) -> acc + x)""".stripMargin
    s"""sub_$m AS (SELECT vec_id, list_transform(range($PQ_SUBDIM),
       |    i -> embedding[$off + i + 1]::DOUBLE) AS sv FROM embeddings),
       |seeds_$m AS (SELECT code, sv AS c FROM (
       |  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id) - 1)::INTEGER AS code,
       |    sv FROM sub_$m) WHERE code < $ksub),
       |p1_$m AS (SELECT vec_id, code FROM (
       |  SELECT s.vec_id, c.code, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY ${l2("s", "c")} ASC, c.code) AS rn
       |  FROM sub_$m s CROSS JOIN seeds_$m c) WHERE rn = 1),
       |pd_$m AS (SELECT p.code, i,
       |  list_reduce(list_prepend(0.0::DOUBLE,
       |      list(s.sv[i+1] ORDER BY s.vec_id)),
       |    (acc, x) -> acc + x) / COUNT(*) AS cval
       |  FROM p1_$m p JOIN sub_$m s USING (vec_id), range($PQ_SUBDIM) AS r(i)
       |  GROUP BY p.code, i),
       |pc_$m AS (SELECT code, list(cval ORDER BY i) AS c FROM pd_$m
       |  GROUP BY code),
       |p2_$m AS (SELECT vec_id, code FROM (
       |  SELECT s.vec_id, c.code, ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |    ORDER BY ${l2("s", "c")} ASC, c.code) AS rn
       |  FROM sub_$m s CROSS JOIN pc_$m c) WHERE rn = 1),
       |lut_$m AS (SELECT q.vec_id AS query_id, c.code,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range($PQ_SUBDIM),
       |      i -> q.sv[i+1] * c.c[i+1])), (acc, x) -> acc + x) AS pdot
       |  FROM sub_$m q CROSS JOIN pc_$m c WHERE q.vec_id < $NUM_QUERIES)"""
      .stripMargin
  }.mkString(",\n")

  /** The maintained-index oracle body, shared between the batch key and
    * the streamed key (r17): base-HALF training, one frozen-centroid
    * delta CTE covering every batch, served top-k over base ∪ deltas,
    * the fold facts as structural constants — with the key-specific
    * pinned facts passed in (the batch key pins the point-probe pair,
    * the streamed key pins the exactly-once replay). */
  private def maintainStyleOracleSql(facts: String): String =
    s"""WITH nb AS (SELECT COUNT(*) AS n,
         |  COUNT(*) // 2 AS b FROM embeddings),
         |rks AS (SELECT vec_id,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings),
         |cutv AS (SELECT vec_id AS c FROM rks
         |  WHERE rn = (SELECT b FROM nb) + 1),
         |base AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < (SELECT c FROM cutv)),
         |${ivfAssignSqlFor(NLISTS.toString, "base")},
         |ddots AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * c.cent[i+1])),
         |    (acc, x) -> acc + x) AS dot
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id >= (SELECT c FROM cutv)),
         |da AS (SELECT vec_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM ddots) WHERE rn = 1),
         |alla AS (SELECT vec_id, cid FROM a2
         |  UNION ALL SELECT vec_id, cid FROM da),
         |$nonZeroSql,
         |probe AS (SELECT vec_id AS query_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM assign2 WHERE vec_id < $NUM_QUERIES) WHERE rn <= $NPROBE),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probe p JOIN alla a USING (cid) WHERE a.vec_id <> p.query_id),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score,
         |  1::BIGINT AS n_folds,
         |  ${IDX_SHARDS}::BIGINT AS dirs_latest,
         |  true AS rows_total_ok,
         |$facts FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // the assignment CTEs with the corpus-derived cluster count (same
    // ceil(sqrt(N)) as the Scala side); pair scoring replays VectorDot's
    // element-ordered double fold
    "dedup_semantic" ->
      s"""WITH ${ivfAssignSqlFor(
           // GREATEST(2, ...) mirrors the Scala side's math.max(2, ...)
           // clamp exactly — without it the engines coincide only because
           // the floor is unobservable for n >= 2, an implicit contract
           // that would silently diverge if the floor were ever raised
           "(SELECT GREATEST(2, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings)")},
         |nrm AS (SELECT vec_id, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range($DIM),
         |      i -> embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)),
         |    (acc, x) -> acc + x)) AS nrm FROM embeddings),
         |mem AS (SELECT a2.vec_id, a2.cid, e.embedding, n.nrm
         |  FROM a2 JOIN embeddings e USING (vec_id)
         |  JOIN nrm n USING (vec_id)
         |  WHERE n.nrm > 0),
         |p AS (SELECT a.vec_id,
         |    max(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range($DIM),
         |        i -> a.embedding[i+1]::DOUBLE * b.embedding[i+1]::DOUBLE)),
         |      (acc, x) -> acc + x) / (a.nrm * b.nrm)) AS mx
         |  FROM mem a JOIN mem b ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  GROUP BY a.vec_id)
         |SELECT m.vec_id, m.cid,
         |  round(coalesce(p.mx, -1.0), 9) AS max_sim_lower,
         |  (round(coalesce(p.mx, -1.0), 9) < 0.4) AS kept
         |FROM (SELECT vec_id, cid FROM a2) m
         |LEFT JOIN p ON p.vec_id = m.vec_id
         |ORDER BY m.vec_id""".stripMargin,
    // coarse probe (the similarity_ivf CTEs) intersected with the PQ
    // pipeline (per-subspace CTEs above); ADC = left-associated sum of
    // the M codeword dots, matching the Spark fold's (((0+p0)+p1)+...)
    // exactly since 0.0 + p0 == p0; shortlist 32 by (ascore DESC,
    // vec_id), then the standard 9-rounded exact-cosine rerank
    "similarity_ivf_pq" ->
      s"""WITH $ivfAssignSql,
         |$pqCtes,
         |probe AS (SELECT vec_id AS query_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY dot DESC, cid) AS rn
         |  FROM assign2 WHERE vec_id < $NUM_QUERIES) WHERE rn <= $NPROBE),
         |pqcand AS (SELECT DISTINCT p.query_id, a2.vec_id
         |  FROM probe p JOIN a2 USING (cid) WHERE a2.vec_id <> p.query_id),
         |adc AS (SELECT c.query_id, c.vec_id,
         |  ${(0 until PQ_M).map(m => s"l$m.pdot").mkString(" + ")} AS ascore
         |  FROM pqcand c
         |  ${(0 until PQ_M).map(m =>
              s"JOIN p2_$m a$m ON a$m.vec_id = c.vec_id " +
              s"JOIN lut_$m l$m ON l$m.query_id = c.query_id " +
              s"AND l$m.code = a$m.code").mkString("\n  ")}),
         |short AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ascore DESC, vec_id) AS rn FROM adc)
         |  WHERE rn <= LEAST(2147483647, GREATEST($PQ_RERANK, (SELECT
         |    (COUNT(*) * $NPROBE + ${NLISTS * 8} - 1) // ${NLISTS * 8}
         |    FROM embeddings)))),
         |$nonZeroSql,
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[],
         |    e.embedding::DOUBLE[]), 9) AS score
         |  FROM short c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // positives replayed with the identical keyed window; negative ids
    // from the identical md5 draw + rejection; cosines via the standard
    // list_cosine_similarity fold (bit-equal to the VectorDot fold)
    "corpus_contrastive_pairs" ->
      """WITH emb AS (SELECT vec_id, embedding, label FROM embeddings),
        |n AS (SELECT COUNT(*) AS n FROM emb),
        |pos AS (SELECT vec_id AS anchor_id,
        |    COALESCE(LEAD(vec_id) OVER (PARTITION BY label
        |        ORDER BY vec_id),
        |      FIRST_VALUE(vec_id) OVER (PARTITION BY label
        |        ORDER BY vec_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |          UNBOUNDED FOLLOWING)) AS pair_id
        |  FROM emb),
        |posf AS (SELECT anchor_id, pair_id, true AS is_positive,
        |    0 AS pair_rank
        |  FROM pos WHERE pair_id <> anchor_id),
        |negs AS (SELECT e.vec_id AS anchor_id, e.label AS albl,
        |    j AS pair_rank,
        |    CAST(('0x' || substr(md5(e.vec_id::VARCHAR || ':' ||
        |      j::VARCHAR), 1, 13)) AS BIGINT) % n.n AS pair_id
        |  FROM emb e CROSS JOIN n, unnest([1, 2, 3, 4]) AS t(j)),
        |negsf AS (SELECT anchor_id, ng.pair_id, false AS is_positive,
        |    pair_rank
        |  FROM negs ng JOIN emb p ON p.vec_id = ng.pair_id
        |  WHERE p.label <> ng.albl),
        |pairs AS (SELECT * FROM posf UNION ALL SELECT * FROM negsf)
        |SELECT pr.anchor_id, pr.pair_id, pr.is_positive, pr.pair_rank,
        |  CASE WHEN list_max(list_transform(a.embedding,
        |           x -> abs(x::DOUBLE))) > 0
        |        AND list_max(list_transform(b.embedding,
        |           x -> abs(x::DOUBLE))) > 0
        |  THEN round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 9) END AS cosine
        |FROM pairs pr
        |JOIN emb a ON a.vec_id = pr.anchor_id
        |JOIN emb b ON b.vec_id = pr.pair_id
        |ORDER BY anchor_id, pair_rank, pair_id""".stripMargin,
    // keeps at most CAP per refined list, most-central (a2 dot) first;
    // ranks are identical because the dots are the identical fold
    "corpus_diversity_cap" ->
      s"""WITH $ivfAssignSql
         |SELECT cid, vec_id, rank, round(dot, 9) AS centrality FROM (
         |  SELECT cid, vec_id, dot, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY cid ORDER BY dot DESC, vec_id) AS INTEGER) AS rank
         |  FROM a2) t
         |WHERE rank <= $DIVERSITY_CAP ORDER BY cid, rank""".stripMargin,
    // replays both stages: exact integer code dots over the same
    // round-half-away quantization, quantized-norm cosine ranking
    // (deterministic: long dot, sqrt-of-long norms), then the standard
    // 9-rounded exact-cosine rerank of the 32-wide shortlist
    "similarity_ann_quantized" ->
      s"""WITH s AS (SELECT vec_id, embedding,
         |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
         |  FROM embeddings
         |  WHERE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) > 0),
         |q AS (SELECT vec_id,
         |  list_transform(embedding, x -> round(x::DOUBLE * 127.0 / scale)::INTEGER) AS qc
         |  FROM s),
         |qn AS (SELECT vec_id, qc,
         |  sqrt(list_reduce(list_prepend(0::BIGINT,
         |    list_transform(qc, c -> (c::BIGINT * c)::BIGINT)),
         |    (acc, p) -> acc + p)::DOUBLE) AS qn
         |  FROM q),
         |ap AS (SELECT a.vec_id AS query_id, b.vec_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(range(len(a.qc)), i -> (a.qc[i+1] * b.qc[i+1])::BIGINT)),
         |    (acc, p) -> acc + p)::DOUBLE / (a.qn * b.qn) AS ascore
         |  FROM qn a JOIN qn b ON a.vec_id < $NUM_QUERIES AND b.vec_id <> a.vec_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ascore DESC, vec_id) AS rn FROM ap) WHERE rn <= 32),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN embeddings qe ON qe.vec_id = c.query_id
         |  JOIN embeddings e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // same kernels: max-abs scale, round-half-away codes, integer
    // position-weighted checksum, sequential-fold squared-residual sum
    "embedding_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
        |  FROM embeddings
        |  WHERE list_max(list_transform(embedding, x -> abs(x::DOUBLE))) > 0),
        |q AS (SELECT vec_id, embedding, scale,
        |  list_transform(embedding, x -> round(x::DOUBLE * 127.0 / scale)::INTEGER) AS qc
        |  FROM s)
        |SELECT vec_id,
        |  round(scale, 9) AS scale_r,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(len(qc)), i -> (qc[i + 1] * (i + 1))::BIGINT)),
        |    (a, x) -> a + x) AS q_checksum,
        |  len(list_filter(qc, c -> abs(c) = 127))::INTEGER AS n_sat,
        |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(range(len(qc)),
        |      i -> (embedding[i + 1]::DOUBLE - qc[i + 1]::DOUBLE * scale / 127.0)
        |         * (embedding[i + 1]::DOUBLE - qc[i + 1]::DOUBLE * scale / 127.0))),
        |    (a, e) -> a + e)), 9) AS l2_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // zero-norm contract: scoring runs over nz (see nonZeroSql / norm())
    "similarity_topk_bruteforce" ->
      s"""WITH $nonZeroSql
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
         |    e.vec_id) AS INTEGER) AS rank
         |  FROM nz q JOIN nz e ON q.vec_id < $NUM_QUERIES
         |    AND e.vec_id <> q.vec_id) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // Replays the hyperplane generation (n-th SplitMix64 draw is the
    // closed form mix(42 + n*GOLDEN); wrap-around multiplies emulated via
    // HUGEINT split multiplication) and the per-row signature dots as the
    // identical sequential double fold (list_reduce == Column aggregate()
    // fold order), then the same multi-probe bucket join + exact rerank.
    "similarity_ann_lsh" ->
      s"""WITH ${lshSigsCte(TABLES, BITS)},
         |$nonZeroSql,
         |qs AS (SELECT vec_id AS query_id, tbl, sig FROM sigs WHERE vec_id < $NUM_QUERIES),
         |qprobe AS (SELECT DISTINCT query_id, tbl, xor(sig, f)::INTEGER AS sig
         |  FROM qs, unnest([${(0 +: (0 until BITS).map(1 << _)).mkString(",")}]) AS t(f)),
         |cand AS (SELECT DISTINCT q.query_id, s.vec_id
         |  FROM qprobe q JOIN sigs s USING (tbl, sig) WHERE s.vec_id <> q.query_id),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // Replays IVF end to end: seed centroids = first NLISTS vectors,
    // argmax-dot assignment (strict > keeps the first max -> row_number
    // tie-break on cid), one Lloyd refinement whose per-dim means fold in
    // vec_id order, reassignment against the refined centroids, NPROBE
    // nearest lists per query, exact rerank. All dots are the same
    // sequential double fold as the Spark plan's imperative loops.
    // Generated from the SAME (nlists, nprobe) parameters as the engine
    // path (similarityIvfWith) — the gate pins the fixture geometry.
    "similarity_ivf" -> ivfOracleSqlWith(NLISTS, NPROBE),
    // the corpus-scaled geometry, both counts derived from COUNT(*) with
    // the Scala side's exact arithmetic — value-exact at any SF
    "similarity_ivf_scaled" ->
      ivfOracleSqlExpr(scaledNlistsSql, scaledNprobeSql),
    // filtered ANN: the same assignment replay + the label predicate on
    // candidates + the selectivity-widened probe depth in the identical
    // integer arithmetic ((a + c - 1) // c == Spark's div for positives)
    "similarity_filtered_ann" ->
      filteredAnnOracleSqlExpr(NLISTS.toString, NPROBE.toString),
    // filtered ANN at the corpus-scaled geometry (r17): the same replay
    // with BOTH counts derived from COUNT(*) in the identical IEEE
    // arithmetic the similarity_ivf_scaled oracle proved out
    "similarity_filtered_ann_scaled" ->
      filteredAnnOracleSqlExpr(scaledNlistsSql, scaledNprobeSql),
    // conjunctive filtered ANN (r16): the same assignment replay, the
    // rank-cut ingestion window, the windowed label-count relation, the
    // identical widening arithmetic, and BOTH conjuncts on candidates
    "similarity_filtered_ann_conj" ->
      s"""WITH $ivfAssignSql,
         |$nonZeroSql,
         |nb AS (SELECT COUNT(*) AS n FROM embeddings),
         |rks AS (SELECT vec_id,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings),
         |win AS (SELECT
         |  (SELECT vec_id FROM rks WHERE rn = (SELECT n // 4 FROM nb) + 1) AS lo,
         |  (SELECT vec_id FROM rks WHERE rn = (SELECT 3 * n // 4 FROM nb) + 1) AS hi),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |lc AS (SELECT label, COUNT(*) AS lcnt FROM embeddings, win
         |  WHERE vec_id >= win.lo AND vec_id < win.hi GROUP BY label),
         |pr0 AS (SELECT a.vec_id AS query_id, a.cid, ql.label AS qlabel,
         |  ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY a.dot DESC, a.cid) AS rn
         |  FROM assign2 a JOIN lab ql ON ql.vec_id = a.vec_id
         |  WHERE a.vec_id < $NUM_QUERIES),
         |probe AS (SELECT query_id, cid, qlabel FROM pr0
         |  JOIN lc ON lc.label = pr0.qlabel CROSS JOIN nb
         |  WHERE rn <= LEAST($NLISTS, ($NPROBE * n + lcnt - 1) // lcnt)),
         |cand AS (SELECT DISTINCT p.query_id, a2.vec_id
         |  FROM probe p JOIN a2 USING (cid)
         |  JOIN lab nl ON nl.vec_id = a2.vec_id CROSS JOIN win
         |  WHERE a2.vec_id <> p.query_id AND nl.label = p.qlabel
         |    AND a2.vec_id >= win.lo AND a2.vec_id < win.hi),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    // incremental index: base-ONLY training (the ivfAssign CTEs run over
    // the base CTE, never the full table), delta assigned to the frozen
    // cents, top-k served over base ∪ delta. The physical facts are
    // pinned structural constants: 3 versions (base append, clustered
    // rewrite, delta append), delta_rows = n - 3n/4, and the two
    // TRUE-literal planning facts that hash-fail if the clustered
    // layout's point probe stops pruning or returns the wrong rows
    "similarity_index_append" ->
      s"""WITH nb AS (SELECT COUNT(*) AS n,
         |  3 * COUNT(*) // 4 AS b FROM embeddings),
         |rks AS (SELECT vec_id,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings),
         |cutv AS (SELECT vec_id AS c FROM rks
         |  WHERE rn = (SELECT b FROM nb) + 1),
         |base AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < (SELECT c FROM cutv)),
         |${ivfAssignSqlFor(NLISTS.toString, "base")},
         |ddots AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * c.cent[i+1])),
         |    (acc, x) -> acc + x) AS dot
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id >= (SELECT c FROM cutv)),
         |da AS (SELECT vec_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM ddots) WHERE rn = 1),
         |alla AS (SELECT vec_id, cid FROM a2
         |  UNION ALL SELECT vec_id, cid FROM da),
         |$nonZeroSql,
         |probe AS (SELECT vec_id AS query_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM assign2 WHERE vec_id < $NUM_QUERIES) WHERE rn <= $NPROBE),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probe p JOIN alla a USING (cid) WHERE a.vec_id <> p.query_id),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score,
         |  3::BIGINT AS n_versions,
         |  (SELECT n - b FROM nb) AS delta_rows,
         |  true AS probe_pruned, true AS probe_rows_ok FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    // maintained index: base-HALF training, every delta batch assigned
    // to the frozen centroids (the 3-batch split is invisible to the
    // assignment, so ONE ddots CTE covers all of them), top-k served
    // over base ∪ deltas — which the fold must leave IDENTICAL (folding
    // is a layout move). The fold facts are pinned structural constants:
    // with 3 appends and maxDeltas = 2 the policy fires exactly once and
    // the latest manifest is back at the IDX_SHARDS clustered dirs.
    "similarity_index_maintain" ->
      maintainStyleOracleSql(
        "  true AS probe_pruned, true AS probe_rows_ok"),
    // streamed index (r17): the batch split, frozen-centroid
    // assignment, fold schedule, and served top-k are IDENTICAL to the
    // batch-mode maintain key by construction — the stream is an
    // execution strategy, not a semantics change — so the replay is the
    // same SQL; the one extra pinned fact is the exactly-once replay
    "similarity_index_stream" ->
      maintainStyleOracleSql("  true AS replay_skipped"),

    // deleted index: the append key's base-3/4 training + delta
    // assignment, MINUS the rank-windowed tombstone slice ((n/4, 3n/8]
    // of the vec_id order) — queries and candidates are BOTH drawn from
    // the survivors, so a served deleted vector (or a dropped survivor)
    // hash-fails. The storage facts are pinned structural constants:
    // 5 versions (base, clustered rewrite, delta, tombstone, fold),
    // deleted_rows = 3n/8 - n/4 exactly, and the TRUE-literal facts —
    // rows_total_ok / tomb_gone / mor_ok (merge-on-read == post-fold) /
    // the probe-pruning pair — that hash-fail if the fold loses rows,
    // leaks tombstones, diverges from the MOR serve, or stops pruning
    "similarity_index_delete" ->
      s"""WITH nb AS (SELECT COUNT(*) AS n,
         |  3 * COUNT(*) // 4 AS b,
         |  COUNT(*) // 4 AS dlo,
         |  3 * COUNT(*) // 8 AS dhi FROM embeddings),
         |rks AS (SELECT vec_id,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings),
         |cutv AS (SELECT vec_id AS c FROM rks
         |  WHERE rn = (SELECT b FROM nb) + 1),
         |dlov AS (SELECT vec_id AS c FROM rks
         |  WHERE rn = (SELECT dlo FROM nb) + 1),
         |dhiv AS (SELECT vec_id AS c FROM rks
         |  WHERE rn = (SELECT dhi FROM nb) + 1),
         |base AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < (SELECT c FROM cutv)),
         |${ivfAssignSqlFor(NLISTS.toString, "base")},
         |ddots AS (SELECT e.vec_id, c.cid,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range($DIM), i -> e.embedding[i+1]::DOUBLE * c.cent[i+1])),
         |    (acc, x) -> acc + x) AS dot
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id >= (SELECT c FROM cutv)),
         |da AS (SELECT vec_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM ddots) WHERE rn = 1),
         |alla AS (SELECT vec_id, cid FROM a2
         |  UNION ALL SELECT vec_id, cid FROM da),
         |live AS (SELECT vec_id, cid FROM alla
         |  WHERE NOT (vec_id >= (SELECT c FROM dlov)
         |         AND vec_id < (SELECT c FROM dhiv))),
         |$nonZeroSql,
         |probe AS (SELECT vec_id AS query_id, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
         |  FROM assign2 WHERE vec_id < $NUM_QUERIES
         |    AND NOT (vec_id >= (SELECT c FROM dlov)
         |         AND vec_id < (SELECT c FROM dhiv))) WHERE rn <= $NPROBE),
         |cand AS (SELECT DISTINCT p.query_id, a.vec_id
         |  FROM probe p JOIN live a USING (cid) WHERE a.vec_id <> p.query_id),
         |scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) AS score
         |  FROM cand c
         |  JOIN nz q ON q.vec_id = c.query_id
         |  JOIN nz e ON e.vec_id = c.vec_id)
         |SELECT query_id, neighbor_id, rank, score,
         |  5::BIGINT AS n_versions,
         |  (SELECT dhi - dlo FROM nb) AS deleted_rows,
         |  true AS rows_total_ok,
         |  true AS tomb_gone,
         |  true AS mor_ok,
         |  ${IDX_SHARDS}::BIGINT AS dirs_latest,
         |  true AS probe_pruned, true AS probe_rows_ok FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank FROM scored) t
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
  )
}
