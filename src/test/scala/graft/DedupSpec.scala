package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark.{spark => tsSpark, SF => tsSF}

  test("prefix-filtered jaccard equals the inverted-index plan exactly") {
    val a = graft.ext.Dedup.dedupNgramJaccardInverted(tsSpark, tsSF).collect()
    val b = graft.ext.Dedup.dedupNgramJaccardPrefix(tsSpark, tsSF).collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("PassJoin edit-distance equals the brute-force plan exactly, and " +
      "a hand corpus exercises nonzero distances and the shift window") {
    val a = Dedup.dedupEditDistance(tsSpark, tsSF).collect()
    val b = Dedup.dedupEditDistanceBrute(tsSpark, tsSF).collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    // hand corpus: an early insertion shifts every later segment (the
    // +-D window case), a substitution, an over-threshold pair, and a
    // short-key pair excluded by the >= D+1 contract
    import tsSpark.implicits._
    val docs = Seq(
      (1L, "XX" + ("abcdefghij" * 6)),         // insertion of XX at front
      (2L, "abcdefghij" * 6),
      (3L, ("abcdefghij" * 6).replace('e', 'Z')), // 6 substitutions: too far
      (4L, "abc"), (5L, "abd")                 // len 3 < D+1: excluded
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("edtest").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupEditDistance(tsSpark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 2L))) // the XX insertion, dist 2
    graft.matview.Dirs.delete(java.nio.file.Paths.get(dir))
  }

  import TestSpark.{spark, SF}

  private lazy val exact = Dedup.dedupNgramJaccard(spark, SF)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private lazy val minhash = Dedup.dedupMinhashLsh(spark, SF)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("component labeling converges in O(log d) rounds on a long chain") {
    import tsSpark.implicits._
    // planted adversarial 64-node chain: plain min-propagation needs ~63
    // rounds (the label walks one hop per round); pointer doubling must
    // finish in O(log2 64) — allow generous slack for the +1 recurrence
    val n = 64
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val (labels, rounds) = graft.ext.Dedup.minLabelComponents(edges)
    assert(rounds <= 10, s"took $rounds rounds for a $n-chain")
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == n && out.forall(_._2 == 0L),
      s"chain not fully labeled 0: ${out.sortBy(_._1).take(10).toSeq}")
  }

  test("corpus has planted near-duplicate pairs") {
    assert(exact.nonEmpty)
  }

  test("minhash+LSH finds exactly the exact-jaccard pairs on this corpus") {
    // LSH candidates are verified with exact jaccard, so minhash ⊆ exact
    // always; at the planted j>=0.9 recall is 1 - 6e-9, so equality holds.
    assert(minhash == exact)
  }

  test("the XXH64 banding-replay oracle implements the FULL hash: UTF-8 " +
      "byte extraction and the 4-lane stripe path (r13 VERDICT item 4, " +
      "boundary retired r14)") {
    // r13 shipped the replay ASCII/<32-byte only, with the boundary a
    // comment plus fixture accident (an out-of-scope word hashed WRONG
    // and the gate caught it only if that word joined a near-dup pair).
    // r14 first asserted the boundary in-SQL via error(), then RETIRED
    // it: the byte list derives the 1-4 UTF-8 bytes per code point
    // arithmetically, and >= 32-byte words run the real 4-lane stripe
    // fold. DuckDB is driver-side only, so this spec pins the generated
    // SQL structurally; behavior is validated driver-side by BandCheck
    // ENGINE-vs-replay bit-equality on the ASCII sf0.01 corpus, a
    // planted non-ASCII corpus, and a planted long-word corpus.
    val (lanesSql, bandsSql) = Dedup.bandCheckReplaySql
    for (sql <- Seq(lanesSql, bandsSql,
        graft.SparkEntry.oracleSql("dedup_minhash_lsh"),
        graft.SparkEntry.oracleSql("dedup_stream_minhash"))) {
      // the UTF-8 byte derivation (2-byte, 3-byte, 4-byte lead bytes)
      assert(sql.contains("192 + ascii(w[i]) // 64"))
      assert(sql.contains("224 + ascii(w[i]) // 4096"))
      assert(sql.contains("240 + ascii(w[i]) // 262144"))
      // the stripe path: seed-42 accumulator inits + the lane fold
      assert(sql.contains("6983438078262162944::UBIGINT"))
      assert(sql.contains("7046029288634856867::UBIGINT"))
      assert(sql.contains("list_reduce(list_prepend("))
      // the boundary is GONE: no error() scope guard remains
      assert(!sql.contains("graft xxh64 replay scope"))
    }
    // and the signed-order lane minimization (r13 ADVICE): the order
    // isomorphism must be present so the replay minimizes like the
    // engine's signed Long fold, not in unsigned UBIGINT order
    assert(lanesSql.contains("xor(MIN(xor(m, 9223372036854775808::UBIGINT"))
  }

  test("simhash banding recovers most jaccard near-dups (different measure)") {
    val sim = Dedup.dedupSimhash(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.8, s"simhash recall of jaccard pairs = $recall")
  }

  test("exact dedup keeps one keeper per distinct content") {
    val df = Dedup.dedupExact(spark, SF)
    val total = graft.Tables.load(spark, SF, "documents").count()
    import org.apache.spark.sql.functions._
    val copies = df.agg(sum("n_copies")).collect().head.getLong(0)
    assert(copies == total)
  }

  test("embedding cosine pairs are symmetric-free (a < b) and above threshold") {
    val rows = Dedup.dedupEmbeddingCosine(spark, SF).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(_.getAs[Double]("cosine") >= 0.4))
  }

  test("containment subsumes jaccard: every jaccard pair appears both ways") {
    // ix/|A| >= ix/(|A|+|B|-ix) always, so jaccard >= t implies
    // containment >= t in BOTH orientations — but the containment
    // operator excludes contained sides with fewer than MIN_CONTAIN_SZ
    // distinct grams (trivial containment), so the subsumption claim is
    // asserted only for pairs where BOTH docs clear the size floor
    // (today that is every jaccard pair; the filter keeps a future small
    // near-dup pair from failing this test spuriously)
    import org.apache.spark.sql.functions._
    val gramSz = Dedup.rawShingleHashes(spark, SF)
      .groupBy("doc_id")
      .agg(countDistinct(col("h")).as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val jac = Dedup.dedupNgramJaccard(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p =>
        gramSz.getOrElse(p._1, 0L) >= Dedup.MIN_CONTAIN_SZ &&
          gramSz.getOrElse(p._2, 0L) >= Dedup.MIN_CONTAIN_SZ)
    val contRows = Dedup.dedupContainment(spark, SF).collect()
    val cont = contRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contRows.forall { r =>
      val c = r.getAs[Double]("containment"); c >= 0.8 && c <= 1.0
    })
    assert(jac.nonEmpty, "size-floor filter left no jaccard pairs to check")
    assert(jac.forall { case (a, b) =>
      cont.contains((a, b)) && cont.contains((b, a))
    })
  }

  test("keep-best picks each cluster's longest member (ties to min doc_id)") {
    val clusters = Dedup.dedupCluster(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (doc_id, cluster_id)
    val nTok = graft.Tables.load(spark, SF, "documents").selectExpr(
        "doc_id", "CAST(len(text) - len(translate(text, ' ', '')) + 1 AS LONG)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = clusters.groupBy(_._2).map { case (cid, ms) =>
      val docs = ms.map(_._1)
      val keeper = docs.minBy(id => (-nTok(id), id))
      (cid, docs.length.toLong, keeper, nTok(keeper),
        docs.length.toLong - 1, docs.map(nTok).sum - nTok(keeper))
    }.toSet
    val got = Dedup.dedupKeepBest(spark, SF).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("block ratio: shared blocks really occur in >= 2 distinct docs") {
    val docs = graft.Tables.load(spark, SF, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    // direct recompute: non-overlapping 16-token blocks, cross-doc counts
    val blocks = docs.flatMap { case (id, ws) =>
      ws.grouped(16).filter(_.length == 16)
        .map(b => (id, b.mkString(" "))).toSeq
    }
    val nDocsPerBlock = blocks.distinct.groupBy(_._2).map {
      case (b, v) => (b, v.length)
    }
    val expected = blocks.groupBy(_._1).map { case (id, bs) =>
      val shared = bs.count(b => nDocsPerBlock(b._2) >= 2).toLong
      (id, bs.length.toLong, shared, shared.toDouble / bs.length)
    }.toSet
    val got = Dedup.dedupBlockRatio(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
    assert(got.exists(_._3 > 0)) // the corpus genuinely shares blocks
  }

  test("span coverage: planted copies yield exact interval-union counts") {
    import spark.implicits._
    // unique filler vocabulary per doc so ONLY the planted spans collide:
    // doc 1 and doc 2 share a 20-token run; doc 3 is an exact copy of
    // doc 4 (everything covered); doc 5 shares nothing.
    def toks(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val shared = toks("sh", 20)
    val docs = Seq(
      (1L, (toks("a", 7) ++ shared ++ toks("b", 9)).mkString(" ")),
      (2L, (toks("c", 11) ++ shared ++ toks("e", 5)).mkString(" ")),
      (3L, toks("x", 30).mkString(" ")),
      (4L, toks("x", 30).mkString(" ")),
      (5L, toks("z", 40).mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.ext.Dedup.spanCoverageOf(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // a 20-token shared run has 5 stride-1 16-token spans (positions
    // p..p+4): union = 16 + 4*1 = 20 covered tokens on each side
    assert(got(1L) == ((36L, 5L, 20L)))
    assert(got(2L) == ((36L, 5L, 20L)))
    // exact copies: every span duplicated, union = whole doc
    assert(got(3L) == ((30L, 15L, 30L)))
    assert(got(4L) == ((30L, 15L, 30L)))
    assert(got(5L) == ((40L, 0L, 0L)))
  }

  test("span coverage beats block ratio on a block-straddling copy") {
    import spark.implicits._
    // a 16-token copy placed at offset 8 straddles both docs' block
    // grids differently — block hashing sees nothing, span hashing must
    def toks(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val copy = toks("cp", 16)
    val docs = Seq(
      (1L, (toks("a", 8) ++ copy ++ toks("b", 8)).mkString(" ")),
      (2L, (toks("c", 3) ++ copy ++ toks("e", 13)).mkString(" "))
    ).toDF("doc_id", "text")
    val cov = graft.ext.Dedup.spanCoverageOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(cov(1L) == 16L && cov(2L) == 16L)
  }

  test("source matrix is a triangular partition of the near-dup pair graph") {
    val rows = Dedup.dedupSourceMatrix(spark, SF).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // one cell per unordered source pair; cells partition the pair set
    assert(rows.map { case (lo, hi, _, _) => (lo, hi) }.distinct.length
      == rows.length)
    assert(rows.map(_._3).sum == exact.size)
    rows.foreach { case (lo, hi, n, mj) =>
      assert(lo <= hi && n > 0)
      // pairs pass the 0.8 verify threshold, so the cell mean must too
      assert(mj >= 0.8 && mj <= 1.0)
    }
  }

  test("streaming minhash filter drains to the PPJoin cross-half relation") {
    // algorithm-independent witness: the streaming LSH filter (odd docs
    // arriving, even docs historical) must equal the batch PPJoin
    // operator's jaccard pairs restricted to cross-parity, grouped per
    // arriving doc — different candidate generation, same exact verify
    val jac = Dedup.dedupNgramJaccard(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = jac.flatMap { case (a, b, j) =>
      if (a % 2 == 1 && b % 2 == 0) Seq((a, j))
      else if (b % 2 == 1 && a % 2 == 0) Seq((b, j))
      else Seq.empty
    }.groupBy(_._1).map { case (id, v) =>
      (id, v.size.toLong, v.map(_._2).max)
    }.toSet
    val got = Dedup.dedupStreamMinhash(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"stream $got != batch ppjoin $expected")
  }

  test("persisted dedup index (r17): report equals the PPJoin cross-cut " +
      "relation and every storage pin holds") {
    // algorithm-independent witness, the stream test's shape at the
    // index key's rank-keyed 3:1 split: the report served from the
    // PERSISTED band index must equal the batch PPJoin operator's
    // jaccard pairs restricted to batch-vs-base, grouped per arriving
    // doc — different candidate generation, different storage, same
    // exact verify
    val ids = graft.Tables.load(spark, SF, "documents")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(3 * ids.length / 4)
    val jac = Dedup.dedupNgramJaccard(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = jac.flatMap { case (a, b, j) =>
      if (a >= cut && b < cut) Seq((a, j))
      else if (b >= cut && a < cut) Seq((b, j))
      else Seq.empty
    }.groupBy(_._1).map { case (id, v) =>
      (id, v.size.toLong, v.map(_._2).max)
    }.toSet
    val out = Dedup.dedupIndexAppend(spark, SF).collect()
    assert(out.nonEmpty)
    val got = out
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"index $got != batch ppjoin $expected")
    out.foreach { r =>
      assert(r.getAs[Long]("n_versions") == 3L)
      assert(r.getAs[Boolean]("index_rows_ok"))
      assert(r.getAs[Boolean]("probe_pruned"))
      assert(r.getAs[Boolean]("probe_rows_ok"))
    }
  }

  test("persisted dedup index splits by RANK on a gapped id space") {
    // id map 10x+3 preserves rank order, so base/batch membership — and
    // therefore the whole report — must be invariant modulo the map; a
    // value-keyed cut (3/4 of max id) would mis-place batch docs and fail
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("mhidxgap").toString
    graft.Tables.load(spark, SF, "documents")
      .withColumn("doc_id", col("doc_id") * 10 + 3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val gapped = Dedup.dedupIndexAppend(spark, dir).collect()
    val want = Dedup.dedupIndexAppend(spark, SF).collect()
      .map(r => (r.getLong(0) * 10 + 3, r.getLong(1), r.getDouble(2))).toSet
    val got = gapped
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"gapped $got != mapped fixture $want")
    gapped.foreach { r =>
      assert(r.getAs[Long]("n_versions") == 3L &&
        r.getAs[Boolean]("index_rows_ok") &&
        r.getAs[Boolean]("probe_pruned") && r.getAs[Boolean]("probe_rows_ok"))
    }
    graft.matview.Dirs.delete(java.nio.file.Paths.get(dir))
  }

  test("embedding-dedup recall contract: ~1.0 at the design point, >= 0.9 measured") {
    // design point (true near-dups, cosine >= 0.9): analytic pair-miss
    // probability of the 6-bit x 40-table family is (1 - p^b)^t < 1e-5
    val p9 = 1.0 - math.acos(0.9) / math.Pi
    val missDesign = math.pow(
      1.0 - math.pow(p9, Dedup.EMB_BITS), Dedup.EMB_TABLES)
    assert(missDesign < 1e-5, s"design-point miss prob $missDesign")
    // operating point on this corpus (threshold 0.4 inside the random-
    // similarity bulk — no planted near-dups): measured recall vs the
    // exact all-pairs baseline, pinned at the documented >= 0.9
    val exact = Dedup.dedupEmbeddingCosineExact(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.dedupEmbeddingCosine(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"embedding-dedup recall $recall below contract")
  }

  test("leakage-safe split (r15): one split per cluster, singletons " +
      "match the naive cut, moved flags exactly the relocated members") {
    import org.apache.spark.sql.functions._
    val out = Dedup.corpusSplitLeakageSafe(spark, SF)
    // structural leakage guarantee: no cluster straddles a split
    assert(out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).isEmpty)
    // covers the whole corpus, one row per doc
    val n = Tables.load(spark, SF, "documents").count()
    assert(out.count() == n)
    assert(out.select("doc_id").distinct().count() == n)
    // singletons (cluster_id == doc_id): never moved — identical to the
    // plain corpus_split_assign hash cut by construction
    assert(out.filter(col("cluster_id") === col("doc_id") && col("moved"))
      .isEmpty)
    // moved is exactly "own-id cut differs from cluster cut"
    def cut(c: org.apache.spark.sql.Column) = {
      val b = Tables.md5Bucket(c, 2).cast("int")
      when(b < 240, "train").when(b < 248, "val").otherwise("test")
    }
    assert(out.filter(
      col("moved") =!= (cut(col("cluster_id")) =!= cut(col("doc_id"))))
      .isEmpty)
    // the guard is non-vacuous at gate SF: some near-dup member actually
    // relocated (the planted near-dup clusters make this deterministic)
    assert(out.filter(col("moved")).count() > 0 ||
      out.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
  }
}
