package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Multimodal, TextOps}

class TextMultimodalSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  test("token stats are internally consistent") {
    val df = TextOps.textTokens(spark, SF)
    assert(df.filter(col("n_types") > col("n_tokens")).count() == 0)
    assert(df.filter(col("type_token_ratio") > 1.0 || col("type_token_ratio") <= 0.0).count() == 0)
  }

  test("quality: measured char count matches the n_chars metadata column") {
    val df = TextOps.textQuality(spark, SF)
    assert(df.filter(!col("n_chars_ok")).count() == 0)
  }

  test("langid emits a prediction for every doc from the fixed label set") {
    val df = TextOps.textLangid(spark, SF)
    val langs = Set("en", "es", "de", "fr", "zh")
    assert(df.filter(!col("predicted").isin(langs.toSeq.map(lit): _*)).count() == 0)
    assert(df.count() == graft.Tables.load(spark, SF, "documents").count())
  }

  test("fingerprints are unique on this corpus (no exact dupes planted)") {
    val df = TextOps.textFingerprint(spark, SF)
    assert(df.select("fp").distinct().count() == df.count())
  }

  test("multimodal decode genuinely parses the PPM container") {
    val df = Multimodal.multimodalDecode(spark, SF)
    // header fields come from the parser, not the synthesis contract:
    // width in [8, 15], height 8, maxval 255, raster size consistent
    assert(df.filter(col("width") < 8 || col("width") > 15).count() == 0)
    assert(df.filter(col("height") =!= 8 || col("maxval") =!= 255).count() == 0)
    assert(df.filter(col("n_pixels") =!= col("width") * col("height"))
      .count() == 0)
    // channel sums are bounded by maxval * n_pixels
    assert(df.filter(col("r_sum") > col("n_pixels") * 255L ||
      col("g_sum") > col("n_pixels") * 255L ||
      col("b_sum") > col("n_pixels") * 255L).count() == 0)
    assert(df.count() == graft.Tables.load(spark, SF, "documents").count())
  }

  test("multimodal resample parses the WAV header and halves the rate") {
    val df = Multimodal.multimodalResample(spark, SF)
    assert(df.filter(col("sample_rate_out") * 2 =!= col("sample_rate_in"))
      .count() == 0)
    assert(df.filter(col("n_samples_out") > col("n_samples_in") / 2)
      .count() == 0)
  }

  test("frame sampling: every 5th frame, within bounds") {
    val df = Multimodal.multimodalFrameSample(spark, SF)
    assert(df.filter(col("frame_no") % 5 =!= 0).count() == 0)
    assert(df.filter(col("frame_no") >= col("n_frames")).count() == 0)
  }

  test("image phash: popcount consistency; banded dup join == brute force") {
    val ph = graft.ext.Multimodal.multimodalImagePhash(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(ph.length > 0)
    ph.foreach { case (_, h, n) =>
      assert(java.lang.Long.bitCount(h) == n)
      assert(n < 64) // strictly-above-mean can never set every bit
    }
    // pigeonhole recall check: the 16-bit-block multiprobe join must find
    // EXACTLY the all-pairs hamming<=7 relation
    val brute = (for {
      (a, ha, _) <- ph; (b, hb, _) <- ph if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (a, b, d)).toSet
    val got = graft.ext.Multimodal.multimodalImageDup(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    assert(got.nonEmpty) // the corpus genuinely contains near-dup images
  }

  test("audio features: a NULL-text document is dropped, not a kernel NPE") {
    // every other multimodal key drops NULLs via its length(text) >= 1
    // metadata filter; audio_features processes empty docs (NULL-rms
    // contract) so its guard must be an explicit isNotNull — a NULL
    // payload reaching wavBytes dereferences text.length
    import spark.implicits._
    val docs = Seq((1L, "hello"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("nulltext").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ext.Multimodal.multimodalAudioFeatures(spark, dir)
      .collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(got.find(_.getLong(0) == 3L).get.isNullAt(6)) // empty doc: NULL rms
    graft.matview.Dirs.delete(java.nio.file.Paths.get(dir))
  }

  test("token budget survives a degenerate single-score corpus") {
    // every document shares one score, so the whole corpus IS the
    // boundary class — the two-phase prefix scan must still produce
    // exactly the naive global-running-sum selection, and its plan must
    // never sort the class through one task
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = (1L to 2000L).map(i => (i, 7L + i % 5, 42)).toDF(
      "doc_id", "n_tokens", "score").repartition(7)
    val budget = 6000L
    val got = TextOps.tokenBudgetSelect(t, budget)
    val naive = t.withColumn("cum",
        sum("n_tokens").over(Window.orderBy("doc_id")))
      .filter(col("cum") <= budget)
      .select("doc_id", "n_tokens", "score")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(got) == ids(naive))
    assert(got.count() > 0)
    // the boundary scan must not plan a window over the full class: the
    // only SinglePartition stage allowed is the per-score aggregate (1
    // row here), which the naive form would instead run over all rows
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning(doc_id"),
      s"two-phase boundary scan missing from plan:\n$p")
  }

  test("token budget exact-boundary cuts: a class filling the budget " +
      "exactly is fully in, the next class fully out; a doc landing " +
      "exactly on the budget inside the boundary class is kept") {
    // the <= / < / > edges of the class-level decision, exercised at
    // equality — the naive inclusive running sum is the semantics
    import spark.implicits._
    val t = Seq(
      (0L, 500L, 3), (1L, 500L, 3),              // class 3: 1000 tokens
      (2L, 400L, 2), (3L, 600L, 2),              // class 2: 1000 tokens
      (4L, 100L, 1))                             // class 1
      .toDF("doc_id", "n_tokens", "score").repartition(3)
    def ids(budget: Long) = TextOps.tokenBudgetSelect(t, budget)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // class 2 ends exactly AT the budget: in; class 1 starts at it: out
    assert(ids(2000L) == Set(0L, 1L, 2L, 3L))
    // class 3 exactly fills; class 2 must not leak a partial prefix
    assert(ids(1000L) == Set(0L, 1L))
    // boundary class split mid-class, cut landing exactly on doc 2's sum
    assert(ids(1400L) == Set(0L, 1L, 2L))
    // budget below the first doc: empty, not a crash
    assert(ids(400L) == Set.empty[Long])
  }

  test("filter waterfall rows chain: docs_out(k) == docs_in(k+1), totals conserve") {
    val rows = graft.ext.TextOps.corpusFilterWaterfall(spark, SF)
      .collect().sortBy(_.getString(0))
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_min_tokens", "2_langid", "3_repetition", "4_too_long", "5_kept"))
    val total = graft.Tables.load(spark, SF, "documents").count()
    assert(rows.head.getLong(1) == total) // first rule sees the whole corpus
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) == b.getLong(1), // docs_out -> next docs_in
        s"${a.getString(0)} out ${a.getLong(3)} != ${b.getString(0)} in ${b.getLong(1)}")
    }
    rows.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) == r.getLong(3)) // in - dropped = out
    }
    assert(rows.map(_.getLong(2)).sum + rows.last.getLong(3) == total)
  }
}
