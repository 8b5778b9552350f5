package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-engine BPE trainer must equal a plain-Scala reference
  * implementation of the sequential algorithm run on the same
  * word-frequency table — an independent check that the engine's
  * type-table count + greedy fold is the textbook algorithm, not an
  * approximation of it. Ties order by UTF-8 bytes, as Spark and the
  * DuckDB oracle sort strings. */
class BpeSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  private val utf8Order: Ordering[String] = (x, y) =>
    java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  private def referenceBpe(
      freqs: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = freqs.toSeq
      .map { case (w, f) => w.codePoints.toArray.toVector
        .map(c => new String(Character.toChars(c))) -> f }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), cnt) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }(
            Ordering.Tuple3(Ordering.Long, utf8Order, utf8Order))
        out += ((k, a, b, cnt))
        words = words.toSeq.map { case (syms, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += a + b; i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result() -> f
        }.groupBy(_._1).map { case (key, v) => key -> v.map(_._2).sum }
      }
      k += 1
    }
    out.result()
  }

  private def rows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Int, String, String, String, Long)] =
    df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .toSeq

  /** The merge table trained on a `documents` table of the given texts,
    * one document each. */
  private def trainOn(texts: String*): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_corpus")
    try {
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      rows(graft.ext.TextOps.textBpeTrain(spark, dir.toString))
    } finally graft.matview.Dirs.delete(dir)
  }

  test("distributed BPE equals the sequential reference algorithm") {
    val freqs = Tables.load(spark, SF, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceBpe(freqs, rounds = 6)
    val got = rows(graft.ext.TextOps.textBpeTrain(spark, SF)).map { case (k, a, b, _, c) => (k, a, b, c) }
    assert(got == want)
  }

  test("argmax ties order by UTF-8 bytes, not UTF-16 code units") {
    // (Ａ, b) and (😀, b) tie at count 2. UTF-16 puts U+1F600 (a
    // surrogate pair, 0xD83D...) before U+FF21; UTF-8 puts U+FF21
    // (EF BC A1) before U+1F600 (F0 9F 98 80), and so do Spark and the
    // oracle, so round 1 must merge Ａb.
    val want = Seq((1, "Ａ", "b", "Ａb", 2L), (2, "😀", "b", "😀b", 2L))
    assert(trainOn("Ａb 😀b", "😀b Ａb") == want)
    assert(referenceBpe(Map("Ａb" -> 2L, "😀b" -> 2L), rounds = 6)
      == want.map { case (k, a, b, _, c) => (k, a, b, c) })
  }

  test("training stops cleanly when the corpus runs out of pairs " +
      "(r14 review find: the empty argmax threw IndexOutOfBounds)") {
    // single-char words have zero adjacent pairs: round 1's argmax is
    // empty and the trainer must emit an empty merge table, not crash
    assert(trainOn("a b c", "b c a").isEmpty)
    // "ab" has one pair: round 1 merges it, round 2 finds none and the
    // table ends after one row (the oracle's WHERE EXISTS does the same)
    assert(trainOn("ab") == Seq((1, "a", "b", "ab", 1L)))
  }

  test("greedy fold merges overlapping runs like the sequential walk") {
    // planted run case: pair (a, a) over "aaaa"/"aaa" must merge
    // floor(k/2) leftmost pairs — the overlap case the fold's
    // last-element check must get right
    val got = Seq("aaaa", "aaa", "baab").map(w =>
      graft.ext.TextOps.bpeMerge(w.map(_.toString).toArray, "a", "a").toList)
    assert(got == List(
      List("aa", "aa"), List("aa", "a"), List("b", "aa", "b")))
  }
}
