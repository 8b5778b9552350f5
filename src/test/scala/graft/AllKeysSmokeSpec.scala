package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered SparkEntry key must EXECUTE at sf0.001 — no throw, at
  * least one row materialized or an intentionally-empty result.
  *
  * This is the loud gate the round-6 regression lacked: when the driver's
  * events fixture changed physical timestamp type, 19 keys crashed at
  * analysis time and silently vanished from the correctness surface
  * (Verify used to swallow per-key exceptions to stderr only). Running
  * every key here means any environment/fixture drift turns into a red
  * test naming the key, not a silent absence.
  *
  * Execution uses count() (not full collect) so the spec stays cheap; the
  * value-level correctness of each key is the driver's DuckDB oracle gate,
  * not this spec.
  */
class AllKeysSmokeSpec extends AnyFunSuite {
  import TestSpark._

  // Keys whose result is legitimately empty at sf0.001 (tiny fixture):
  // everything else must produce rows, which also catches accidentally
  //-degenerate rewrites that "succeed" with an empty frame.
  private val mayBeEmpty = Set(
    "events_stream_join", "events_stream_funnel", "events_funnel",
    "multimodal_image_dup", "dedup_stream_minhash")

  test("every registered key has an oracle or is explicitly rows-only") {
    // oracleSql keys must be a subset of queries (a dangling oracle would
    // make the driver's compare read a missing parquet)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql without queries entry: $dangling")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"key executes: $name") {
      // session hygiene: a key runs on the caller's shared session, so
      // any conf it overrides must be scoped and restored — a leak would
      // silently re-plan every later key under the leaked value
      val confsBefore = spark.conf.getAll
      val df = fn(spark, SF)
      // the driver sorts columns BY NAME before hashing: duplicate or
      // empty column names would corrupt the compare silently
      val cols = df.columns.toSeq
      assert(cols.distinct.size == cols.size,
        s"key $name has duplicate column names: $cols")
      assert(cols.forall(_.nonEmpty), s"key $name has an empty column name")
      val n = df.count()
      if (!mayBeEmpty(name))
        assert(n > 0, s"key $name returned an empty result at sf0.001")
      val confsAfter = spark.conf.getAll
      val changed = (confsBefore.keySet ++ confsAfter.keySet)
        .filter(k => confsBefore.get(k) != confsAfter.get(k))
        .map(k => s"$k: ${confsBefore.get(k)} -> ${confsAfter.get(k)}")
      assert(changed.isEmpty, s"key $name changed session confs: $changed")
    }
  }
}
