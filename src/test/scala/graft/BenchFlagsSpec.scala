package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's pure kernels: the /proc parsers behind the per-key
  * cpu/disk witnesses, drift-row selection, and compact-line assembly. */
class BenchFlagsSpec extends AnyFunSuite {

  test("parseCpuStat: modern line, old short line, malformed text, " +
      "missing aggregate line") {
    // modern kernel: user nice system idle iowait irq softirq steal ...
    val (busy, steal, total) = Bench.parseCpuStat(Seq(
      "cpu  100 5 50 800 40 3 7 10 2 1",
      "cpu0 50 2 25 400 20 1 3 5 1 0"))
    assert(total == 1015L) // first 8 fields; guest double-counts in user
    assert(steal == 10L)
    assert(busy == 165L) // total - (idle 800 + iowait 40) - steal
    // pre-2.6.11 kernel: only user nice system idle — still parses
    assert(Bench.parseCpuStat(Seq("cpu  100 5 50 800")) ==
      ((155L, 0L, 955L)))
    // malformed numeric field: sentinel, not a crash mid-bench
    assert(Bench.parseCpuStat(Seq("cpu  abc 5 50 800")) ==
      ((-1L, -1L, -1L)))
    // per-core lines only (no aggregate): sentinel
    assert(Bench.parseCpuStat(Seq("cpu0 1 2 3 4 5")) == ((-1L, -1L, -1L)))
    assert(Bench.parseCpuStat(Nil) == ((-1L, -1L, -1L)))
    // truncated aggregate (fewer than 4 fields): sentinel, not an
    // ArrayIndexOutOfBounds swallowed as one
    assert(Bench.parseCpuStat(Seq("cpu  1 2")) == ((-1L, -1L, -1L)))
  }

  test("parseDiskBusyMs: sums io-ticks over named whole devices only; " +
      "a malformed line skips itself, not the whole reading") {
    val lines = Seq(
      "   8       0 sda 1 2 3 4 5 6 7 8 9 5000 11",
      "   8       1 sda1 1 2 3 4 5 6 7 8 9 9999 11", // partition: not named
      " 253       0 dm-0 1 2 3 4 5 6 7 8 9 7777 11", // layered: not named
      "   8      16 sdb 1 2 3 4 5 6 7 8 9 xx 11",    // malformed: skipped
      " 259       0 nvme0n1 1 2 3 4 5 6 7 8 9 250 11")
    val devs = Set("sda", "sdb", "nvme0n1")
    assert(Bench.parseDiskBusyMs(lines, devs) == 5250L)
    // short line (fewer than 13 fields) is ignored, not an exception
    assert(Bench.parseDiskBusyMs(Seq("8 0 sda 1 2 3"), devs) == 0L)
  }

  test("driftRowsOf (r16): rows come from the GIVEN (merged) samples, " +
      "worst ratio first, capped with overflow counted; no-baseline keys " +
      "do not participate") {
    def best(s: Seq[Double]) = s.min
    def med(s: Seq[Double]) = s.sorted.apply(s.size / 2)
    val quiet = Map("a" -> 1.0, "b" -> 2.0, "c" -> 1.0, "d" -> 1.0)
    val tier = Seq(
      "a" -> Seq(1.4, 1.6, 1.7),   // med 1.6 = 1.6x -> drift
      "b" -> Seq(2.1, 2.2, 2.3),   // med 2.2 = 1.1x -> quiet
      "c" -> Seq(4.0, 5.0, 6.0),   // med 5.0 = 5.0x -> drift, worst
      "d" -> Seq(2.0, 2.0, 2.0),   // med 2.0 = 2.0x -> drift
      "new_key" -> Seq(9.0, 9.0, 9.0)) // no baseline: absent
    val (rows, omitted) = Bench.driftRowsOf(tier, quiet, best, med, cap = 2)
    // worst-ratio order, cap 2, third row counted not dropped silently
    assert(rows.map(_._1) == Seq("c", "d") && omitted == 1)
    // each row is (key, best, median, quiet) OF THE SAMPLES GIVEN — the
    // emission contract: callers pass the tier as measured, so a drift
    // row always describes the reported samples
    assert(rows.head == (("c", 4.0, 5.0, 1.0)))
    // uncapped: all three drift keys, nothing omitted
    val (all3, om0) = Bench.driftRowsOf(tier, quiet, best, med, cap = 8)
    assert(all3.map(_._1) == Seq("c", "d", "a") && om0 == 0)
  }

  // A worst-case record for the compact line: every tier at its widest
  // (full sf10 tier), values too wide for the float trim to shorten,
  // DRIFT_CAP drift rows on both tiers with overflow, all six boards and
  // board drift.
  private def worstCase(baselinesOn: Boolean): Bench.Record = {
    def tier(keys: Seq[String], base: Double) =
      keys.zipWithIndex.map { case (k, i) =>
        k -> Seq(base + i + 0.37, base + i + 1.73)
      }
    val sf1 = tier(Bench.sf1Keys, 10.0)
    val sf10 = tier(Bench.sf10Keys(full = true), 100.0)
    def drift(t: Seq[(String, Seq[Double])]) =
      (t.sortBy(-_._1.length).take(Bench.DRIFT_CAP).map { case (k, s) =>
        (k, s.min, s.max, s.min / 3.1)
      }, 7)
    Bench.Record(
      headline = tier(Bench.headline, 10.0),
      sf1 = sf1,
      sf10 = sf10,
      drift = drift(sf1),
      driftSf10 = drift(sf10),
      boardDrift = Seq(("mv_speedup.raw", 12.34, 1.23),
        ("skew_join.salted_auto", 45.67, 4.56),
        ("ann_recall.embedding_dedup", 0.41, 0.97)),
      canary = Seq("sf1_gen_sec" -> 81.37, "sf10_gen_sec" -> 812.37,
        "shuffle_sec" -> 13.37, "shuffle_sf10_sec" -> 13.37,
        "mem_sec" -> 11.37, "mem_sf10_sec" -> 11.37),
      contended = true, memContended = true,
      boards = Seq(
        ("mv_speedup", Seq("raw" -> 1.234, "mart" -> 0.567, "view" -> 0.123), 3),
        ("lookup", Seq("bucket_pruned" -> 0.123, "full_scan" -> 0.456), 3),
        ("join_reorder", Seq("as_written_sec" -> 12.34, "cbo_sec" -> 3.21,
          "reordered" -> 1.0), 2),
        ("skew_join", Seq("plain" -> 12.34, "aqe_split" -> 11.23,
          "salted" -> 13.45, "salted_auto" -> 14.56), 2),
        ("ann_recall", Seq("lsh" -> 0.91, "ivf" -> 0.87, "quantized" -> 0.73,
          "ivf_pq" -> 0.69, "embedding_dedup" -> 0.97), 2),
        ("triangle_sketch", Seq("node_recall" -> 0.913,
          "triangle_ratio" -> 0.847), 3)),
      baselinesOn = baselinesOn,
      sf = "/data/testdata/sf0.1")
  }

  private val mapper = new ObjectMapper()

  test("compact line: the worst-case record fits the tail budget with the " +
      "flat queries map, and every field keeps one JSON type across levels") {
    for (on <- Seq(true, false)) {
      val r = worstCase(baselinesOn = on)
      val line = Bench.compactLine(r)
      assert(line.length <= Bench.TAIL_BUDGET, s"${line.length}B: $line")
      val root = mapper.readTree(line)
      val q = root.get("queries")
      assert(q != null && q.isObject, line)
      assert(q.fieldNames().asScala.toSeq == Bench.headline)
      assert(root.get("metric").asText == "total")
      assert(root.has("drift") && root.has("drift_sf10"))
      // every level is valid JSON, and a field name never changes type
      // between levels (a deferred field is omitted, not retyped)
      val nodes = (0 to 7).map(l => mapper.readTree(Bench.compactAt(r, l))) :+ root
      val types = nodes.flatMap { n =>
        def fields(prefix: String, o: JsonNode): Seq[(String, String)] =
          o.properties().asScala.toSeq.flatMap { e =>
            (prefix + e.getKey -> e.getValue.getNodeType.toString) +:
              (if (e.getKey == "contention_canary")
                fields("contention_canary.", e.getValue)
              else Nil)
          }
        fields("", n)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
      val retyped = types.filter(_._2.size > 1)
      assert(retyped.isEmpty, s"fields with more than one JSON type: $retyped")
    }
  }

  test("foreignBox: baselines recorded on another core count go dark; " +
      "a matching or unrecorded count keeps them") {
    def props(kv: (String, String)*) = {
      val p = new java.util.Properties()
      kv.foreach { case (k, v) => p.setProperty(k, v) }
      p
    }
    val box32 = props("box.cores" -> "32", "sf1.agg_sum_group3" -> "0.5")
    assert(Bench.foreignBox(box32, 32).isEmpty)
    val why = Bench.foreignBox(box32, 4)
    assert(why.exists(w => w.contains("32 cores") && w.contains("has 4")))
    assert(Bench.foreignBox(props("box.cores" -> " 32 "), 32).isEmpty)
    // no recorded box: nothing to compare, the baselines stand
    assert(Bench.foreignBox(props("sf1.x" -> "1.0"), 4).isEmpty)
    // an unreadable count cannot vouch for the box
    assert(Bench.foreignBox(props("box.cores" -> "many"), 32).nonEmpty)
  }
}
