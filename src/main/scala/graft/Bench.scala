package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main — the driver's per-round BENCH harness.
  *
  * Methodology (mirrors the reference's EXPLAIN ANALYZE loop, SURVEY §6,
  * adapted to JVM reality):
  *   - one shared session (the reference also reuses one backend);
  *   - an untimed warmup query absorbs JVM/codegen/classloading cost;
  *   - each headline query materializes fully through the `noop` sink, so
  *     column pruning can't skip computing the result values the way a
  *     bare count() would;
  *   - repeated timed iterations, best-of and median both recorded —
  *     matching how the reference re-runs each EXPLAIN ANALYZE after
  *     VACUUM (steady-state number).
  *
  * The bench measures and reports; it does not adjudicate. Machine state
  * rides in the record (one canary reading per scale tier, per-key
  * cpu/disk witnesses) and drift against the quiet-box baselines is
  * reported from the samples as measured.
  *
  * Prints exactly one JSON line:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  */
object Bench {

  /** /proc/stat aggregate-cpu parse, extracted for specs (a rig bug here
    * silently corrupts every future record — the one place "beyond the
    * oracle" means beyond ANY oracle). Returns (busy, steal, total)
    * jiffies or (-1,-1,-1) when the text is missing/malformed. busy =
    * non-idle non-steal; idle includes iowait when the kernel reports it
    * (field 5); guest/guest_nice are double-counted inside user on
    * modern kernels, so `total` deliberately stops at steal (first 8
    * fields). A pre-2.6.11 kernel reporting fewer fields still parses
    * (missing fields read 0); non-numeric text returns the sentinel. */
  def parseCpuStat(lines: Seq[String]): (Long, Long, Long) =
    try {
      lines.find(_.startsWith("cpu ")).map { l =>
        val v = l.trim.split("\\s+").drop(1).map(_.toLong)
        if (v.length < 4) (-1L, -1L, -1L)
        else {
          val total = v.take(8).sum
          val idle = v(3) + (if (v.length > 4) v(4) else 0L)
          val steal = if (v.length > 7) v(7) else 0L
          (total - idle - steal, steal, total)
        }
      }.getOrElse((-1L, -1L, -1L))
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** /proc/diskstats io-ticks (ms doing I/O, field 13) summed over the
    * named whole devices, extracted for specs. A single malformed line
    * skips THAT line instead of zeroing the whole reading (the pre-r14
    * form returned -1 for everything, and a one-device glitch would have
    * silently dropped the disk witness for the rest of the run). Returns
    * -1 only when the text itself is unreadable. */
  def parseDiskBusyMs(lines: Seq[String], wholeDevs: Set[String]): Long =
    try {
      lines.map(_.trim.split("\\s+"))
        .filter(f => f.length > 12 && wholeDevs.contains(f(2)))
        .flatMap(f => scala.util.Try(f(12).toLong).toOption)
        .sum
    } catch { case _: Throwable => -1L }

  /** One drift row: (key, best, median, quiet median). */
  type DriftRow = (String, Double, Double, Double)

  /** The checked-in baselines were measured on one box, recorded as
    * `box.cores`. On a box with another core count every drift row and
    * canary flag would describe the box rather than the run, so the
    * comparison goes dark: Some(reason) when the recorded count is
    * present and differs from `cores`, None when the baselines apply. */
  def foreignBox(props: java.util.Properties, cores: Int): Option[String] =
    Option(props.getProperty("box.cores")).map(_.trim)
      .filter(c => c.toIntOption.forall(_ != cores))
      .map(c => s"baselines measured on $c cores, this box has $cores: " +
        "drift/contention comparison off")

  /** Drift-row selection kernel: given a tier's (key, samples) pairs —
    * the samples as measured, i.e. the exact samples the queries_* maps
    * report — keep every key whose median exceeds 1.5x its quiet baseline
    * as (key, best, median, quiet), ordered worst-ratio first, capped at
    * `cap` with the overflow counted. A key with no baseline does not
    * participate. */
  def driftRowsOf(tier: Seq[(String, Seq[Double])],
      quiet: Map[String, Double], best: Seq[Double] => Double,
      median: Seq[Double] => Double, cap: Int): (Seq[DriftRow], Int) = {
    val all = tier.flatMap { case (k, s) =>
      quiet.get(k).flatMap { q =>
        val m = median(s)
        if (m > 1.5 * q) Some((k, best(s), m, q)) else None
      }
    }.sortBy { case (_, _, m, q) => -(m / q) }
    (all.take(cap), (all.size - cap).max(0))
  }

  /** Headline subset: one per operator family, weighted toward the
    * scale-critical paths (shuffle-heavy joins/windows, LSH dedup, ANN). */
  val headline: Seq[String] = Seq(
    "agg_sum_group3",        // TPC-H Q1 shape: scan + 2-key agg
    "filter_conjunct",       // pushdown-dominated scan
    "join_natural_5way",     // fact-fact shuffle + broadcast dims
    "topk_order_limit",      // agg + TakeOrderedAndProject
    "window_cumulative",     // shuffle + in-partition running sum
    "agg_count_distinct",    // distinct aggregation expansion
    "dedup_ngram_jaccard",   // inverted-index self-join
    "dedup_minhash_lsh",     // signature + banded candidate join
    "similarity_topk_bruteforce", // dot-product scoring loop
    "text_quality",          // per-row lambda pipeline
    "events_sessionize",     // user-keyed window + session agg
    "events_window_tumbling",// event-time bucketing
    // r8 additions (previously correctness-only, now probed per round):
    "lookup_bucket_pruned",  // index-analog point lookup (incl. build)
    "text_bpe_train",        // one type-count job + driver-side merges
    "events_stream_heavy_hitters") // CMS state across micro-batches

  /** The sf1 tier in run order. The quiet baselines were measured in
    * this order, so new keys are appended LAST and no existing key moves.
    * graph_triangle_sketch runs first (r9: its rep 2 degraded 3-6x when
    * it inherited intra-tier page-cache/local-dir state from preceding
    * keys), then the memory-heavy dedup probes on the freshest heap. */
  val sf1Keys: Seq[String] = Seq("graph_triangle_sketch",
    "dedup_ngram_jaccard", "dedup_containment",
    "dedup_simhash", "dedup_minhash_lsh", "dedup_block_ratio",
    "dedup_span_coverage",
    "text_tfidf_cosine",
    "join_natural_5way", "window_cumulative", "agg_sum_group3",
    "agg_count_distinct", "similarity_ann_lsh", "similarity_ivf",
    "similarity_ivf_pq",
    "text_quality", "text_repetition", "text_bm25",
    "text_contamination", "events_funnel", "events_retention",
    "text_line_dedup", "text_nb_classifier", "dedup_semantic",
    "text_keywords",
    "events_attribution", "events_rfm", "table_partition_overwrite",
    "stat_power_analysis",
    "agg_quantile_sketch",
    "dedup_edit_distance",
    "similarity_ivf_scaled", "similarity_filtered_ann",
    "similarity_filtered_ann_conj",
    "similarity_filtered_ann_scaled")

  /** The sf10 tier in run order: dedup-first like sf1 (the 60M-row tier
    * shows position-dependent inflation on memory-heavy keys — a
    * full-tier dedup_ngram_jaccard read 11.3s in 4th position vs 7.4s
    * first). The default subset keeps the scaling curve in every record
    * at bounded cost; `full` (SPARK_GRAFT_SF10=1) adds the curve keys and
    * graph_pagerank (~200s/rep). Both append their newest keys last. */
  def sf10Keys(full: Boolean): Seq[String] = {
    val corpus = Seq("dedup_semantic", "text_line_dedup",
      "text_nb_classifier", "events_attribution")
    if (full)
      Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash") ++
        corpus ++
        Seq("join_natural_5way", "window_cumulative", "agg_sum_group3",
          "similarity_ann_lsh", "text_quality", "text_contamination",
          "events_stream_heavy_hitters", "graph_pagerank")
    else Seq("dedup_ngram_jaccard") ++ corpus ++
      Seq("join_natural_5way", "agg_sum_group3", "events_stream_heavy_hitters")
  }

  /** Drift rows kept per tier on the compact line's widest level. */
  val DRIFT_CAP = 8

  /** The bench record's reader keeps only a 2000-byte stdout tail
    * (BENCH_r07/r08 "tail" is exactly 2000 chars) and sbt's ~75-byte "[success]" trailer follows
    * the line: past this length the line's head ("metric") is cut off and
    * the record parses null (the r7 incident). */
  val TAIL_BUDGET = 1870

  /** Everything the compact stdout line reports. `boards` are the six
    * scoreboards in compact-line priority order, each with its decimal
    * places; `canary` holds the measured canary values. */
  final case class Record(
      headline: Seq[(String, Seq[Double])],
      sf1: Seq[(String, Seq[Double])],
      sf10: Seq[(String, Seq[Double])],
      drift: (Seq[DriftRow], Int),
      driftSf10: (Seq[DriftRow], Int),
      boardDrift: Seq[(String, Double, Double)],
      canary: Seq[(String, Double)],
      contended: Boolean,
      memContended: Boolean,
      boards: Seq[(String, Seq[(String, Double)], Int)],
      baselinesOn: Boolean,
      sf: String) {
    def total: Double = headline.map(_._2.min).sum
  }

  /** Free-text values (paths from env vars) must not be able to break
    * the record's JSON: escape the two characters that can. */
  private def jstr(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Trimmed floats (1.50 -> 1.5, 1.00 -> 1) buy ~60 bytes across the
    * line's values at zero information cost. */
  private def trim(v: Double, dp: Int): String = {
    val s = s"%.${dp}f".format(v)
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
  }

  private def jmapT(xs: Seq[(String, Double)], dp: Int): String =
    xs.map { case (k, v) => "\"" + k + "\":" + trim(v, dp) }
      .mkString("{", ",", "}")

  private def bestT(xs: Seq[(String, Seq[Double])], dp: Int): String =
    jmapT(xs.map { case (k, s) => k -> s.min }, dp)

  /** The compact line at one degrade level, without the `queries` map.
    * Levels: 0 = everything (scoreboards greedy-fit in priority order);
    * 1 = scoreboards deferred; 2 = drift rows capped at 4; 3 = board_drift
    * deferred, drift capped at 2, bench_full path dropped; 4 = canary
    * values deferred (flags survive), tier maps at 1 decimal; 5 = drift
    * capped at 1; 6 = queries_sf1 deferred; 7 = queries_sf10 deferred.
    * Every field keeps ONE JSON type across levels: a deferred field is
    * omitted and a boolean `*_deferred` flag marks it; everything deferred
    * is always in bench_full. */
  def compactAt(r: Record, level: Int): String = {
    val driftCap =
      if (level < 2) DRIFT_CAP else if (level < 3) 4
      else if (level < 5) 2 else 1
    // "omitted" rides INSIDE the drift object (query keys can't collide
    // with it) so the object's shape is self-describing when truncated
    def drift(d: (Seq[DriftRow], Int)): String = {
      val kept = d._1.take(driftCap)
      val omitted = d._2 + d._1.size - kept.size
      (kept.map { case (k, b, m, q) =>
        "\"" + k + s"""\":[${trim(b, 2)},${trim(m, 2)},${trim(q, 2)}]"""
      } ++ (if (omitted > 0) Seq(s""""omitted":$omitted""") else Nil))
        .mkString("{", ",", "}")
    }
    val boardDrift = r.boardDrift.map { case (k, v, q) =>
      "\"" + k + s"""\":[${trim(v, 2)},${trim(q, 2)}]"""
    }.mkString("{", ",", "}")
    val d =
      s""","drift":${drift(r.drift)},"drift_sf10":${drift(r.driftSf10)}""" +
        (if (level < 3) s""","board_drift":$boardDrift"""
         else ""","board_drift_deferred":true""")
    val base = if (r.baselinesOn) "" else ""","baselines":"off""""
    val flags = s""""contended":${r.contended},"mem_contended":${r.memContended}"""
    val canary =
      if (level >= 4) s"""{$flags,"values_deferred":true}"""
      else (r.canary.map { case (k, v) => "\"" + k + "\":" + trim(v, 2) } :+
        flags).mkString("{", ",", "}")
    val bf = if (level < 3) ""","bench_full":"target/bench_full.json"""" else ""
    // the flat "queries" map is the line's CONTRACT; the tier maps are
    // detail bench_full carries at full resolution, so they defer last
    // but before the contract field does (see compactLine)
    val tierDp = if (level >= 4) 1 else 2
    val sf1 = if (level >= 6) """"queries_sf1_deferred":true"""
      else s""""queries_sf1":${bestT(r.sf1, tierDp)}"""
    val sf10 =
      if (r.sf10.isEmpty) ""
      else if (level >= 7) ""","queries_sf10_deferred":true"""
      else s""","queries_sf10":${bestT(r.sf10, tierDp)}"""
    def assemble(boards: String) =
      s"""{"metric":"total","value":${trim(r.total, 2)},"unit":"sec",${
        ""}$sf1$sf10$d$base,"contention_canary":$canary$boards$bf,"sf":"${jstr(r.sf)}"}"""
    if (level < 1) {
      // the longest priority-ordered prefix of scoreboards that fits;
      // each block keeps its exact name and shape, the rest are counted
      // in boards_omitted
      val blocks = r.boards.map { case (k, v, dp) => k -> jmapT(v, dp) }
      val blank = assemble("").length
      var used = 0
      val kept = blocks.takeWhile { case (k, v) =>
        val len = k.length + v.length + 4 // ,"k":v
        // +22: worst-case boards_omitted suffix stays payable
        val fits = blank + used + len + 22 <= TAIL_BUDGET
        if (fits) used += len
        fits
      }
      val omitted = blocks.size - kept.size
      assemble(kept.map { case (k, v) => s""","$k":$v""" }.mkString +
        (if (omitted > 0) s""","boards_omitted":$omitted""" else ""))
    } else assemble(""","scoreboards_deferred":true""")
  }

  /** The compact stdout line: the first (level, queries-decimals) pair,
    * level-major, whose line fits [[TAIL_BUDGET]]. The flat `queries` map
    * (the headline sf0.1 per-key bests whose sum IS "value") is the
    * original bench contract that the PERF comparator reads, so each
    * level is tried with the 2dp and then the 1dp map before detail sheds
    * another level; only a line that overflows at the slimmest level
    * carries `queries_deferred` instead. */
  def compactLine(r: Record): String = {
    def splice(base: String, mid: String) = {
      val at = base.indexOf("\"unit\":\"sec\"") + "\"unit\":\"sec\"".length
      base.substring(0, at) + mid + base.substring(at)
    }
    (for {
      level <- (0 to 7).iterator
      base = compactAt(r, level)
      dp <- Iterator(2, 1)
    } yield splice(base, s""","queries":${bestT(r.headline, dp)}"""))
      .find(_.length <= TAIL_BUDGET)
      .getOrElse(splice(compactAt(r, 7), ""","queries_deferred":true"""))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCores = Runtime.getRuntime.availableProcessors()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", nCores.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's 64 MB default advisory target over-coalesces post-shuffle
      // stages at bench scale (a 1.5M-row join shuffle is ~40 MB -> one
      // partition on 32 cores); 8 MB keeps the machine busy while still
      // merging tiny partitions. Same knob class as shuffle.partitions:
      // sized to the deployment (Prof5Way10x: 5-way 1.61s -> 1.28s).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // scale-tier probe isolation: r5's in-suite sf1 numbers ran up to 4x
    // above standalone ProfKey runs of the same key because a memory-heavy
    // probe inherited the heap pressure of everything measured before it
    // (old-gen garbage plus not-yet-GC'd broadcast blocks, paid as GC
    // pauses inside the timed window). Before each ISOLATED probe: drop
    // cached relations, then two explicit GCs with a beat between them so
    // the ContextCleaner can unregister the newly unreachable broadcasts/
    // shuffles before the timer starts. Scoped to the sf1/sf10 tiers: on
    // the sf0.1 tier the post-full-GC heap taxes every sub-second probe
    // ~0.1s, and those numbers were never pressure-inflated.
    def quiesce(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(200)
      System.gc()
    }

    // device-level I/O-busy time (ms) summed over physical block devices
    // (/proc/diskstats field 13), read before/after each scale-tier key:
    // busy_ms / wall_ms is the disk utilization DURING the key — all
    // system I/O, ours and anyone else's, which is exactly the point.
    def ioBusyMs(): Long =
      try {
        // whole PHYSICAL devices only: /sys/block lists whole devices
        // (never partitions), and layered devices (dm-*/md*/loop/ram/
        // zram) are excluded by name — their I/O re-appears on the
        // underlying disks and would double-count the busy time
        val wholeDevs = {
          val s = java.nio.file.Files.list(java.nio.file.Paths.get("/sys/block"))
          try s.iterator().asScala.map(_.getFileName.toString)
            .filterNot(n => n.startsWith("loop") || n.startsWith("ram") ||
              n.startsWith("zram") || n.startsWith("dm-") ||
              n.startsWith("md")).toSet
          finally s.close()
        }
        Bench.parseDiskBusyMs(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/diskstats")).asScala.toSeq, wholeDevs)
      } catch { case _: Throwable => -1L }
    val diskBusy = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-key CPU telemetry: /proc/stat aggregate deltas during each
    // isolated key. busy = non-idle non-steal jiffies over total (whole-
    // box utilization, ours and anyone else's), steal separately
    // (hypervisor time withheld), plus the fraction of the box's CPU-time
    // THIS JVM consumed: a slow key with cpu_busy ~1.0 and cpu_ours well
    // below it names external CPU load as its mode from the record alone.
    def cpuStat(): (Long, Long, Long) =
      try Bench.parseCpuStat(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).asScala.toSeq)
      catch { case _: Throwable => (-1L, -1L, -1L) }
    def processCpuNs(): Long =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      } catch { case _: Throwable => -1L }
    val cpuBusy = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuSteal = scala.collection.mutable.LinkedHashMap[String, Double]()
    val cpuOurs = scala.collection.mutable.LinkedHashMap[String, Double]()
    // the one measurement discipline behind every tier: noop-write
    // wall-clock over `reps` samples, failures logged (a crashed query
    // reports its crash-time sample rather than killing the bench JSON
    // line). Both best (round-comparable steady state) and median
    // (contention-robust) are emitted per probe.
    def probeTier(tier: String, dir: String, names: Seq[String],
        reps: Int, isolate: Boolean = false): Seq[(String, Seq[Double])] =
      names.map { name =>
        if (isolate) quiesce()
        val io0 = ioBusyMs()
        val c0 = cpuStat()
        val p0 = processCpuNs()
        val t00 = System.nanoTime()
        val samples = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $tier $name failed: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        val io1 = ioBusyMs()
        val c1 = cpuStat()
        val p1 = processCpuNs()
        val wallMs = (System.nanoTime() - t00) / 1e6
        if (isolate && io0 >= 0 && io1 >= 0) {
          diskBusy(s"$tier.$name") =
            if (wallMs > 0) (io1 - io0) / wallMs else 0.0
        }
        if (isolate && c0._3 >= 0 && c1._3 > c0._3) {
          val dt = (c1._3 - c0._3).toDouble
          cpuBusy(s"$tier.$name") = (c1._1 - c0._1) / dt
          cpuSteal(s"$tier.$name") = (c1._2 - c0._2) / dt
        }
        if (isolate && p0 >= 0 && p1 >= p0 && wallMs > 0) {
          cpuOurs(s"$tier.$name") = (p1 - p0) / 1e6 / (wallMs * nCores)
        }
        // rep order preserved (NOT sorted): bench_full's per-rep sample
        // arrays are the rep-over-rep degradation evidence
        name -> samples
      }
    // shuffle-sensitive contention canary: the gen canary (sf1_gen_sec)
    // is CPU/write-bound and stayed quiet in r7 while shuffle-heavy sf10
    // probes ran 3-5x over the quiet-box curve. A fixed-size exchange +
    // sort (constant input): 20M longs hashed to 1M keys, repartitioned
    // 64-way, sorted within partitions — ~300 MB through shuffle write +
    // fetch + sort. Median of 3 so one GC pause can't false-flag.
    def shuffleCanarySec(): Double = {
      import org.apache.spark.sql.functions._
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0, 20000000L, 1, 32)
          .select(col("id"),
            pmod(col("id") * 2654435761L, lit(1000003L)).as("k"))
          .repartition(64, col("k"))
          .sortWithinPartitions("k", "id")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      samples(1)
    }
    // memory/CPU-pressure canary — the mode the shuffle canary can't see
    // (r8's graph_triangle_sketch read 3x quiet with a clean shuffle
    // canary): a fixed-size miniature of the hash/object-aggregate +
    // string-hash mode — 8M longs md5-hashed into a 200k-group
    // ObjectHashAggregate carrying TopKAgg's O(k) object state per group,
    // under the fallback-threshold raise the sketch runs with. Constant
    // input, so its wall-clock is a pure machine-state read. Median of 3.
    def memCanarySec(): Double = {
      import org.apache.spark.sql.functions._
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.Tables.withConf(spark,
          "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
            -> (1 << 21).toString) {
          spark.range(0, 8000000L, 1, 32)
            .select(pmod(col("id") * 2654435761L, lit(200003L)).as("p"),
              col("id").as("c"))
            .repartition(col("p"))
            .groupBy("p")
            .agg(graft.functions.TopKAgg.top_k(
              -graft.Tables.md5Bucket(col("c"), 13).cast("double"),
              col("c"), 16).as("topk"))
            .write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      samples(1)
    }

    def bestOf(s: Seq[Double]): Double = s.min
    // true median: even-n tiers (sf1/sf10 run reps=2) average the two
    // middle samples — s(n/2) alone would report the MAX for n=2,
    // letting a single load burst fully determine the "median"
    def medianOf(s0: Seq[Double]): Double = {
      val s = s0.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // warmup: touch codegen, parquet footers, shuffle machinery. Guarded —
    // the bench must emit its JSON line even if a query can't run.
    try SparkEntry.queries("agg_sum_group3")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // ---- quiet-box baselines -------------------------------------------
    // Canary expectations and per-key quiet medians live in
    // bench-baselines.properties (checked in, box fingerprint recorded);
    // SPARK_GRAFT_BASELINES=<path> points elsewhere, =off disables the
    // comparison entirely — drift blocks empty, contended flags forced
    // false, and "baselines":"off" recorded so the driver knows the
    // comparison was intentionally dark, not clean. A file recorded on a
    // box with another core count (`foreignBox`) is dropped the same way.
    val baselinesEnv = sys.env.get("SPARK_GRAFT_BASELINES")
    val baselinesOff = baselinesEnv.exists(v =>
      Seq("off", "none", "disabled").contains(v.toLowerCase))
    // The DEFAULT checked-in file is resolved against the repo root, not
    // the process CWD (a bench launched from another directory silently
    // degraded to baselines=off) — walk up from CWD until the file (or the
    // .git marker) appears. An explicit SPARK_GRAFT_BASELINES=<path> stays
    // CWD-relative as given.
    val baselinesSetting = baselinesEnv.getOrElse {
      val name = "bench-baselines.properties"
      // stop at the first .git directory: the walk must not escape the
      // repo and adopt a stray properties file from a parent directory
      Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
        .takeWhile(_ != null)
        .flatMap { dir =>
          val f = dir.resolve(name)
          if (java.nio.file.Files.isReadable(f)) Some(Some(f.toString))
          else if (java.nio.file.Files.exists(dir.resolve(".git"))) Some(None)
          else None // keep walking
        }
        .nextOption().flatten
        .getOrElse(name)
    }
    val baselineProps: java.util.Properties = {
      val p = new java.util.Properties()
      if (!baselinesOff) {
        try {
          val in = java.nio.file.Files.newInputStream(
            java.nio.file.Paths.get(baselinesSetting))
          try p.load(in) finally in.close()
        } catch { case e: Throwable =>
          // a missing/unreadable file behaves like =off (loudly)
          System.err.println(s"[bench] baselines '$baselinesSetting' " +
            s"unreadable (${e.getMessage}): drift/contention comparison off")
        }
      }
      foreignBox(p, nCores).foreach { why =>
        System.err.println(s"[bench] $why")
        p.clear()
      }
      p
    }
    val baselinesOn = !baselinesOff && !baselineProps.isEmpty
    def baseline(key: String, default: Double): Double = {
      val v = baselineProps.getProperty(key)
      if (v == null) default
      else try v.trim.toDouble catch { case _: NumberFormatException =>
        System.err.println(s"[bench] baseline '$key=$v' not a number; " +
          "using default"); default
      }
    }
    def quietMedians(prefix: String): Map[String, Double] =
      baselineProps.stringPropertyNames().asScala.toSeq
        .filter(_.startsWith(prefix))
        .flatMap { k =>
          try Some(k.stripPrefix(prefix) ->
            baselineProps.getProperty(k).trim.toDouble)
          catch { case _: NumberFormatException =>
            System.err.println(s"[bench] baseline '$k' not a number; skipped")
            None
          }
        }.toMap
    val genExpected = baseline("canary.gen_sec", 8.3)
    val shufExpected = baseline("canary.shuffle_sec", 1.8)
    val memExpected = baseline("canary.mem_sec", 1.2)

    // n=3 best-of: two reps can't tell a 10% regression from noise
    val REPS = 3
    val queries = headline.filter(SparkEntry.queries.contains)
    val results = probeTier("sf0.1", sfDir, queries, reps = REPS)

    // ---- true-sf1 scale probe ------------------------------------------
    // The shuffle-heavy queries re-run at a genuinely generated sf1
    // (graft.tools.SfGen): 6M-row lineitem, 150k distinct custkeys, 50k
    // distinct documents — every cardinality grows with the data, so
    // shuffle-bound behavior at real row widths is visible
    // round-over-round. Best-of-2, each key isolated: a single cold shot
    // can't tell a real scaling cliff from a machine-load burst.
    val shuffleCanarySf1 = shuffleCanarySec()
    val memCanarySf1 = memCanarySec()
    val (sf1gen, sf1) = {
      val dir = graft.matview.Materializer.defaultScratch + "/sf1"
      val g0 = System.nanoTime()
      graft.tools.SfGen.generate(spark, dir, scale = 1.0)
      val genSec = (System.nanoTime() - g0) / 1e9
      (genSec, probeTier("sf1", dir, sf1Keys, reps = 2, isolate = true))
    }

    // Third decade (scale=10 — 60M-row lineitem, 500k docs): the default
    // subset keeps the scaling curve in every record; SPARK_GRAFT_SF10=1
    // widens it to the full tier for the ROADMAP curve.
    val sf10full = sys.env.get("SPARK_GRAFT_SF10") match {
      case Some(v) if v == "1" || v.equalsIgnoreCase("true") => true
      case Some(v) =>
        // a misspelled opt-in must not silently shrink the tier
        System.err.println(s"[bench] SPARK_GRAFT_SF10='$v' not " +
          "recognized (use 1/true); running the default sf10 subset")
        false
      case None => false
    }
    quiesce()
    val shuffleCanarySf10 = shuffleCanarySec()
    val memCanarySf10 = memCanarySec()
    val (sf10gen, sf10) = {
      val dir = graft.matview.Materializer.defaultScratch + "/sf10"
      val g0 = System.nanoTime()
      graft.tools.SfGen.generate(spark, dir, scale = 10.0, files = 64)
      val genSec = (System.nanoTime() - g0) / 1e9
      (genSec, probeTier("sf10", dir, sf10Keys(sf10full), reps = 2,
        isolate = true))
    }

    // physical plan node counts — the reference's secondary metric
    // ("loops" per query, BASELINE.md): structural plan size per query
    val planNodes = queries.map { name =>
      // sparkPlan (pre-AQE): the adaptive wrapper hides its subtree from
      // collect, reporting 1 node for everything
      val n = try {
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.sparkPlan.collect { case p => p }.size
      } catch { case _: Throwable => -1 }
      name -> n
    }

    // the reference's Q4 ordering invariant at bench scale: the same
    // question (top-10 spenders with names) against raw base tables, the
    // joined mart, and a pre-aggregated MV (builds excluded, as in the
    // reference where MVs pre-exist)
    val mvTriplet = {
      import org.apache.spark.sql.functions._
      import graft.Tables._
      val m = new graft.matview.Materializer(spark,
        graft.matview.Materializer.defaultScratch + "/bench_mv")
      def topk(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(col("spend").desc, col("o_custkey")).limit(10)
      def rawQ = topk(load(spark, sfDir, "orders")
        .join(broadcast(load(spark, sfDir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey")
        .agg(min(col("c_name")).as("name"), exactSum(col("o_totalprice")).as("spend")))
      m.create("bench_fact", load(spark, sfDir, "orders")
        .join(broadcast(load(spark, sfDir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select("o_custkey", "c_name", "o_totalprice"))
      m.create("bench_preagg", load(spark, sfDir, "orders")
        .join(broadcast(load(spark, sfDir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_custkey")
        .agg(min(col("c_name")).as("name"), exactSum(col("o_totalprice")).as("spend")))
      def martQ = topk(m.table("bench_fact").groupBy("o_custkey")
        .agg(min(col("c_name")).as("name"), exactSum(col("o_totalprice")).as("spend")))
      def viewQ = topk(m.table("bench_preagg"))
      // raw > mart > view is the reference's Q4 ordering invariant and the
      // driver-visible scoreboard, so it gets the most contention-robust
      // discipline in the file: 5 reps, INTERLEAVED round-robin (a load
      // burst degrades all three variants' same-index sample, not one
      // variant's whole run), median taken. r6's mart-over-raw inversion
      // was a best-of-3 sequential artifact on a loaded box.
      val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
        Seq("raw" -> (() => rawQ), "mart" -> (() => martQ),
          "view" -> (() => viewQ))
      val samples = (1 to 5).map { _ =>
        variants.map { case (_, mk) =>
          val t0 = System.nanoTime()
          mk().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      variants.map(_._1).zipWithIndex.map { case (name, i) =>
        name -> medianOf(samples.map(_(i)))
      }
    }

    // skew-join triplet: one hot key holds ~80% of the fact rows; compare
    // an unmitigated shuffle join, AQE's skew split (thresholds scaled to
    // bench SF), and explicit salting (graft.operators.SaltedJoin).
    // Broadcast is disabled throughout — at 100 TB neither side fits, and
    // the point is reducer balance, not join-strategy selection.
    val skewTriplet = {
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.functions._
      import graft.Tables._
      // x8 amplification so the hot reducer's share is large enough to
      // dominate wall-clock at bench SF (at production scale the raw
      // fact already is)
      val skewed = load(spark, sfDir, "lineitem")
        .withColumn("rep", explode(sequence(lit(0), lit(7))))
        .select(
          when(col("l_orderkey") % 100 < 80, 0L)
            .otherwise(col("l_orderkey") % 10000 + col("rep") * 10000).as("k"),
          col("l_extendedprice").as("v"))
      val dim = spark.range(80000).select(col("id").as("dk"),
        (col("id") % 97).cast("double").as("w"))
      def agg(j: DataFrame) = j.groupBy(col("k") % 7)
        .agg(count(lit(1)).as("n"), sum(col("v") * col("w")).as("s"))
      // each variant runs under exactly its own confs (the skew thresholds
      // apply ONLY to the aqe variant — r3 leaked the 1 MB advisory size
      // into the salted runs), and the reps are INTERLEAVED round-robin so
      // a machine-load burst during one wall-clock window degrades every
      // variant's sample equally instead of sinking whichever variant
      // happened to run then.
      val aqeConfs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
      val variants: Seq[(String, Seq[(String, String)], () => DataFrame)] = Seq(
        ("plain", Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => agg(skewed.join(dim, col("k") === col("dk")))),
        ("aqe_split", aqeConfs,
          () => agg(skewed.join(dim, col("k") === col("dk")))),
        ("salted", Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => agg(graft.operators.SaltedJoin.saltedInner(
            skewed, dim, "k", "dk", 32))),
        // salts = 0 derives the replication factor from the measured
        // hottest-key share instead of a hardcoded 32
        ("salted_auto", Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          () => agg(graft.operators.SaltedJoin.saltedInner(
            skewed, dim, "k", "dk", 0))))
      val samples = withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        (1 to REPS).map { _ =>
          variants.map { case (_, confs, mk) =>
            withConf(spark, confs: _*) {
              val t0 = System.nanoTime()
              mk().write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
          }
        }
      }
      variants.map(_._1).zipWithIndex.map { case (name, i) =>
        name -> samples.map(_(i)).min
      }
    }

    // ANN quality at bench SF: recall of each approximate path against the
    // exact brute-force top-k, over the same (query, neighbor) pairs.
    val annRecall = {
      // a crashed ANN query must be distinguishable from a bad-recall one:
      // failures log to stderr and emit the -1.0 sentinel
      def pairs(name: String): Option[Set[(Long, Long)]] =
        try Some(SparkEntry.queries(name)(spark, sfDir)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      val exact = pairs("similarity_topk_bruteforce")
      def recall(name: String): Double = (exact, pairs(name)) match {
        case (Some(ex), Some(ap)) if ex.nonEmpty =>
          ap.intersect(ex).size.toDouble / ex.size
        case _ => -1.0
      }
      // embedding-dedup recall: the LSH-bucketed near-dup join vs the exact
      // all-pairs baseline (which is deliberately not a registered key)
      def dedupPairs(mk: => org.apache.spark.sql.DataFrame): Option[Set[(Long, Long)]] =
        try Some(mk.select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
        catch { case e: Throwable =>
          System.err.println(s"[bench] embedding dedup failed: ${e.getMessage}")
          None
        }
      val dedupRecall =
        (dedupPairs(graft.ext.Dedup.dedupEmbeddingCosineExact(spark, sfDir)),
          dedupPairs(graft.ext.Dedup.dedupEmbeddingCosine(spark, sfDir))) match {
          case (Some(ex), Some(ap)) if ex.nonEmpty =>
            ap.intersect(ex).size.toDouble / ex.size
          case _ => -1.0
        }
      Seq("lsh" -> recall("similarity_ann_lsh"),
        "ivf" -> recall("similarity_ivf"),
        "quantized" -> recall("similarity_ann_quantized"),
        "ivf_pq" -> recall("similarity_ivf_pq"),
        "embedding_dedup" -> dedupRecall)
    }

    // sketched-triangle error contract, measured (not asserted): node
    // recall (share of exact triangle participants the sketch finds) and
    // total-triangle ratio vs the exact key. Both are <= 1 by the
    // one-sided contract (sketched edges are a subset of exact edges).
    // Measured at sf0.01 — the gate SF — NOT sfDir: the co-purchase
    // graph at sf0.1 has no >= 4-shared pairs at all (both keys return
    // empty there), so sf0.01 is where triangle structure exists. The
    // exact key stays excluded from the timed sf1 tier (24s standalone,
    // documented cost center) — this quantifies what the candidate cap
    // gives up.
    val triSketch = {
      val triDir = "/root/testdata/sf0.01"
      def counts(name: String): Option[Map[Long, Long]] =
        try Some(SparkEntry.queries(name)(spark, triDir)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      (counts("graph_triangle_count"), counts("graph_triangle_sketch")) match {
        case (Some(ex), Some(sk)) if ex.nonEmpty =>
          Seq(
            "node_recall" ->
              ex.keySet.intersect(sk.keySet).size.toDouble / ex.size,
            "triangle_ratio" ->
              sk.values.sum.toDouble / math.max(1L, ex.values.sum))
        case _ => Seq("node_recall" -> -1.0, "triangle_ratio" -> -1.0)
      }
    }

    // access-path asymmetry, measured: the registered lookup_bucket_pruned
    // key times build + lookup together (it is a lifecycle key); this
    // probe isolates the ACCESS cost the bucketed layout buys — build the
    // bucketed table once untimed, then time the pruned 3-key lookup
    // against the same lookup as a full scan over the raw parquet. At
    // 100 TB this ratio is the index-scan-vs-seq-scan asymmetry the
    // reference gets from its B-tree. Median of 5 (sub-second probes).
    val lookupPair = {
      import org.apache.spark.sql.functions._
      import graft.Tables.load
      try {
        val m = graft.matview.Materializer(spark)
        val t = "bench_lookup_orders"
        m.createBucketed(t,
          load(spark, sfDir, "orders").select(
            col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderstatus")),
          Seq("o_orderkey"), 16)
        def time(run: () => Unit): Double = {
          val samples = (1 to 5).map { _ =>
            val t0 = System.nanoTime()
            run()
            (System.nanoTime() - t0) / 1e9
          }.sorted
          samples(2)
        }
        // the conf override must hold while the scan PLANS (at save());
        // the whole materialization runs inside the scope
        val pruned = time(() =>
          graft.queries.Lifecycle.withAutoBucketedScanDisabled(spark) {
            m.table(t).filter(col("o_orderkey").isin(7L, 500L, 997L))
              .write.format("noop").mode("overwrite").save()
          })
        val full = time(() =>
          load(spark, sfDir, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderstatus"))
            .filter(col("o_orderkey").isin(7L, 500L, 997L))
            .write.format("noop").mode("overwrite").save())
        Seq("bucket_pruned" -> pruned, "full_scan" -> full)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] lookup pair failed: ${e.getMessage}")
        Seq("bucket_pruned" -> -1.0, "full_scan" -> -1.0)
      }
    }

    // ANALYZE-driven join reorder — stats_join_flip one level up: that
    // key flips a join STRATEGY (SMJ -> BHJ) when stats land; this probe
    // flips the join ORDER. The same 3-table query written in the worst
    // left-deep order (fact ⋈ fact-sized ⋈ selective dim) runs over the
    // generated sf1 catalog tables, ANALYZEd FOR ALL COLUMNS, with CBO
    // join reorder off vs on — same data, same stats on disk, only the
    // optimizer flag differs. As-written, the 6M x 1.5M join executes
    // first and the selective dim prunes AFTER the big shuffle; with
    // cbo.joinReorder the dim's filter selectivity (column stats) moves
    // it innermost, orders collapse ~25x before the fact join, and AQE
    // then broadcasts the shrunken side. The reference gets this from
    // VACUUM ANALYZE + the PG planner; `reordered` pins the plan fact
    // (deepest join touches the dim only under CBO).
    val joinReorder = {
      import org.apache.spark.sql.functions._
      import graft.Tables.load
      try {
        val sf1Dir = graft.matview.Materializer.defaultScratch + "/sf1"
        val scratch = graft.matview.Materializer.defaultScratch
        def mkTable(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          spark.sql(s"DROP TABLE IF EXISTS $name")
          df.write.mode("overwrite")
            .option("path", s"$scratch/$name").saveAsTable(name)
        }
        mkTable("br_li", load(spark, sf1Dir, "lineitem")
          .select("l_orderkey", "l_extendedprice"))
        mkTable("br_ord", load(spark, sf1Dir, "orders")
          .select("o_orderkey", "o_custkey"))
        mkTable("br_cust", load(spark, sf1Dir, "customer")
          .select("c_custkey", "c_nationkey"))
        Seq("br_li", "br_ord", "br_cust").foreach(t => spark.sql(
          s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
        def query = spark.table("br_li")
          .join(spark.table("br_ord"),
            col("l_orderkey") === col("o_orderkey"))
          .join(spark.table("br_cust").filter(col("c_nationkey") === 5),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("rev"))
        def cbo[A](on: Boolean)(f: => A): A = graft.Tables.withConf(spark,
          "spark.sql.cbo.enabled" -> on.toString,
          "spark.sql.cbo.joinReorder.enabled" -> on.toString)(f)
        def deepestJoinHasDim: Boolean = {
          import org.apache.spark.sql.catalyst.plans.logical.Join
          query.queryExecution.optimizedPlan
            .collect { case j: Join => j }.lastOption
            .exists(_.collectLeaves().exists(_.toString.contains("br_cust")))
        }
        val withCbo = cbo(on = true)(deepestJoinHasDim)
        val without = cbo(on = false)(deepestJoinHasDim)
        val samples = (1 to REPS).map { _ =>
          Seq(false, true).map { on =>
            cbo(on) {
              val t0 = System.nanoTime()
              query.write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
          }
        }
        Seq("as_written_sec" -> samples.map(_(0)).min,
          "cbo_sec" -> samples.map(_(1)).min,
          "reordered" -> (if (withCbo && !without) 1.0 else 0.0))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] join reorder failed: ${e.getMessage}")
        Seq("as_written_sec" -> -1.0, "cbo_sec" -> -1.0, "reordered" -> -1.0)
      }
    }

    // ---- output ---------------------------------------------------------
    // contention canaries: SfGen is a byte-identical workload every round
    // (pure spark.range arithmetic), so its wall-clock probes CPU/write-
    // side machine load; the shuffle canary covers the side SfGen can't
    // see, and the mem canary the hash-agg-heavy keys. A flagged run
    // means: read medians, not bests, and distrust ~2x outliers.
    val contended = baselinesOn && (sf1gen > 2 * genExpected ||
      shuffleCanarySf1 > 2 * shufExpected ||
      shuffleCanarySf10 > 2 * shufExpected)
    val memContended = baselinesOn && (memCanarySf1 > 2 * memExpected ||
      memCanarySf10 > 2 * memExpected)
    // Per-key drift surface: any scale-tier key whose this-run median
    // exceeds 1.5x the recorded quiet-box median is carried as [best,
    // median, quiet_median], so a reader sees environment drift per key
    // without reading the full file. A key missing from the baselines
    // (added later, never baselined) does not participate.
    val drift = driftRowsOf(sf1, quietMedians("sf1."), bestOf, medianOf,
      DRIFT_CAP)
    val driftSf10 = driftRowsOf(sf10, quietMedians("sf10."), bestOf,
      medianOf, DRIFT_CAP)
    // the six scoreboards in compact-line priority order (the BASELINE.md
    // shape-invariant boards first), with their compact decimals and
    // whether the board is a timing (flagged > 1.5x quiet) or a quality
    // value in [0,1] (flagged when it DROPS more than 0.05 below quiet)
    val boards = Seq(
      ("mv_speedup", mvTriplet, 3, true),
      ("lookup", lookupPair, 3, true),
      ("join_reorder", joinReorder, 2, true),
      ("skew_join", skewTriplet, 2, true),
      ("ann_recall", annRecall, 2, false),
      ("triangle_sketch", triSketch, 3, false))
    // board quiet values live under board.<block>.<key>; a missing entry
    // doesn't participate
    val boardDrift: Seq[(String, Double, Double)] = boards.flatMap {
      case (block, vals, _, timing) =>
        val quiet = quietMedians(s"board.$block.")
        // reordered is a 0/1 plan fact, not a timing
        vals.filter(v => block != "join_reorder" || v._1.endsWith("_sec"))
          .flatMap { case (k, v) =>
            quiet.get(k).flatMap { q =>
              val flagged =
                if (v < 0) false // crash sentinel: already visible as -1
                else if (timing) v > 1.5 * q
                else v < q - 0.05
              if (flagged) Some((s"$block.$k", v, q)) else None
            }
          }
    }
    val record = Record(results, sf1, sf10, drift, driftSf10, boardDrift,
      Seq("sf1_gen_sec" -> sf1gen, "sf10_gen_sec" -> sf10gen,
        "shuffle_sec" -> shuffleCanarySf1,
        "shuffle_sf10_sec" -> shuffleCanarySf10,
        "mem_sec" -> memCanarySf1, "mem_sf10_sec" -> memCanarySf10),
      contended, memContended, boards.map(b => (b._1, b._2, b._3)),
      baselinesOn, sfDir)

    // Two-channel emission (r7: only a ~2 KB stdout tail of the run is
    // kept): the FULL record (medians, per-rep samples, telemetry,
    // plan_nodes, 4-decimal precision) goes to target/bench_full.json;
    // stdout carries the compact line.
    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
    // per-rep sample arrays, REP ORDER (not sorted): degradation within a
    // key's own reps is the memory-mode signature
    def samplesMap(xs: Seq[(String, Seq[Double])]): String =
      xs.map { case (k, s) =>
        "\"" + k + "\":[" + s.map(v => f"$v%.4f").mkString(",") + "]"
      }.mkString("{", ",", "}")
    def tierJson(name: String, xs: Seq[(String, Seq[Double])]): String =
      s""""$name":${jmap(xs.map { case (k, s) => k -> bestOf(s) })},"${
        name}_median":${jmap(xs.map { case (k, s) => k -> medianOf(s) })}"""
    def driftJson(d: (Seq[DriftRow], Int)): String =
      (d._1.map { case (k, b, m, q) =>
        "\"" + k + f"""\":[$b%.2f,$m%.2f,$q%.2f]"""
      } ++ (if (d._2 > 0) Seq(s""""omitted":${d._2}""") else Nil))
        .mkString("{", ",", "}")
    val boardDriftJson = boardDrift.map { case (k, v, q) =>
      "\"" + k + f"""\":[$v%.2f,$q%.2f]"""
    }.mkString("{", ",", "}")
    val canaryJson = jmap(Seq("sf1_gen_sec" -> sf1gen,
      "sf10_gen_sec" -> sf10gen, "expected_sec" -> genExpected,
      "shuffle_sec" -> shuffleCanarySf1,
      "shuffle_expected_sec" -> shufExpected,
      "shuffle_sf10_sec" -> shuffleCanarySf10,
      "mem_sec" -> memCanarySf1, "mem_expected_sec" -> memExpected,
      "mem_sf10_sec" -> memCanarySf10)).dropRight(1) +
      s""","contended":$contended,"mem_contended":$memContended}"""
    val pn = planNodes.map { case (k, v) => "\"" + k + s"""\":$v""" }
      .mkString("{", ",", "}")
    val s10full = if (sf10.isEmpty) "" else
      "," + tierJson("queries_sf10", sf10) +
        ""","queries_sf10_samples":""" + samplesMap(sf10)
    val fullJson =
      f"""{"metric":"total","value":${record.total}%.4f,"unit":"sec",${
        tierJson("queries", results)},${tierJson("queries_sf1", sf1)},"queries_sf1_samples":${
        samplesMap(sf1)}$s10full,"disk_busy":${jmap(diskBusy.toSeq)},"cpu_busy":${
        jmap(cpuBusy.toSeq)},"cpu_steal":${jmap(cpuSteal.toSeq)},"cpu_ours":${
        jmap(cpuOurs.toSeq)},"drift":${driftJson(drift)},"drift_sf10":${
        driftJson(driftSf10)},"board_drift":$boardDriftJson,"baselines":"${
        if (baselinesOn) jstr(baselinesSetting) else "off"}","sf1_gen_sec":$sf1gen%.4f,"sf10_gen_sec":$sf10gen%.4f,"contention_canary":$canaryJson,"plan_nodes":$pn${
        boards.map { case (k, v, _, _) => s""","$k":${jmap(v)}""" }.mkString},"sf":"${jstr(sfDir)}"}"""
    val fullPath = java.nio.file.Paths.get("target/bench_full.json")
    try {
      java.nio.file.Files.createDirectories(fullPath.getParent)
      java.nio.file.Files.write(fullPath,
        (fullJson + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record: $fullPath")
    } catch { case e: Throwable =>
      // the file is best-effort; the compact stdout line is the contract
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    val out = compactLine(record)
    if (out.length > TAIL_BUDGET)
      System.err.println(s"[bench] compact line ${out.length}B exceeds the " +
        "tail budget at every degrade level — driver parse at risk")
    println(out)
    spark.stop()
  }
}
