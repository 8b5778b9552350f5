package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.Tables.{dec, dirKey, exactSum}
import graft.matview.{Dirs, Footers}
import graft.matview.Materializer.defaultScratch

/** Structured Streaming surface: the same event-time operators as
  * [[graft.ext.EventOps]], expressed over an unbounded source. The
  * reference workload is batch-only (SURVEY §2.8); this is the
  * engine-extension path for continuous ingestion at scale — file source
  * here, but the transform graph is source-agnostic (Kafka/delta swap in
  * unchanged).
  *
  * Watermarking bounds state: 1-hour tumbling windows with a 2-hour
  * watermark keep only ~3 windows of state per event_type regardless of
  * stream length.
  */
object StreamingOps {

  /** Schema of STAGED event files. Staging always rewrites the fixture
    * through [[graft.Tables.normalizeTs]], so whatever physical ts type the
    * source parquet carries (NANOS long or MICROS ntz — see Tables.load),
    * every staged file has ts as session-TZ TIMESTAMP and the stream reads
    * it with no per-row conversion. One normalization point for batch and
    * streaming means the two paths cannot diverge. */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType), // normalized at staging
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // ---- bounded file-stream replay: stage, replay, drain ---------------

  /** Replace `dir` with one file per chunk of `chunks`, a frame tagged
    * with a `__chunk` number: chunk NN lands as `chunk_NN.parquet` with
    * modification time NN x 10^6 ms, so [[replay]] delivers the chunks as
    * ordered micro-batches. One distributed job writes every chunk (the
    * tag is a partition column, so the files keep the frame's other
    * columns). Each chunk must sit in ONE partition of `chunks`: a chunk
    * that lands as several part files fails loudly, naming the chunk. An
    * empty chunk writes nothing and is skipped. */
  private[graft] def stage(dir: Path, chunks: DataFrame): Unit = {
    def list(p: Path): List[Path] = {
      val l = Files.list(p)
      try l.iterator().asScala.toList finally l.close()
    }
    Dirs.delete(dir)
    val tmp = dir.resolve("_chunks")
    try {
      chunks.write.partitionBy("__chunk").parquet(tmp.toString)
      list(tmp).filter(_.getFileName.toString.startsWith("__chunk="))
        .foreach { sub =>
          val i = sub.getFileName.toString.stripPrefix("__chunk=").toInt
          val parts =
            list(sub).filter(_.getFileName.toString.endsWith(".parquet"))
          require(parts.size == 1, s"staged chunk $i landed as " +
            s"${parts.size} part files: a chunk must sit in one partition")
          val dest = dir.resolve(f"chunk_$i%02d.parquet")
          Files.move(parts.head, dest, StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1000000L * i))
        }
    } finally Dirs.delete(tmp)
  }

  /** The file stream over a [[stage]]d dir, one file per micro-batch in
    * modification-time (= chunk) order. */
  private[graft] def replay(spark: SparkSession, dir: Path,
      schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)

  /** Start `writer`'s query, run it until its bounded source is
    * exhausted, stop it. */
  private[graft] def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Stage the events `chunks` under scratch `name` and replay them. */
  private def stagedEvents(spark: SparkSession, name: String,
      chunks: DataFrame): DataFrame = {
    val staged = Paths.get(s"$defaultScratch/$name")
    stage(staged, chunks)
    replay(spark, staged, eventsRawSchema)
  }

  /** `events` as chunk 1 plus a one-event sentinel chunk 2 (user_id -1,
    * event_type "flush") `afterUs` past the last real timestamp: the
    * sentinel's micro-batch advances the watermark past every real
    * window. */
  private def withSentinel(events: DataFrame, afterUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val maxUs = events.agg(max(unix_micros(col("ts"))))
      .collect().head.getLong(0)
    events.coalesce(1).withColumn("__chunk", lit(1)).unionByName(
      Seq((-1L, -1L, "flush", 0.0, "{}", 2))
        .toDF("event_id", "user_id", "event_type", "value", "props", "__chunk")
        .withColumn("ts", timestamp_micros(lit(maxUs + afterUs))),
      allowMissingColumns = true)
  }

  /** Unbounded view of the events table (file-source stream). The file
    * stream source requires a directory, so the events fixture is staged
    * (normalized) into scratch — in production the source would already be
    * a directory of arriving files with a known schema. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    stagedEvents(spark, "stream_events",
      graft.Tables.load(spark, dir, "events").coalesce(1)
        .withColumn("__chunk", lit(1)))

  /** Tumbling 1-hour event-time aggregation with watermark — identical
    * semantics to the batch events_window_tumbling once the stream drains. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        exactSum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  // ---- stateful sessionization (flatMapGroupsWithState) ----------------

  /** Per-user session accumulator carried across micro-batches. */
  final case class SessionState(
      nextSessionId: Long, startUs: Long, lastUs: Long,
      count: Long, sumCents: Long)

  /** Closed session record; times in epoch micros (exact integers). */
  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, session_value: Double)

  final case class Ev(
      user_id: Long, event_id: Long, ts: java.time.Instant, value: Double) {
    def tsUs: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }

  private val GAP_US: Long = 1800L * 1000000L
  /** How long a closed user's session-id counter survives as a
    * zero-count tombstone (event time) before state is reclaimed. */
  private val TOMBSTONE_US: Long = 30L * 86400L * 1000000L

  /** Incremental sessionization over an unbounded stream: custom state via
    * `flatMapGroupsWithState` with event-time timeout — sessions close
    * either when a later event exceeds the 30-minute gap (in-batch) or when
    * the watermark passes lastEvent + gap (timeout). Exact-cent value
    * accumulation keeps sums bit-identical to the batch operator.
    *
    * Scale: state is one fixed-size record per active user; the watermark
    * timeout bounds it to users active within the last gap+delay window.
    */
  def sessionizeStream(events: DataFrame): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    // the watermark column must survive into the typed Dataset for
    // event-time timeout to resolve
    val typed = events
      .withWatermark("ts", "1 second")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[Ev]

    def close(uid: Long, sid: Long, st: SessionState): Session =
      Session(uid, sid, st.count, st.startUs, st.lastUs, st.sumCents / 100.0)

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            if (st.count == 0L) {
              // a tombstone's retention expired: the counter is finally
              // discarded (a user silent for TOMBSTONE_US)
              state.remove()
              Iterator.empty
            } else {
              // close the open session but KEEP the per-user counter as
              // a zero-count tombstone: state.remove() here restarted
              // session_id at 1 when the user returned, duplicating
              // (user_id, session_id) pairs vs the batch operator's
              // sequential numbering. The tombstone holds 16 bytes of
              // real payload per recently-seen user and expires after
              // TOMBSTONE_US — bounded state, unique ids.
              state.update(SessionState(st.nextSessionId + 1, 0L, 0L, 0L, 0L))
              state.setTimeoutTimestamp((st.lastUs + TOMBSTONE_US) / 1000)
              Iterator.single(close(uid, st.nextSessionId, st))
            }
          } else {
            val events = batch.toArray.sortBy(e => (e.tsUs, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            events.foreach { e =>
              val cents = math.round(e.value * 100)
              val us = e.tsUs
              st = if (st == null)
                SessionState(1L, us, us, 1L, cents)
              else if (st.count == 0L)
                // returning user: resume numbering from the tombstone
                SessionState(st.nextSessionId, us, us, 1L, cents)
              else if (us - st.lastUs > GAP_US) {
                closed += close(uid, st.nextSessionId, st)
                SessionState(st.nextSessionId + 1, us, us, 1L, cents)
              } else
                // cross-batch out-of-order events (allowed inside the 1s
                // watermark delay) must not REGRESS the session bounds: a
                // regressed lastUs would split the session against a
                // later in-gap event, and startUs only ever tightens
                // downward. (A late event bridging two already-split
                // sessions still cannot re-merge them — that needs
                // buffering no single-pass state machine has; the
                // watermark bounds how late such an event can be.)
                st.copy(startUs = math.min(st.startUs, us),
                  lastUs = math.max(st.lastUs, us), count = st.count + 1,
                  sumCents = st.sumCents + cents)
            }
            if (st != null && st.count > 0L) {
              state.update(st)
              state.setTimeoutTimestamp((st.lastUs + GAP_US) / 1000 + 1000)
            }
            closed.result().iterator
          }
      }
  }

  // ---- stateful funnel progression (flatMapGroupsWithState) ------------

  /** Per-user funnel progress carried across micro-batches: timestamps
    * of the first view and the first post-view click (-1 = not yet),
    * plus a done flag so only the FIRST completed funnel emits. */
  final case class FunnelState(viewUs: Long, clickUs: Long, done: Boolean)

  /** Completed conversion record; times in epoch micros. */
  final case class FunnelConv(
      user_id: Long, view_us: Long, click_us: Long, purchase_us: Long)

  final case class FEv(
      user_id: Long, event_id: Long, ts: java.time.Instant,
      event_type: String) {
    def tsUs: Long = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
  }

  /** Incremental funnel progression over the stream: a per-user state
    * machine (view -> first later click -> first later purchase) via
    * `flatMapGroupsWithState`, emitting one conversion record the moment
    * the purchase lands — the realtime face of the batch
    * `events_funnel` chain. Greedy processing in (ts, event_id) order is
    * exact here because the chunked arrival replay delivers each user's
    * events in nondecreasing event-time order ACROSS micro-batches
    * (time-range chunks) and sorted within each batch — so "first click
    * after the first view" is decided on the same total order the
    * batch oracle's MIN-chain uses.
    *
    * Scale: state is one 17-byte record per user ever seen. A production
    * deployment bounds it with an event-time timeout evicting users
    * whose conversion window has passed (the [[sessionizeStream]]
    * pattern); this bounded replay keeps NoTimeout so the final state
    * is exactly the batch semantics with an unbounded window. */
  def funnelStream(events: DataFrame): org.apache.spark.sql.Dataset[FunnelConv] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[FEv]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, false))
          val out = Seq.newBuilder[FunnelConv]
          batch.toArray.sortBy(e => (e.tsUs, e.event_id)).foreach { e =>
            if (!st.done) e.event_type match {
              case "view" if st.viewUs < 0 =>
                st = st.copy(viewUs = e.tsUs)
              case "click" if st.viewUs >= 0 && st.clickUs < 0 &&
                  e.tsUs > st.viewUs =>
                st = st.copy(clickUs = e.tsUs)
              case "purchase" if st.clickUs >= 0 && e.tsUs > st.clickUs =>
                out += FunnelConv(uid, st.viewUs, st.clickUs, e.tsUs)
                st = st.copy(done = true)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Chunked arrival replay of the events fixture: 4 time-range chunk
    * files, one micro-batch each — the bounded harness that makes a
    * stateful operator genuinely carry state ACROSS batches. */
  def eventsStreamChunked(spark: SparkSession, dir: String): DataFrame =
    stagedEvents(spark, "stream_chunked",
      stageChunks(graft.Tables.load(spark, dir, "events")))

  /** Bounded-stream harness for the stateful operators: stages the events
    * file plus a later "flush" sentinel file (one event, user_id = -1, far
    * past the last real timestamp), processed one file per micro-batch so
    * the sentinel batch advances the watermark and times out every
    * remaining session state. Production streams run forever and need no
    * sentinel; this exists so bounded tests observe the timeout path. */
  def eventsStreamWithFlush(spark: SparkSession, dir: String): DataFrame =
    stagedEvents(spark, "stream_events_flush",
      withSentinel(graft.Tables.load(spark, dir, "events"),
        GAP_US + 7200L * 1000000L))

  /** Run a streaming aggregation to completion against a bounded file
    * source and return the final result — used by tests to prove
    * batch/stream semantic equivalence.
    *
    * `statePartitions` (r17 optimization round): a stateful query pins
    * its state-store partition count to `spark.sql.shuffle.partitions`
    * at FIRST start, AQE never coalesces stateful exchanges, and every
    * micro-batch then pays per-partition state-store commit + task
    * launch whether or not a partition holds state. For the
    * window-grained sketch keys the state cardinality is the WINDOW
    * count — bounded by the stream's time span, independent of corpus
    * size and core count — so a deployment sizes their state partitions
    * to that cardinality, not to the cluster (guide §2: partitioning
    * derived from the data, not a constant tuned for either mode).
    * Callers whose state is corpus-scale (sessions per user, dedup
    * keys, stream-stream joins) pass None and keep the session setting.
    * Measured (ProfStream, sf0.1, 32 cores): the heavy-hitters drain
    * reads 4.85s at 32 state partitions vs 2.39s at 4 — the state rows
    * themselves are <= |windows| either way. Results are unchanged by
    * construction: state is keyed by window and every sketch merge is
    * commutative/associative, so the drained relation is partition-
    * count-invariant (the oracle gate pins it bit-exactly). */
  def runToCompletion(spark: SparkSession, agg: DataFrame, name: String,
      mode: String = "complete",
      statePartitions: Option[Int] = None,
      noDataBatches: Boolean = true): DataFrame = {
    // the scoped overrides mutate session confs around start() — correct
    // for the sequential Bench/Verify drivers (one streaming query at a
    // time per session); concurrent streaming starts on one session would
    // need a cloned session (spark.newSession) instead.
    // No-data micro-batches exist to advance the watermark so APPEND-mode
    // windows finalize and timed-out state flushes without new input; a
    // COMPLETE-mode sketch drain re-emits its full state every batch, so
    // the trailing no-data batch only re-runs the plan to produce the
    // same table. The window-sketch keys opt out (~0.4s/run measured);
    // append-mode and timeout-dependent callers keep the default.
    val confs =
      statePartitions.map(p => "spark.sql.shuffle.partitions" -> p.toString).toSeq ++
        (if (noDataBatches) Nil
         else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    graft.Tables.withConf(spark, confs: _*) {
      drain(agg.writeStream.outputMode(mode).format("memory").queryName(name))
    }
    spark.table(name)
  }

  /** State-partition count for the window-grained sketch stream keys:
    * sized to state cardinality (windows over the stream's span), not to
    * the box. Conf-overridable for a deployment whose window count is
    * genuinely large. */
  def windowStateParts(spark: SparkSession): Option[Int] = {
    val p = spark.conf.get("spark.graft.stream.windowStatePartitions", "8").toInt
    // a bad conf must not pin a streaming query at <= 0 partitions
    // (r17 ADVICE: the unvalidated parse made that inexpressible to
    // detect); state-partition counts are strictly positive
    require(p > 0,
      s"spark.graft.stream.windowStatePartitions must be > 0, got $p")
    Some(p)
  }

  /** Native session windows (session_window(ts, gap)): state merges
    * adjacent windows per key; at scale this is the built-in, watermark-
    * bounded replacement for hand-rolled gap logic. Shared by the batch
    * and streaming session queries so both provably compute the same
    * relation. Session extent is [first event, last event + gap). */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  /** Stream-stream inner join: each purchase joined to the same user's
    * clicks within the preceding 30 minutes. Both sides carry watermarks
    * and the join condition carries the time range — that pair is what
    * lets Spark bound the buffered state on BOTH sides (clicks older
    * than watermark - 30min are provably unmatchable and get evicted).
    * At 100 TB of events this is the canonical attribution join. */
  def clickAttributionJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("event_id"), col("user_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Streaming MV maintenance — the streaming analog of
    * [[graft.matview.Materializer.refreshIncremental]]: an update-mode
    * hourly aggregation feeds `foreachBatch`, and each micro-batch
    * UPSERTS its changed groups into a persisted parquet MV (anti-join
    * out the stale rows, union the fresh totals, stage + swap). Per batch
    * this touches |changed groups| + |MV| rows — never the full history;
    * watermark eviction is safe under upsert because update mode drops
    * sub-watermark late rows entirely rather than re-opening partial
    * state. The events file is staged time-ordered into 4 chunk files
    * processed one per trigger, so the merge path executes repeatedly
    * before the final MV is read back (bounded-test scaffolding; a real
    * deployment points the same query at an arriving directory). */
  def streamingMatviewRefresh(spark: SparkSession, dir: String): DataFrame = {
    val (staged, mvPath, ckpt) =
      scratchDirs("stream_mv_src", "mv_stream_hourly", "mv_stream_ckpt")
    stage(staged, stageChunks(graft.Tables.load(spark, dir, "events")))
    upsertMvRun(spark, staged, mvPath, ckpt)
  }

  /** A stream key's (staged source, sink, checkpoint) under scratch; the
    * sink and checkpoint start empty ([[stage]] replaces the source). */
  private def scratchDirs(src: String, sink: String, ckpt: String)
      : (Path, Path, Path) = {
    val dirs = Seq(src, sink, ckpt).map(n => Paths.get(s"$defaultScratch/$n"))
    dirs.tail.foreach(Dirs.delete)
    (dirs(0), dirs(1), dirs(2))
  }

  /** Time-ordered 4-way chunking of the arrival fixture, fully
    * distributed: a range repartition on (ts, event_id) makes every chunk
    * a contiguous time range with chunk i entirely before chunk i+1 —
    * exactly the inter-chunk ordering monotone watermark progression
    * needs — and the chunk tag is the partition id itself. This replaces
    * the earlier `ntile(4) OVER (ORDER BY ts)` staging, which funneled
    * the whole table through one task; range boundaries are
    * sample-estimated, so chunk SIZES are approximate where ntile's were
    * exact quartiles, but chunk ORDER — the only property the refresh
    * semantics depend on — is guaranteed, and every stage stays
    * distributed at 100 TB. */
  private[graft] def stageChunks(raw: DataFrame): DataFrame =
    raw.repartitionByRange(4, col("ts"), col("event_id"))
      .withColumn("__chunk", spark_partition_id() + lit(1))

  /** Drive the update-mode hourly aggregation over a staged file-stream
    * directory, upserting each micro-batch's changed groups into the MV
    * at `mvPath`; returns the final MV. Shared by the streaming-refresh
    * and late-drop keys. */
  private[graft] def upsertMvRun(
      spark: SparkSession, staged: Path, mvPath: Path, ckpt: Path)
      : DataFrame = {
    drain(tumblingAgg(replay(spark, staged, eventsRawSchema)).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upserts = batch.persist()
        try {
          if (upserts.count() > 0) Dirs.swap(mvPath) { stage =>
            // shared MERGE primitive, replace resolution: each upsert
            // carries the group's full new state — naturally idempotent
            // under micro-batch replay (re-replacing with the same state
            // is a no-op), so no txn marker is needed here
            val merged =
              if (!Files.exists(mvPath)) upserts
              else graft.matview.Merge.replace(
                Footers.read(spark, Seq(mvPath.toString)), upserts,
                Seq("hour_start", "event_type"))
            merged.write.mode("overwrite").parquet(stage.toString)
            true
          }
        } finally upserts.unpersist()
        ()
      })
    Footers.read(spark, Seq(mvPath.toString))
      .orderBy("hour_start", "event_type")
  }

  /** Watermark late-drop semantics, PROVEN — with the eviction nuance
    * made explicit. Three micro-batches: (1) the whole events file
    * (advances the watermark to max(ts) - 2h); (2) one sentinel event 4h
    * past the end — during this batch the aggregation EVICTS all expired
    * window state (the watermark alone does not drop late input while
    * its window's state is still live: probed in ProfLate, a late row
    * arriving one batch after the watermark passed still merges); (3)
    * the 100 EARLIEST events replayed under fresh event_ids — their
    * windows' state is now gone, so the update-mode aggregation drops
    * every one (ProfLate: zero upserts from this batch). The final MV
    * therefore equals the batch aggregation over the ORIGINAL events
    * alone — exactly what the oracle computes — even though the late
    * duplicates really were fed through the stream. */
  def streamingLateDrop(spark: SparkSession, dir: String): DataFrame = {
    val (staged, mvPath, ckpt) =
      scratchDirs("stream_late_src", "mv_stream_late", "mv_stream_late_ckpt")
    val events = graft.Tables.load(spark, dir, "events")
    stage(staged, withSentinel(events, 4L * 3600 * 1000000L).unionByName(
      events.orderBy(col("ts"), col("event_id")).limit(100)
        .withColumn("event_id", col("event_id") + 1000000000L)
        .withColumn("__chunk", lit(3))))

    upsertMvRun(spark, staged, mvPath, ckpt)
      .filter(col("event_type") =!= "flush") // the sentinel's own group
      .withColumn("n_late_injected", lit(100L))
  }

  /** Streaming CDC application — the continuous face of the batch
    * last-writer-wins apply ([[graft.ext.EventOps.eventsCdcApply]]): the
    * change log arrives as 4 time-ordered micro-batches; each batch
    * folds to per-key last-writer-wins (packed struct arg-max, no
    * window), then merges into a persisted key-state table with a keyed
    * full-outer join (batch wins on collision — batches are time-ordered
    * by construction, so batch-local LWW + later-batch-overwrite IS
    * global LWW). Deletes are TOMBSTONES (alive=false), not physical
    * removals, so a key deleted in batch 1 and re-upserted in batch 3
    * resurrects with its full change count — exactly the batch
    * semantics. The final serve applies the state to the base relation;
    * the oracle is the SAME SQL as the batch key, so the gate proves
    * stream == batch. Per batch this touches |batch keys| + |state|
    * rows — never the full change history. */
  def streamingCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val (staged, statePath, ckpt) =
      scratchDirs("stream_cdc_src", "stream_cdc_state", "stream_cdc_ckpt")
    stage(staged, stageChunks(graft.Tables.load(spark, dir, "events")))
    val state = cdcStateRun(spark, staged, statePath, ckpt)
    val base = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("ck"), col("c_acctbal"))
    base.join(state, col("ck") === col("k"), "full_outer")
      .filter(col("alive").isNull || col("alive"))
      .select(
        coalesce(col("ck"), col("k")).as("custkey"),
        when(col("k").isNotNull, col("balance"))
          .otherwise(col("c_acctbal")).as("balance"),
        coalesce(col("n_changes"), lit(0L)).as("n_changes"))
      .orderBy("custkey")
  }

  /** Drain the staged change log into the per-key state table at
    * `statePath` (see [[streamingCdcApply]]); returns the final state. */
  private[graft] def cdcStateRun(
      spark: SparkSession, staged: Path, statePath: Path, ckpt: Path)
      : DataFrame = {
    drain(replay(spark, staged, eventsRawSchema).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // exactly-once guard, read after the swap's crash recovery: the
        // applied batch id travels INSIDE the state dir (underscore files
        // are invisible to the parquet reader), so state + marker swap
        // together and a re-delivered micro-batch — whose n_changes += bn
        // fold is NOT idempotent — is declined.
        Dirs.swap(statePath) { stage =>
          val appliedF = statePath.resolve("_applied_batch")
          val applied =
            if (Files.exists(appliedF)) Files.readString(appliedF).trim.toLong
            else -1L
          batchId > applied && {
            val lww = batch.groupBy(col("user_id").as("k"))
              .agg(max(struct(col("ts"), col("event_id"),
                col("event_type").as("t"), col("value").as("v"))).as("last"),
                count(lit(1)).as("bn"))
              .select(col("k"), (col("last.t") =!= "error").as("b_alive"),
                col("last.v").as("b_val"), col("bn"))
            val merged =
              if (!Files.exists(statePath))
                lww.select(col("k"), col("b_alive").as("alive"),
                  col("b_val").as("balance"), col("bn").as("n_changes"))
              else {
                val prev = Footers.read(spark, Seq(statePath.toString))
                // batch-wins is decided on KEY PRESENCE (lww("k") not
                // null), never by coalescing payloads: a last writer whose
                // value IS NULL must overwrite the older balance with
                // NULL, exactly as the batch apply and the shared oracle do
                val inBatch = lww("k").isNotNull
                prev.join(lww, prev("k") === lww("k"), "full_outer")
                  .select(
                    coalesce(lww("k"), prev("k")).as("k"),
                    when(inBatch, col("b_alive")).otherwise(col("alive"))
                      .as("alive"),
                    when(inBatch, col("b_val")).otherwise(col("balance"))
                      .as("balance"),
                    (coalesce(col("n_changes"), lit(0L)) +
                      coalesce(col("bn"), lit(0L))).as("n_changes"))
              }
            merged.write.mode("overwrite").parquet(stage.toString)
            Files.writeString(stage.resolve("_applied_batch"), batchId.toString)
            true
          }
        }
        ()
      })
    Footers.read(spark, Seq(statePath.toString))
  }

  /** Sliding 1-hour windows every 15 minutes over the stream — the
    * overlap case: each event feeds four windows' state. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Exactly-once streaming ingestion into the [[graft.matview.Snapshots]]
    * commit log — the lakehouse sink pattern (Delta's per-stream txn
    * versions): each micro-batch lands as one stats-carrying append under
    * txn id `ingest-<batchId>`, so a REPLAYED batch (foreachBatch
    * re-delivery after a failure, the at-least-once contract) is a no-op
    * instead of a duplicate append. The key replays batch 2's commit
    * explicitly and pins that the version count did not move
    * (`replay_skipped`), that the per-version deltas partition the table
    * exactly (`deltas_partition` — the incremental-consumption face), and
    * the final table equals the full fixture through the oracle. The
    * chunks are contiguous time ranges, so ingestion gives range
    * readability for free: a probe strictly inside chunk 3's recorded
    * zone span reads exactly 1 of the 4 dirs (`probe_dirs_read`). */
  def streamTableIngest(spark: SparkSession, dir: String): DataFrame = {
    val staged = Paths.get(s"$defaultScratch/stream_ingest_src")
    val ckpt = Paths.get(s"$defaultScratch/stream_ingest_ckpt")
    Dirs.delete(ckpt)
    stage(staged, stageChunks(graft.Tables.load(spark, dir, "events")))
    val snap = new graft.matview.Snapshots(spark, s"$defaultScratch/isnaps")
    val t = s"events_ingest_${dirKey(dir)}"
    snap.drop(t)
    drain(replay(spark, staged, eventsRawSchema).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        snap.commitAppendStats(t, batch, Seq("ts"),
          txn = Some(s"ingest-$batchId"))
        ()
      })
    val committed = snap.latest(t) + 1
    // at-least-once re-delivery, simulated explicitly: batch 2's data
    // (the third staged chunk — maxFilesPerTrigger=1, mtime order) under
    // its original txn id
    val afterReplay = {
      val chunk3 = spark.read.schema(eventsRawSchema)
        .parquet(staged.resolve("chunk_03.parquet").toString)
      snap.commitAppendStats(t, chunk3, Seq("ts"), txn = Some("ingest-2"))
      snap.latest(t) + 1
    }
    // incremental-consumption invariant: per-version deltas partition the
    // table (count conservation; values pinned by the oracle's full agg)
    val deltaRows = (0 until committed)
      .map(v => snap.readDelta(t, v).count()).sum
    val full = snap.readLatest(t)
    val partitioned = deltaRows == full.count()
    // range readability falls out of time-ordered ingestion: probe
    // strictly inside chunk 3's recorded span
    val d3 = {
      // version 2's manifest ends with the dir batch 2 added
      val chunk3Dir = snap.versionDirs(t, 2).last
      val z = graft.matview.Snapshots.dirStats(chunk3Dir)("ts")
      snap.readPruned(t, snap.latest(t), "ts",
        (z.mn.toLong + 1).toString, (z.mx.toLong - 1).toString)
    }
    full.groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .withColumn("n_versions", lit(committed.toLong))
      .withColumn("replay_skipped", lit(afterReplay == committed))
      .withColumn("deltas_partition", lit(partitioned))
      .withColumn("probe_dirs_read", lit(d3.dirsRead.toLong))
      .withColumn("probe_dirs_total", lit(d3.dirsTotal.toLong))
      .orderBy("event_type")
  }
}
