package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.EventOps
import graft.streaming.StreamingOps

class EventStreamSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  test("bootstrap CI: all-zero-weight resamples drop with a DEFINED " +
      "result, never a NaN mean (r13 VERDICT item 7)") {
    // one event per type: each of the 64 Poisson resamples draws w=0
    // with p ~ 0.368, so ~23 cells are the degenerate all-zero-weight
    // case that was previously undefined (0/0 -> NaN, which hashes
    // differently per engine). Defined behavior: those resamples drop
    // from the CI order statistics; with < 63 survivors ci_hi reads the
    // out-of-bounds NULL identically in both engines.
    import TestSpark.spark
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bootstrap_deg")
    Seq((1L, "click", 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L))
      .toDF("event_id", "event_type", "value", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.ext.EventOps.statBootstrapCi(spark, dir.toString)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(r.fieldIndex("n_events")) == 1L)
    // every surviving resample mean is the single event's value — and
    // nothing is NaN
    val lo = r.get(r.fieldIndex("ci_lo"))
    val hi = r.get(r.fieldIndex("ci_hi"))
    for (v <- Seq(lo, hi) if v != null)
      assert(!v.asInstanceOf[Double].isNaN && v.asInstanceOf[Double] == 10.0)
  }

  test("streaming tumbling agg == batch tumbling agg once drained") {
    val stream = StreamingOps.eventsStream(spark, SF)
    val result = StreamingOps.runToCompletion(
      spark, StreamingOps.tumblingAgg(stream), "stream_tumbling")
      .select("hour_start", "event_type", "n", "sum_value")
    val batch = EventOps.eventsWindowTumbling(spark, SF)
      .select("hour_start", "event_type", "n", "sum_value")
    assert(result.exceptAll(batch).isEmpty && batch.exceptAll(result).isEmpty)
  }

  test("runToCompletion's scoped confs leave an unset session conf unset") {
    // a session where neither conf the drain overrides is set: restoring
    // a read-back default would pin it on the session
    val s2 = spark.newSession()
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    keys.foreach(s2.conf.unset)
    assert(keys.forall(k => !s2.conf.getAll.contains(k)))
    val out = StreamingOps.runToCompletion(s2,
      StreamingOps.tumblingAgg(StreamingOps.eventsStream(s2, SF)),
      "stream_unset_confs", statePartitions = Some(3), noDataBatches = false)
    assert(out.count() > 0)
    val leaked = keys.filter(s2.conf.getAll.contains)
    assert(leaked.isEmpty, s"confs left set: $leaked")
  }

  test("stream-merged quantile sketch state is bit-identical to a " +
      "one-shot batch sketch per window") {
    import graft.functions.QuantileSketchAgg.quantile_sketch
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("ts"), round(col("value") * 100).cast("long").as("v"))
    val agg = prep(StreamingOps.eventsStreamChunked(spark, SF))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "3 days").as("w"))
      .agg(quantile_sketch(col("v")).as("sk"))
    val drained = StreamingOps
      .runToCompletion(spark, agg, "spec_stream_quantiles")
      .select(col("w.start").as("ws"), col("sk"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    val batch = prep(graft.Tables.load(spark, SF, "events"))
      .groupBy(window(col("ts"), "3 days").as("w"))
      .agg(quantile_sketch(col("v")).as("sk"))
      .select(col("w.start").as("ws"), col("sk"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    assert(drained.nonEmpty && drained.keySet == batch.keySet)
    // element-wise long-add merges across micro-batches must land on the
    // exact counter array a single batch fold produces — per window
    drained.foreach { case (ws, sk) => assert(sk == batch(ws), s"win $ws") }
  }

  test("stream-merged KMV sketch state is bit-identical to a one-shot " +
      "batch sketch per window") {
    import graft.functions.KmvAgg.kmv_sketch
    import graft.functions.Mix64.mix64
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .select(col("ts"),
        shiftrightunsigned(mix64(col("user_id")), 1).as("h"))
    val agg = prep(StreamingOps.eventsStreamChunked(spark, SF))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "3 days").as("w"))
      .agg(kmv_sketch(col("h")).as("sk"))
    val drained = StreamingOps
      .runToCompletion(spark, agg, "spec_stream_kmv")
      .select(col("w.start").as("ws"), col("sk"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    val batch = prep(graft.Tables.load(spark, SF, "events"))
      .groupBy(window(col("ts"), "3 days").as("w"))
      .agg(kmv_sketch(col("h")).as("sk"))
      .select(col("w.start").as("ws"), col("sk"))
      .collect().map(r => r.getTimestamp(0) -> r.getSeq[Long](1)).toMap
    assert(drained.nonEmpty && drained.keySet == batch.keySet)
    // set-union merges across micro-batches must land on exactly the
    // K smallest distinct hashes a single batch fold produces
    drained.foreach { case (ws, sk) => assert(sk == batch(ws), s"win $ws") }
  }

  test("sessionize: no intra-session gap exceeds 30 minutes") {
    val sessions = EventOps.eventsSessionize(spark, SF)
    // max sessions per user bounded by events per user
    val perUser = sessions.groupBy("user_id").agg(
      count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    assert(perUser.filter(col("n_sessions") > col("n_events")).count() == 0)
    // session boundaries: start <= end everywhere
    assert(sessions.filter(col("session_start") > col("session_end")).count() == 0)
    // events are conserved
    val total = graft.Tables.load(spark, SF, "events").count()
    val inSessions = sessions.agg(sum("n_events")).collect().head.getLong(0)
    assert(inSessions == total)
  }
}
