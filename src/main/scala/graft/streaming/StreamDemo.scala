package graft.streaming

import org.apache.spark.sql.SparkSession

/** Runnable example: continuous event-time aggregation over the events
  * table via Structured Streaming, drained to completion and printed.
  *
  *   sbt "runMain graft.streaming.StreamDemo [sfDir]"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = StreamingOps.runToCompletion(
      spark, StreamingOps.tumblingAgg(StreamingOps.eventsStream(spark, dir)),
      "demo_tumbling")
    out.orderBy("hour_start", "event_type").show(12, truncate = false)
    println(s"[stream-demo] windows=${out.count()}")

    // stateful sessionization (flatMapGroupsWithState + event-time timeout)
    val sessions = StreamingOps.sessionizeStream(
      StreamingOps.eventsStreamWithFlush(spark, dir))
    StreamingOps.drain(sessions.writeStream
      .outputMode("append").format("memory").queryName("demo_sessions"))
    val sess = spark.table("demo_sessions")
      .filter(org.apache.spark.sql.functions.col("user_id") =!= -1)
    sess.orderBy("user_id", "session_id").show(8, truncate = false)
    println(s"[stream-demo] sessions=${sess.count()}")
    spark.stop()
  }
}
