package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 regression class, armored: events fixtures have shipped
  * with `ts` as TIMESTAMP(NANOS) (read as a nanosecond long under
  * nanosAsLong) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), and a
  * hardcoded assumption about which one crashed every events key when
  * the driver regenerated fixtures. [[Tables.normalizeTs]] must accept
  * every physical form and produce the identical session-TZ TIMESTAMP
  * column — this spec writes the SAME instants in all three forms and
  * asserts the normalized reads are value-identical. */
class NormalizeTsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("long-nanos, TIMESTAMP_NTZ, and TIMESTAMP reads normalize identically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("normalize_ts").toString
    val us = Seq(1704067200000000L, 1704070815123456L, 1706745599999999L)

    // form 1: raw nanosecond longs (the SfGen bench-fixture form)
    us.map(u => u * 1000L).toDF("ts")
      .write.mode("overwrite").parquet(s"$dir/nanos")
    // form 2: TIMESTAMP_NTZ micros (the driver's regenerated fixtures)
    us.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/ntz")
    // form 3: session-TZ TIMESTAMP micros (the normalized/staged form)
    us.toDF("us").select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/tz")

    val reads = Seq("nanos", "ntz", "tz").map { f =>
      val df = Tables.normalizeTs(spark.read.parquet(s"$dir/$f"))
      assert(df.schema("ts").dataType == TimestampType, s"form $f")
      f -> df.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).sorted.toSeq
    }.toMap
    assert(reads("nanos") == us.sorted)
    assert(reads("ntz") == us.sorted)
    assert(reads("tz") == us.sorted)
  }

  test("load reads a TIMESTAMP(NANOS) events file, and leaves the " +
      "session's nanosAsLong unset for a MICROS one") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val us = Seq(1704067200000000L, 1704070815123456L)
    val dir = Files.createTempDirectory("nanos_events").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val hconf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), hconf)).withType(schema)
      .withConf(hconf).build()
    val g = new SimpleGroupFactory(schema)
    try us.foreach(u => w.write(g.newGroup().append("ts", u * 1000L)))
    finally w.close()

    val micros = spark.newSession()
    micros.conf.unset(key)
    Tables.load(micros, TestSpark.SF, "events").count()
    assert(!micros.conf.getAll.contains(key))

    val nanos = spark.newSession()
    nanos.conf.unset(key)
    val df = Tables.load(nanos, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
      .sorted.toSeq == us)
  }

  test("normalizeTs rejects an unexpected physical type loudly") {
    import spark.implicits._
    val bad = Seq("2024-01-01").toDF("ts")
    val e = intercept[IllegalStateException] { Tables.normalizeTs(bad) }
    assert(e.getMessage.contains("unsupported type"))
  }
}
