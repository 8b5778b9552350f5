package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.matview.{Footers, Materializer, Snapshots}

/** The job-free footer read-back must describe exactly the relation
  * `spark.read.parquet` infers: same schema, same row count, for every
  * column family the engine writes and for the multi-directory reads of
  * the snapshot log. */
class FootersSpec extends AnyFunSuite {
  import TestSpark.spark

  private val root = s"${TestSpark.scratch}/footers"

  /** Schema and rows through the helper equal Spark's inference; the
    * schema came from a footer, not from the fallback. */
  private def assertSameAsSpark(dirs: Seq[String], rows: Long): Unit = {
    val inferred = spark.read.parquet(dirs: _*)
    assert(Footers.schema(spark, dirs).isDefined, s"no Spark footer in $dirs")
    assert(Footers.read(spark, dirs).schema == inferred.schema)
    assert(Footers.rowCount(spark, dirs) == inferred.count())
    assert(Footers.rowCount(spark, dirs) == rows)
    assert(Footers.read(spark, dirs).collect().toSeq.map(_.toString).sorted ==
      inferred.collect().toSeq.map(_.toString).sorted)
  }

  private def typed: DataFrame = spark.range(0, 257, 1, 3).select(
    col("id"),
    (col("id") * 37 % 100000).cast(DecimalType(8, 2))
      .cast(DecimalType(6, 2)).as("amnt"),
    date_add(lit(java.sql.Date.valueOf("2017-04-01")), col("id").cast("int"))
      .as("day"),
    timestamp_micros(col("id") * 3600000000L).as("ts"),
    when(col("id") % 5 =!= 0, concat(lit("c"), col("id").cast("string")))
      .as("city"),
    array(col("id"), col("id") + 1).as("pair"),
    struct(col("id").as("k"), (col("id") % 7).cast("string").as("v"))
      .as("kv"))

  test("MVs with decimal, date, timestamp, nullable string, array and " +
      "struct columns read back with Spark's schema and row count") {
    val m = new Materializer(spark, s"$root/mv")
    m.create("typed", typed)
    assertSameAsSpark(Seq(s"$root/mv/typed"), 257L)
    assert(m.table("typed").schema == spark.read.parquet(s"$root/mv/typed").schema)
    assert(m.rows("typed") == 257L)
    // the non-null columns stay nullable on read, as inference makes them
    assert(m.table("typed").schema.forall(_.nullable))
  }

  test("a zero-row MV keeps its schema and counts 0") {
    val m = new Materializer(spark, s"$root/mv")
    m.create("empty", typed.filter(lit(false)))
    assertSameAsSpark(Seq(s"$root/mv/empty"), 0L)
    assert(m.rows("empty") == 0L)
  }

  test("multi-directory Snapshots.read and readDelta match inference") {
    val snap = new Snapshots(spark, s"$root/snap")
    val t = "typed_log"
    snap.drop(t)
    (0 until 11).foreach(i => snap.commitAppend(t,
      typed.filter(col("id") % 11 === i)))
    val v = snap.latest(t)
    val dirs = snap.versionDirs(t, v)
    assert(dirs.size == 11)
    assertSameAsSpark(dirs, 257L)
    assert(snap.read(t, v).schema == spark.read.parquet(dirs: _*).schema)
    assert(snap.read(t, v).count() == 257L)
    val delta = dirs.filterNot(snap.versionDirs(t, v - 1).toSet)
    assertSameAsSpark(delta, typed.filter(col("id") % 11 === 10).count())
    assert(snap.readDelta(t, v).schema == spark.read.parquet(delta: _*).schema)
  }

  test("the schema comes from the file Spark's inference opens when " +
      "directories disagree") {
    val a = s"$root/mixed/a"
    val b = s"$root/mixed/b"
    spark.range(3).select(col("id").cast("int").as("x"))
      .write.mode("overwrite").parquet(b)
    spark.range(3).select(col("id").as("x"), lit("s").as("y"))
      .write.mode("overwrite").parquet(a)
    for (dirs <- Seq(Seq(a, b), Seq(b, a)))
      assert(Footers.read(spark, dirs).schema ==
        spark.read.parquet(dirs: _*).schema)
  }

  test("layouts it does not reproduce fall back to spark.read.parquet") {
    val part = s"$root/partitioned"
    typed.withColumn("p", col("id") % 2).write.mode("overwrite")
      .partitionBy("p").parquet(part)
    assert(Footers.schema(spark, Seq(part)).isEmpty)
    assert(Footers.read(spark, Seq(part)).schema ==
      spark.read.parquet(part).schema)
    assert(Footers.rowCount(spark, Seq(part)) == 257L)
    val missing = s"$root/no_such_dir"
    assert(!Files.exists(Paths.get(missing)))
    assert(Footers.schema(spark, Seq(missing)).isEmpty)
    intercept[org.apache.spark.sql.AnalysisException] {
      Footers.read(spark, Seq(missing))
    }
  }
}
