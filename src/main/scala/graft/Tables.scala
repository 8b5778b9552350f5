package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table access + cross-engine-exact numeric helpers.
  *
  * The driver's correctness gate compares our query results against DuckDB
  * running [[SparkEntry.oracleSql]] on the same parquet files, hashing cell
  * values. Floating-point aggregation order differs between engines, so any
  * `sum(double)` is bit-unstable. All money-like columns in the testdata
  * carry exactly two decimal digits, so the exactness strategy is:
  *
  *   1. cast to `DecimalType` before aggregating  -> exact, order-independent
  *   2. aggregate in decimal                      -> identical in both engines
  *   3. cast the final value to `double`          -> identical bits
  *
  * Averages are computed as `cast(sum(decimal) as double) / count` so that
  * the division happens on identical doubles in both engines (decimal
  * division scale rules differ between Spark and DuckDB, IEEE-754 division
  * does not).
  *
  * At 100 TB this strategy also happens to be the right one for correctness:
  * decimal sums don't accumulate float error across millions of partial
  * aggregates.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table. Column pruning + predicate pushdown reach the
    * parquet scan because this is a plain file-source relation.
    *
    * `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations and TIMESTAMP(MICROS) in others, so the shim dispatches on
    * the actual read schema via [[normalizeTs]] instead of assuming one.
    * A NANOS file needs `nanosAsLong` (the reader otherwise rejects it),
    * and the scan reads that conf when it EXECUTES, after this returns,
    * so it cannot be scoped: it is set on the session, but only when the
    * footer shows NANOS (or cannot be read) — a MICROS file leaves the
    * caller's session untouched.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val path = s"$dir/$name.parquet"
      if (graft.matview.Footers.hasNanosTimestamp(spark, path).getOrElse(true))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(spark.read.parquet(path))
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Normalize an events frame so `ts` is always session-TZ TIMESTAMP
    * (sessions run UTC) holding exact epoch micros, whatever physical type
    * the parquet carried. ONE dispatch shared by batch [[load]] and the
    * streaming stagers ([[graft.streaming.StreamingOps]]) so the two paths
    * cannot diverge:
    *
    *   - LongType: nanosAsLong read of a TIMESTAMP(NANOS) file — truncate
    *     ns -> us (the same truncation DuckDB applies reading NANOS).
    *   - TIMESTAMP_NTZ: a TIMESTAMP(MICROS, isAdjustedToUTC=false) file —
    *     reinterpret in the UTC session zone (identical micros value).
    *   - TIMESTAMP: already normalized — pass through.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected LONG nanos, " +
          "TIMESTAMP_NTZ, or TIMESTAMP)")
    }

  /** Register every table as a temp view so SQL-surface queries
    * (NATURAL JOIN, etc.) can run via `spark.sql`.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  // ---- exact numeric helpers -------------------------------------------

  /** Two-decimal money value -> exact decimal. 18 digits of precision keeps
    * products (price * (1-disc) * (1+tax)) inside Spark's 38-digit cap even
    * after the sum widens.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent exact sum of a 2-decimal double column, returned as
    * double (bit-identical across engines).
    */
  def exactSum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact average: decimal sum cast to double, divided by count in IEEE
    * double arithmetic — identical across engines, unlike decimal division.
    */
  def exactAvg(c: Column): Column =
    sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** Engine-portable deterministic sampling bucket: the integer value of
    * the first `hexChars` hex digits of md5(key) — reproducible in Spark,
    * DuckDB, or any engine (the resumable 100 TB subsample pattern).
    * Returned as the conv(...) STRING so each caller applies its own cast,
    * keeping existing oracles bit-identical. One definition behind every
    * sampling key (Extras.sampleHashPortable, TextOps.corpusMixWeights).
    */
  def md5Bucket(key: Column, hexChars: Int): Column =
    conv(substring(md5(key.cast("string")), 1, hexChars), 16, 10)

  /** 64-bit hex key of a dataset dir for scratch artifact/table names —
    * 16 hex chars of md5, NOT `String.hashCode`: a 32-bit hash collision
    * between two dataset dirs in one process would alias the artifact and
    * let the second call clobber (or DELETE) it under the first call's
    * lazy, not-yet-executed returned DataFrame. One definition behind
    * every dir-keyed scratch path (the Dedup stream-scratch pattern,
    * swept repo-wide in r13). */
  def dirKey(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Run `f` with session confs temporarily overridden, restoring the
    * previous values (or unsetting) on the way out. The override only
    * affects plans that PLAN AND EXECUTE inside the scope — callers must
    * eagerly materialize (localCheckpoint / write) within `f`; a lazy
    * DataFrame returned out of the scope plans under the restored confs.
    *
    * The saved value is the EXPLICITLY set one (`getAll` holds only those):
    * `getOption` reports a registered conf's default for an unset key, and
    * restoring that would leave the default pinned on the session. */
  private[graft] def withConf[A](s: SparkSession, kvs: (String, String)*)(
      f: => A): A = {
    val set = s.conf.getAll
    val saved = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, prev) =>
      prev.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
