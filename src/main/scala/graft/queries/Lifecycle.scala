package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.matview.Materializer

/** SURVEY §2.1 sources/sinks/DDL lifecycle (S1–S7) and §2.7 introspection /
  * maintenance (X1–X2), exercised as driver-checkable queries: each entry
  * performs the lifecycle operation for real (write + read back through
  * storage) and returns the resulting relation, so the oracle verifies the
  * round-trip, not just the transformation.
  */
object Lifecycle {

  type Q = (SparkSession, String) => DataFrame

  /** S1 ingest: schema-declared delimited-text load (the COPY-from-stdin
    * analog, BookOrdersDatabaseDump_17.sql:123–1648): parquet -> TSV ->
    * schema-checked read; returns the re-ingested relation. No header, no
    * inference — the schema is declared, as in the reference DDL. */
  def ingestTsv(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch (the ingest_csv_quoted discipline, applied to
    // every ingest artifact in r13): the text is written eagerly but read
    // back LAZILY, so a fixed path would let a later call for a different
    // dataset dir clobber the artifact under an earlier, not-yet-executed
    // returned DataFrame
    val scratch = s"${Materializer.defaultScratch}/ingest_tsv_${dirKey(d)}"
    load(s, d, "nation")
      .write.mode("overwrite").option("sep", "\t").csv(scratch)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("sep", "\t").csv(scratch)
      .orderBy("n_nationkey")
  }

  /** JSONL ingest with corrupt-record isolation — the semi-structured
    * COPY analog a training-data pipeline actually runs: schema-declared
    * (no inference pass over 100 TB), PERMISSIVE mode routing malformed
    * lines and type-mismatched fields into `_corrupt_record` instead of
    * failing the job. Two corrupt lines are planted (one malformed JSON,
    * one with a string doc_id); the key reports parsed/corrupt counts and
    * an id checksum, all derivable by the oracle from the clean table. */
  def ingestJsonl(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch — see ingestTsv
    val scratch =
      s"${Materializer.defaultScratch}/ingest_jsonl_${dirKey(d)}"
    load(s, d, "documents").select("doc_id", "lang", "text")
      .write.mode("overwrite").json(scratch)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(scratch, "zz_corrupt.json"),
      ("{\"doc_id\": 12, \"lang\": \"en\", \"text\": \"truncated\n" +
        "{\"doc_id\": \"not-a-number\", \"lang\": \"en\", \"text\": \"bad type\"}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(scratch)
      .agg(
        count(when(col("_corrupt_record").isNull, lit(1))).as("n_parsed"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("doc_id"))).as("id_sum"))
  }

  /** ORC round-trip — the second columnar format a warehouse ingests
    * from: documents written to ORC (snappy), read back through Spark's
    * native vectorized ORC source, and fingerprinted (row count, id
    * checksum, text byte total, language count). The oracle computes the
    * same fingerprint from the parquet table directly — equality proves
    * the ORC sink/source preserved every value without the oracle ever
    * reading ORC. */
  def ingestOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch — see ingestTsv
    val scratch = s"${Materializer.defaultScratch}/ingest_orc_${dirKey(d)}"
    load(s, d, "documents")
      .write.mode("overwrite").orc(scratch)
    s.read.orc(scratch)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text")).cast("long")).as("text_chars"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** Quoted-CSV round-trip — the ingestion trap ORC/parquet don't have:
    * delimiters, quotes, a backslash, and a NEWLINE are injected into
    * every text value, the table is written as RFC-4180 CSV (quote-all,
    * quote doubled as the escape), and read back through the multiLine
    * parser with the same dialect. The fingerprint (count, id checksum,
    * text byte total, language count) must equal the oracle's computed
    * from the parquet table directly — proving the quote/escape/newline
    * round-trip preserved every byte. Misconfigured escape or a
    * single-line reader silently corrupts exactly this fingerprint. */
  def ingestCsvQuoted(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch (the unigram/join_range_dates precedent): the
    // CSV is written eagerly but read back lazily, so a fixed path would
    // let a later call for a different dataset dir clobber the artifact
    // under an earlier, not-yet-executed DataFrame
    val scratch =
      s"${Materializer.defaultScratch}/ingest_csv_${dirKey(d)}"
    load(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(", \"q\" \\ |\n tail")).as("text"))
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"")
      .csv(scratch)
    s.read
      .schema("doc_id LONG, lang STRING, text STRING")
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(scratch)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text")).cast("long")).as("text_chars"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** Z-order layout — multi-dimensional clustering, the 100 TB data-layout
    * primitive partitioning and single-key sorting can't give: orders laid
    * out along a Morton curve over (custkey, order-day), 32 curve-range
    * files, so a BOX predicate on both dimensions prunes by per-file
    * min/max on BOTH columns. The same box against a date-sorted layout
    * prunes only on the date axis (every file spans all custkeys). The
    * pruned scan executes for real: the file list comes from the per-file
    * stats boxes, the read is pinned to those files, the physical scan's
    * selectedPartitions count proves how many directories were touched,
    * and the row count must equal the direct filter.
    *
    * Determinism (oracle replays everything): 16-bit normalization by the
    * dimension maxima (two tiny aggregates), bit interleave in integer
    * column arithmetic, file assignment by the top 5 bits of the 32-bit
    * z value (32 equal-width curve ranges — a pure per-row projection,
    * no window, no global sort; DuckDB replays `z >> 27` exactly). The
    * write clusters rows by file id with a hash repartition, so the
    * layout job is fully distributed: at 100 TB every executor computes
    * its rows' file ids independently and the only shuffle is the
    * 32-way clustering exchange. Equal-width z ranges trade the exact
    * equal-count property of a sampled range partitioner for
    * determinism; on dimension-normalized data the occupancy skew is
    * bounded by the key-distribution skew itself. */
  /** The distributed write-clustering step of [[layoutZorder]], exposed so
    * PlanSpec can pin its shape: one hash exchange on the file id, no
    * Window, no global sort anywhere in the write plan. */
  def zorderWritePlan(zed: DataFrame): DataFrame =
    zed.repartition(32, col("zfile"))

  /** The per-row z-curve file assignment of [[layoutZorder]]: normalize,
    * interleave, take the top 5 z bits. A pure projection over the scan
    * (plus two driver-scalar maxima) — every row's file id is computed
    * independently, so the assignment needs no coordination at any scale. */
  def zorderAssign(s: SparkSession, d: String): DataFrame =
    zorderAssignWithMaxima(s, d)._1

  /** [[zorderAssign]] plus the dimension maxima its normalization already
    * computed — so callers don't re-aggregate the full scan for values
    * that are on the driver anyway. */
  private[graft] def zorderAssignWithMaxima(
      s: SparkSession, d: String): (DataFrame, (Long, Long)) = {
    import s.implicits._
    val o0 = load(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey").cast("long").as("ck"),
      datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01")))
        .cast("long").as("dy"))
    val (ckMax, dyMax) = o0.agg(max("ck"), max("dy")).as[(Long, Long)].head()
    val norm = o0
      .withColumn("ck16", expr(s"ck * 65535 DIV $ckMax"))
      .withColumn("dy16", expr(s"dy * 65535 DIV $dyMax"))
    val zbits = (0 until 16).map { k =>
      shiftleft(shiftrightunsigned(col("ck16"), k).bitwiseAND(lit(1L)), 2 * k)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(col("dy16"), k).bitwiseAND(lit(1L)),
            2 * k + 1))
    }.reduce(_ bitwiseOR _)
    (norm.withColumn("z", zbits)
      .withColumn("zfile",
        (shiftrightunsigned(col("z"), 27) + lit(1L)).cast("int")),
      (ckMax, dyMax))
  }

  def layoutZorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = s"${Materializer.defaultScratch}/orders_zorder"
    val (zed, (ckMax, dyMax)) = zorderAssignWithMaxima(s, d)
    zorderWritePlan(zed)
      .write.mode("overwrite").partitionBy("zfile").parquet(root)

    // the box: middle quarter of each dimension
    val (ckLo, ckHi, dyLo, dyHi) = (ckMax / 4, ckMax / 2, dyMax / 4, dyMax / 2)
    def touched(fileCol: String, df: DataFrame): Seq[Int] =
      df.groupBy(col(fileCol))
        .agg(min("ck").as("ck0"), max("ck").as("ck1"),
          min("dy").as("dy0"), max("dy").as("dy1"))
        .filter(col("ck1") >= ckLo && col("ck0") <= ckHi &&
          col("dy1") >= dyLo && col("dy0") <= dyHi)
        .select(col(fileCol).cast("int")).as[Int].collect().toSeq.sorted
    val filesTotal =
      zed.select(countDistinct("zfile")).as[Long].head()
    val zTouched = touched("zfile", zed)
    // the comparison layout: same data date-bucketed into 32 files
    // (equal-width on the normalized date axis — same assignment rule
    // as the z layout, so the comparison is apples-to-apples)
    val dateSorted = zed.withColumn("dfile",
      (shiftrightunsigned(col("dy16"), 11) + lit(1L)).cast("int"))
    val dTouched = touched("dfile", dateSorted)

    val prunedRead = s.read.parquet(root)
      .filter(col("zfile").isin(zTouched: _*) &&
        col("ck").between(ckLo, ckHi) && col("dy").between(dyLo, dyHi))
    val scanDirs = prunedRead.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount.toLong
    }.getOrElse(-1L)
    val rowsPruned = prunedRead.count()
    val rowsDirect = zed
      .filter(col("ck").between(ckLo, ckHi) && col("dy").between(dyLo, dyHi))
      .count()
    Seq((rowsDirect, filesTotal, zTouched.size.toLong, dTouched.size.toLong,
        scanDirs, rowsPruned == rowsDirect))
      .toDF("rows_matched", "files_total", "files_touched_zorder",
        "files_touched_datesorted", "scan_partitions_read",
        "pruned_scan_complete")
  }

  /** Small-files compaction (the OPTIMIZE maintenance primitive): a
    * fragmented table (64 files for 500 rows — the shape streaming sinks
    * and over-parallel writers leave behind) rewritten to 4 right-sized
    * files. At 100 TB, small files are a metadata + open-cost tax on
    * every downstream scan; compaction is one repartition write. The key
    * reports the file counts and a content fingerprint; the oracle
    * fingerprints the source table — equality proves compaction is
    * content-preserving. */
  def maintenanceCompact(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch — see ingestTsv (the returned aggregate reads
    // compact_out lazily)
    val frag =
      s"${Materializer.defaultScratch}/compact_fragmented_${dirKey(d)}"
    val compacted = s"${Materializer.defaultScratch}/compact_out_${dirKey(d)}"
    load(s, d, "documents").repartition(64)
      .write.mode("overwrite").parquet(frag)
    val before = s.read.parquet(frag)
    val filesBefore = before.inputFiles.length.toLong
    before.repartition(4).write.mode("overwrite").parquet(compacted)
    val after = s.read.parquet(compacted)
    val filesAfter = after.inputFiles.length.toLong
    after.agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text")).cast("long")).as("text_chars"))
      .withColumn("files_before", lit(filesBefore))
      .withColumn("files_after", lit(filesAfter))
  }

  /** Versioned-table time travel — the BASELINE "Parquet/Delta" storage
    * face the engine was still missing natively: a commit-log table
    * format ([[graft.matview.Snapshots]] — immutable data dirs + ordered
    * manifests, the public Delta/Iceberg log pattern re-expressed over
    * plain parquet). Two appends build the table shard-by-shard (commit
    * cost O(shard), never O(table) — the 100 TB ingestion property), an
    * overwrite commit rewrites it with a DELETE applied, and then all
    * THREE versions are read back — after every commit has landed — which
    * is the time-travel proof: the v0 numbers are reconstructed from
    * manifests alone while the table's latest state no longer contains
    * them. The oracle replays each version's predicate against the base
    * table. */
  def tableTimeTravel(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/snaps")
    val t = s"orders_tt_${dirKey(d)}"
    snap.drop(t) // re-runnable: every run starts from version 0
    val orders = load(s, d, "orders")
    val v0 = snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 0))
    val v1 = snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1))
    // delete-as-rewrite: drop filled orders, committed as a fresh
    // snapshot; v0/v1 manifests still reference the superseded dirs
    val v2 = snap.commitOverwrite(t,
      snap.read(t, v1).filter(col("o_orderstatus") =!= "F"))
    val summaries = Seq(v0, v1, v2).map { v =>
      snap.read(t, v)
        .agg(count(lit(1)).as("n_rows"),
          exactSum(col("o_totalprice")).as("total_spend"))
        .select(lit(v).as("version"), col("n_rows"), col("total_spend"))
    }
    summaries.reduce(_ unionByName _).orderBy("version")
  }

  /** Index-analog point lookup — the closest Spark expression of the
    * reference's B-tree index scan (SURVEY §2.3 J2 notes the index
    * nested loop as covered-by-BHJ; this key covers the OTHER index use,
    * selective point access): orders bucketed+sorted on the key, then a
    * 3-key IN lookup. Bucket pruning turns the scan into an index-like
    * probe — only the buckets the looked-up keys hash to are read
    * (SelectedBucketsCount <= 3 out of 16, pinned in PlanSpec), and
    * within each bucket the sorted layout keeps the touched row groups
    * minimal. At 100 TB this is the difference between a full scan and
    * reading ~3/16 of one table's files for a point query — the same
    * access-cost asymmetry the reference gets from its B-tree. */
  def lookupBucketPruned(s: SparkSession, d: String): DataFrame =
    // the lookup materializes eagerly (localCheckpoint) under the
    // scoped conf, which is then restored
    withAutoBucketedScanDisabled(s) {
      bucketLookupRaw(s, d).localCheckpoint().orderBy("o_orderkey")
    }

  /** autoBucketedScan (default on) lets the planner fall back to a plain
    * file scan when no join/agg needs the bucket distribution — but a
    * point LOOKUP benefits from the bucketed path purely for PRUNING, so
    * callers (the key above; PlanSpec's pin) force it through this one
    * scoped override so production and test plan under the same
    * planner environment. */
  private[graft] def withAutoBucketedScanDisabled[A](s: SparkSession)(
      f: => A): A =
    withConf(s, "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")(f)

  /** The lazy pruned-scan lookup — split out so PlanSpec can pin the
    * SelectedBucketsCount on the un-materialized plan. Caller must hold
    * autoBucketedScan=false while planning/executing. */
  private[graft] def bucketLookupRaw(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s)
    val t = s"bkt_lookup_${dirKey(d)}"
    m.createBucketed(t,
      load(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus")),
      Seq("o_orderkey"), 16)
    m.table(t).filter(col("o_orderkey").isin(7L, 500L, 997L))
  }

  /** Retention VACUUM over the [[graft.matview.Snapshots]] commit log —
    * the storage-reclaim half of the table format: after two appends and
    * a delete-as-rewrite overwrite, retaining only the latest version
    * must physically delete exactly the two data dirs referenced solely
    * by expired manifests (computed from manifests alone — never file
    * ages) while the retained version reads back byte-identical. The
    * emitted row carries the retained version's stats next to the
    * (dirs_removed, dirs_live) accounting, both deterministic; the
    * shared-dir append-reuse case (retained manifest still referencing
    * an old dir ⇒ nothing deletable) and expired-version unreadability
    * are pinned in SnapshotsSpec. At 100 TB the deletion set is an
    * O(|manifests|) metadata computation whose only I/O is removing
    * genuinely dead files. */
  /** Dynamic partition overwrite — the warehouse restatement write path
    * (PostgreSQL's partition-exchange / per-partition reload analog): a
    * day-partitioned events table gets ONE day re-stated from a
    * corrected batch. Under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`, an overwrite
    * write replaces exactly the partitions PRESENT in the batch and
    * leaves every other day's files physically untouched — the property
    * that matters when the table is 100 TB and the restatement is one
    * day (a static overwrite would drop all 30 partitions; a
    * read-union-rewrite would move the whole table). Both physical
    * facts are emitted as data and oracle-pinned: the untouched day's
    * file set is byte-identical before/after, the restated day's was
    * replaced. */
  def tablePartitionOverwrite(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch — see ingestTsv (the returned aggregate reads
    // the partitioned table lazily)
    val scratch =
      s"${Materializer.defaultScratch}/events_by_day_${dirKey(d)}"
    val restatedDay = "2024-01-15"
    val witnessDay = "2024-01-01"
    def withDay = load(s, d, "events")
      .withColumn("ev_day", to_date(col("ts")))
    // cluster by the partition column before the partitioned write: an
    // unrepartitioned write sprays every input split across every day
    // (up to splits x days small files); keyed, each day lands in one
    // task -> one right-sized file per partition (sf1: 3.3s -> 1.4s,
    // and the restatement's witness comparison sees stable file sets)
    withDay.repartition(col("ev_day"))
      .write.mode("overwrite").partitionBy("ev_day").parquet(scratch)
    // Hadoop FS listing, not java.io.File: defaultScratch is overridable
    // (graft.scratch sysprop) and may be a non-local URI — a local-only
    // listing would read both witness flags false there and misattribute
    // the oracle failure to the write path
    def files(day: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$scratch/ev_day=$day")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).map(_.getPath.getName).toSet
    }
    val witnessBefore = files(witnessDay)
    val restatedBefore = files(restatedDay)
    val restated = withDay
      .filter(col("ev_day") === lit(restatedDay).cast("date"))
      .withColumn("value", col("value") * 2)
    withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      restated.write.mode("overwrite").partitionBy("ev_day").parquet(scratch)
    }
    val stable = witnessBefore.nonEmpty && files(witnessDay) == witnessBefore
    val replaced = files(restatedDay).nonEmpty &&
      files(restatedDay) != restatedBefore
    s.read.parquet(scratch)
      .groupBy("ev_day")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .withColumn("restated",
        col("ev_day") === lit(restatedDay).cast("date"))
      .withColumn("untouched_files_stable", lit(stable))
      .withColumn("restated_files_replaced", lit(replaced))
      .orderBy("ev_day")
  }

  /** Zone-map file skipping over the [[graft.matview.Snapshots]] commit
    * log — the data-skipping half of the log-structured formats (Delta's
    * per-file stats, Iceberg's manifest column bounds): four time-ordered
    * appends each record their ts [min, max] in the committed unit, and a
    * 10-day range read prunes to exactly the two shards whose span
    * intersects — decided from the manifest stats alone, no parquet
    * footer opened. The planning facts (2 of 4 dirs read) are
    * structurally determined by the fixed cut points, so the oracle pins
    * them as literals; `pruned_equals_full` is computed by actually
    * running the unpruned scan and comparing — a pruning bug that drops a
    * boundary row flips it false and fails the hash. At 100 TB with
    * telemetry-shaped appends this is what turns a time-range query from
    * a table scan into an O(|commits|) plan + two-shard read. */
  /** The one staging helper behind the three data-skipping keys: commit
    * `ev` as time shards cut at fixed day boundaries, each with ts zone
    * stats. The generated events span Jan 2024; fixed cuts keep the
    * pruning facts structural (an empty shard would still commit, with
    * no stats line, and be conservatively kept — the fixture has none). */
  private def tsLit(x: String) = lit(x).cast("timestamp")
  private def stageTimeShards(snap: graft.matview.Snapshots, t: String,
      ev: DataFrame, cuts: Seq[String]): Unit =
    cuts.sliding(2).foreach { w =>
      snap.commitAppendStats(t,
        ev.filter(col("ts") >= tsLit(w.head) && col("ts") < tsLit(w.last)),
        Seq("ts"))
    }

  /** 'yyyy-MM-dd HH:mm:ss' -> epoch micros, UTC — the normalized form
    * the ts zone stats store. */
  private def tsMicros(x: String): Long =
    java.time.Instant.parse(x.replace(' ', 'T') + "Z").getEpochSecond *
      1000000L

  def tableStatsPruning(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/zsnaps")
    val t = s"events_zone_${dirKey(d)}"
    snap.drop(t)
    val ev = load(s, d, "events")
    def ts(lit0: String) = tsLit(lit0)
    stageTimeShards(snap, t, ev,
      Seq("2024-01-01", "2024-01-08", "2024-01-16", "2024-01-24",
        "2024-02-01"))
    val (lo, hi) = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")
    val pr = snap.readPruned(t, snap.latest(t), "ts",
      tsMicros(lo).toString, tsMicros(hi).toString)
    def inRange(df: DataFrame) =
      df.filter(col("ts") >= ts(lo) && col("ts") < ts(hi))
    val result = inRange(pr.df)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    // the correctness fact: the pruned scan loses nothing vs the full scan
    val fullAgg = inRange(snap.readLatest(t))
      .agg(count(lit(1)), exactSum(col("value"))).collect().head
    val prunedAgg = result
      .agg(sum(col("n")), exactSum(col("sum_value"))).collect().head
    val equal = fullAgg == prunedAgg
    result
      .withColumn("dirs_read", lit(pr.dirsRead.toLong))
      .withColumn("dirs_total", lit(pr.dirsTotal.toLong))
      .withColumn("pruned_equals_full", lit(equal))
      .orderBy("event_type")
  }

  /** Bloom-sidecar point-lookup skipping over the commit log — the
    * equality-probe half of data skipping (Delta's bloom index, Iceberg's
    * puffin blobs), and the case zone maps structurally CANNOT serve:
    * four appends sharded by `user_id % 4` have fully interleaved id
    * ranges, so the zone [min, max] check keeps all four dirs for any
    * mid-range user (`zone_kept = 4` is the pinned proof of that), while
    * the per-dir bloom — user sets are disjoint across shards — keeps
    * exactly the probed user's shard. The probe user is derived from the
    * data (largest id ≤ max/2, so it sits mid-range in every shard's
    * span) and the oracle re-derives it in SQL; `pruned_equals_full`
    * compares the pruned against the unpruned scan engine-side. At 100 TB
    * this is the plan shape that turns "find one user's history" from a
    * full-table scan into O(|commits|) metadata + one-shard read. */
  def tablePointLookup(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/bsnaps")
    val t = s"events_bloom_${dirKey(d)}"
    snap.drop(t)
    val ev = load(s, d, "events")
    (0 until 4).foreach { j =>
      snap.commitAppendStats(t, ev.filter(pmod(col("user_id"), lit(4)) === j),
        Seq("user_id"), bloomCols = Seq("user_id"))
    }
    val mx = ev.agg(max(col("user_id"))).collect().head.getLong(0)
    val probe = ev.filter(col("user_id") <= lit(mx / 2))
      .agg(max(col("user_id"))).collect().head.getLong(0)
    val pr = snap.readPrunedEq(t, snap.latest(t), "user_id", probe.toString)
    def ofUser(df: DataFrame) = df.filter(col("user_id") === lit(probe))
    val result = ofUser(pr.df)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    val fullAgg = ofUser(snap.readLatest(t))
      .agg(count(lit(1)), exactSum(col("value"))).collect().head
    val prunedAgg = result
      .agg(sum(col("n")), exactSum(col("sum_value"))).collect().head
    result
      .withColumn("dirs_read", lit(pr.dirsRead.toLong))
      .withColumn("zone_kept", lit(pr.zoneKept.toLong))
      .withColumn("dirs_total", lit(pr.dirsTotal.toLong))
      .withColumn("pruned_equals_full", lit(fullAgg == prunedAgg))
      .orderBy("event_type")
  }

  /** Optimizer-integrated data skipping — the same pruning as
    * [[tableStatsPruning]] with NO special read API: the query is a plain
    * `.filter(...)` over `readLatest`, and the installed
    * [[graft.plans.SnapshotSkippingRule]] drops the non-intersecting
    * shards at plan time (where Delta/Iceberg run their stats
    * evaluators). The full-scan reference aggregate is computed with the
    * rule SCOPED OUT (`withoutRule` — install is session-sticky, so
    * "before install" would be vacuous on reruns), so
    * `pruned_equals_full` always compares a genuinely unpruned scan
    * against the rule's output; `dirs_read` is read off
    * the optimized plan's file index, not from any engine bookkeeping —
    * if the rule failed to fire it reads 4 and the oracle's literal 2
    * fails the hash. */
  def tableAutoSkipping(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/asnaps")
    val t = s"events_auto_${dirKey(d)}"
    snap.drop(t)
    val ev = load(s, d, "events")
    def ts(x: String) = tsLit(x)
    stageTimeShards(snap, t, ev,
      Seq("2024-01-01", "2024-01-08", "2024-01-16", "2024-01-24",
        "2024-02-01"))
    val (lo, hi) = ("2024-01-03 00:00:00", "2024-01-09 00:00:00")
    def inRange(df: DataFrame) =
      df.filter(col("ts") >= ts(lo) && col("ts") < ts(hi))
    // genuinely unpruned reference even on reruns (the rule stays
    // installed session-wide after the first run): scope it OUT for
    // this one eager aggregate
    val fullAgg = graft.plans.SnapshotSkippingRule.withoutRule(s) {
      inRange(snap.readLatest(t))
        .agg(count(lit(1)), exactSum(col("value"))).collect().head
    }
    graft.plans.SnapshotSkippingRule.ensureInstalled(s)
    val q = inRange(snap.readLatest(t))
    val dirsRead = graft.plans.SnapshotSkippingRule.scanRootDirs(q)
    val result = q.groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
    val prunedAgg = result
      .agg(sum(col("n")), exactSum(col("sum_value"))).collect().head
    result
      .withColumn("dirs_read", lit(dirsRead.toLong))
      .withColumn("dirs_total", lit(4L))
      .withColumn("pruned_equals_full", lit(fullAgg == prunedAgg))
      .orderBy("event_type")
  }

  /** Null-count data skipping — the third manifest-stats dimension after
    * zone [min, max] and blooms, and the one Delta/Iceberg both record
    * for event-shaped data (a column added by schema evolution is
    * all-null in every pre-evolution shard): each commit's `_zstats`
    * line carries (nulls, rows) next to the bounds, and the optimizer
    * rule prunes `IS NULL` against zero-null shards, `IS NOT NULL`
    * against all-null shards — and, because an all-null shard can
    * satisfy NO comparison at all, every eq/range/prefix conjunct
    * prunes it too. Fixture: three structural shards of `events` with a
    * derived nullable `attr` (no-null / all-null / mixed), so both
    * probe directions read exactly 2 of 3 dirs — pinned as literals,
    * read off the OPTIMIZED plan's file index. `pruned_equals_full`
    * compares both probes against rule-scoped-out scans engine-side. */
  def tableNullSkipping(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/nsnaps")
    val t = s"events_nulls_${dirKey(d)}"
    snap.drop(t)
    val ev = load(s, d, "events").withColumn("attr",
      when(pmod(col("user_id"), lit(3)) =!= 0, col("value")))
    // disjoint structural shards: even event_ids split by attr nullness
    // (one shard provably null-free, one provably all-null), odd ids
    // land mixed — together they partition the table
    snap.commitAppendStats(t, ev.filter(
      pmod(col("event_id"), lit(2)) === 0 && col("attr").isNotNull),
      Seq("ts", "attr"))
    snap.commitAppendStats(t, ev.filter(
      pmod(col("event_id"), lit(2)) === 0 && col("attr").isNull),
      Seq("ts", "attr"))
    snap.commitAppendStats(t, ev.filter(pmod(col("event_id"), lit(2)) === 1),
      Seq("ts", "attr"))
    val (fullAgg, fullNullRows) =
      graft.plans.SnapshotSkippingRule.withoutRule(s) {
        (snap.readLatest(t).filter(col("attr").isNotNull)
          .agg(count(lit(1)), exactSum(col("attr"))).collect().head,
          snap.readLatest(t).filter(col("attr").isNull).count())
      }
    graft.plans.SnapshotSkippingRule.ensureInstalled(s)
    val qNotNull = snap.readLatest(t).filter(col("attr").isNotNull)
    val qIsNull = snap.readLatest(t).filter(col("attr").isNull)
    val dirsNotNull = graft.plans.SnapshotSkippingRule.scanRootDirs(qNotNull)
    val dirsIsNull = graft.plans.SnapshotSkippingRule.scanRootDirs(qIsNull)
    val nullRows = qIsNull.count()
    val result = qNotNull.groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("attr")).as("sum_attr"))
    val prunedAgg = result
      .agg(sum(col("n")), exactSum(col("sum_attr"))).collect().head
    result
      .withColumn("dirs_notnull", lit(dirsNotNull.toLong))
      .withColumn("dirs_isnull", lit(dirsIsNull.toLong))
      .withColumn("dirs_total", lit(3L))
      .withColumn("null_rows", lit(nullRows))
      .withColumn("pruned_equals_full",
        lit(fullAgg == prunedAgg && nullRows == fullNullRows))
      .orderBy("event_type")
  }

  /** Log-native compaction — the OPTIMIZE command of the lakehouse
    * formats: a stream of small appends (the table_stream_ingest shape)
    * leaves the table fragmented into one dir per micro-batch, and a
    * compaction commit rewrites the CURRENT state as one
    * stats-carrying dir via commitOverwrite-with-stats, while every
    * pre-compaction version stays readable (old manifests are never
    * touched) until a retention pass reclaims the small dirs. Pinned
    * facts: 6 fragments before / 1 dir after (manifest lengths), a
    * pre-compaction version still readable AFTER the compaction commit,
    * content preserved (engine-side fingerprint equality, plus the
    * oracle replaying the aggregate), vacuum reclaiming exactly the 6
    * dead fragments, and the compacted dir answering a zone-pruned
    * range read (stats survive compaction). At 100 TB this is what
    * keeps a streamed-in table scannable: scan cost tracks data size,
    * not commit count. */
  def tableCompactVersions(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/csnaps")
    val t = s"events_compact_${dirKey(d)}"
    snap.drop(t)
    val ev = load(s, d, "events")
    def ts(x: String) = tsLit(x)
    val cuts = Seq("2024-01-01", "2024-01-06", "2024-01-11", "2024-01-16",
      "2024-01-21", "2024-01-26", "2024-02-01")
    stageTimeShards(snap, t, ev, cuts)
    // order-free, overflow-free content fingerprint: xor-fold of row
    // hashes
    def fp(df: DataFrame): Long = df
      .select(xxhash64(col("event_id"), col("ts"), col("event_type"),
        col("value")).as("h"))
      .agg(expr("bit_xor(h)")).collect().head.getLong(0)
    val fragVersion = snap.latest(t)
    val dirsBefore = snap.manifestDirs(t, fragVersion)
    val fpBefore = fp(snap.readLatest(t))
    // the compaction commit: current state rewritten as ONE dir,
    // stats recomputed for the merged span
    val compactV = snap.compact(t, Seq("ts"))
    val dirsAfter = snap.manifestDirs(t, compactV)
    val fpAfter = fp(snap.readLatest(t))
    // history intact: a pre-compaction version still reads its fragments
    val oldReadable = snap.read(t, 2).count() ==
      ev.filter(col("ts") >= ts(cuts.head) && col("ts") < ts(cuts(3))).count()
    // retention: exactly the 6 fragments die, the compacted dir lives
    val (removed, live) = snap.vacuum(t, compactV)
    // stats survive compaction: a 5-day range read still plans from the
    // manifest (1 of 1 dirs — the point is the API keeps working and
    // row results are intact, pinned through the oracle's aggregate)
    val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-13 00:00:00")
    val pr = snap.readPruned(t, compactV, "ts",
      tsMicros(lo).toString, (tsMicros(hi) - 1).toString)
    pr.df.filter(col("ts") >= ts(lo) && col("ts") < ts(hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .withColumn("dirs_before", lit(dirsBefore.toLong))
      .withColumn("dirs_after", lit(dirsAfter.toLong))
      .withColumn("content_preserved", lit(fpBefore == fpAfter))
      .withColumn("old_version_readable", lit(oldReadable))
      .withColumn("dead_removed", lit(removed.toLong))
      .withColumn("live_dirs", lit(live.toLong))
      .orderBy("event_type")
  }

  /** Clustered compaction — the lakehouse `OPTIMIZE ... CLUSTER BY` (1-D
    * Z-ORDER), the layout move data skipping needs for NON-time columns:
    * after time-ordered ingest every shard spans nearly the full price
    * range, so a price-band probe keeps ALL dirs (pinned as
    * `unclustered_kept_all`); one clustered overwrite commit
    * ([[graft.matview.Snapshots.compactClustered]]) rewrites the state
    * as 4 range-disjoint shards on `o_totalprice` — with the new exact
    * DECIMAL zone stats — and the same probe now prunes
    * (`cluster_pruned`, with `pruned_equals_full` comparing band
    * aggregates engine-side). Shard boundaries are quantile-derived
    * (balance only), so the after-count isn't a structural literal; the
    * pinned facts are the dir counts of both layouts and the three
    * booleans. At 100 TB this is what turns "filter on amount" from a
    * table scan into O(intersecting shards). */
  def tableClusterPruning(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/clsnaps")
    val t = s"orders_cluster_${dirKey(d)}"
    snap.drop(t)
    val orders = load(s, d, "orders")
    (0 until 3).foreach { j =>
      snap.commitAppendStats(t,
        orders.filter(pmod(col("o_orderkey"), lit(3)) === j),
        Seq("o_totalprice"))
    }
    val (lo, hi) = ("1000.00", "50000.00")
    def inBand(df: DataFrame) = df.filter(
      col("o_totalprice") >= lit(new java.math.BigDecimal(lo)) &&
      col("o_totalprice") <= lit(new java.math.BigDecimal(hi)))
    val before = snap.readPruned(t, snap.latest(t), "o_totalprice", lo, hi)
    val clusteredV = snap.compactClustered(t, "o_totalprice", 4,
      Seq("o_totalprice"))
    val after = snap.readPruned(t, clusteredV, "o_totalprice", lo, hi)
    val result = inBand(after.df)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("sum_price"))
    val fullAgg = inBand(snap.readLatest(t))
      .agg(count(lit(1)), exactSum(col("o_totalprice"))).collect().head
    val prunedAgg = result
      .agg(sum(col("n")), exactSum(col("sum_price"))).collect().head
    result
      .withColumn("ingest_dirs", lit(before.dirsTotal.toLong))
      .withColumn("clustered_dirs", lit(after.dirsTotal.toLong))
      .withColumn("unclustered_kept_all",
        lit(before.dirsRead == before.dirsTotal))
      .withColumn("cluster_pruned", lit(after.dirsRead < after.dirsTotal))
      .withColumn("pruned_equals_full", lit(fullAgg == prunedAgg))
      .orderBy("o_orderstatus")
  }

  def tableVacuum(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/snaps")
    val t = s"orders_vac_${dirKey(d)}"
    snap.drop(t)
    val orders = load(s, d, "orders")
    snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 0))
    snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1))
    val v2 = snap.commitOverwrite(t,
      snap.read(t, 1).filter(col("o_orderstatus") =!= "F"))
    val (removed, live) = snap.vacuum(t, retainFrom = v2)
    snap.read(t, v2)
      .agg(count(lit(1)).as("n_rows"),
        exactSum(col("o_totalprice")).as("total_spend"))
      .select(lit(v2).as("version"), col("n_rows"), col("total_spend"),
        lit(removed.toLong).as("dirs_removed"),
        lit(live.toLong).as("dirs_live"))
  }

  /** Incremental log consumption (CDC-style) over the
    * [[graft.matview.Snapshots]] commit log: three append commits land
    * shard-by-shard, and a downstream reader processes each version's
    * DELTA exactly once by manifest diff — never re-scanning the table
    * (at 100 TB, re-reading a table per arriving shard is the difference
    * between a pipeline and a bill). Emits per version the delta's
    * count/sum next to the cumulative table state, which the oracle
    * replays as disjoint predicates and their running union; the delta
    * rows must partition the final table exactly. */
  def tableIncrementalRead(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/snaps")
    val t = s"orders_cdc_${dirKey(d)}"
    snap.drop(t)
    val orders = load(s, d, "orders")
    val vs = (0 to 2).map(m => snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === m)))
    val summaries = vs.map { v =>
      snap.readDelta(t, v)
        .agg(count(lit(1)).as("delta_rows"),
          exactSum(col("o_totalprice")).as("delta_spend"))
        .crossJoin(snap.read(t, v).agg(count(lit(1)).as("table_rows")))
        .select(lit(v).as("version"), col("delta_rows"),
          col("delta_spend"), col("table_rows"))
    }
    summaries.reduce(_ unionByName _).orderBy("version")
  }

  /** Schema evolution ON THE COMMIT LOG — the versioned-table face of
    * [[ingestSchemaEvolution]]: an append adds a column WITHOUT rewriting
    * any earlier shard (immutable data dirs), the evolved read unions the
    * schemas (old shards surface NULL for the new column), and a reader
    * pinned to the pre-evolution version never sees the column at all —
    * the history-preserving evolution contract of the open log-structured
    * formats. At 100 TB this is the only affordable way to add a column:
    * O(new shard) commit, zero rewrite of the existing table. The oracle
    * replays each version's shard predicates against the base table. */
  def tableSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val snap = new graft.matview.Snapshots(
      s, s"${Materializer.defaultScratch}/snaps")
    val t = s"orders_evo_${dirKey(d)}"
    snap.drop(t) // re-runnable: every run starts from version 0
    val orders = load(s, d, "orders")
    val v0 = snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
        .select(col("o_orderkey"), col("o_totalprice")))
    val v1 = snap.commitAppend(t,
      orders.filter(pmod(col("o_orderkey"), lit(3)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
    val summaries = Seq(v0, v1).map { v =>
      val df = snap.readEvolved(t, v)
      val prio =
        if (df.columns.contains("o_orderpriority"))
          count(col("o_orderpriority"))
        else lit(0L) // pre-evolution version: the column does not exist
      df.agg(count(lit(1)).as("n_rows"), prio.as("n_with_prio"),
          exactSum(col("o_totalprice")).as("total_spend"))
        .select(lit(v).as("version"), col("n_rows"), col("n_with_prio"),
          col("total_spend"))
    }
    summaries.reduce(_ unionByName _).orderBy("version")
  }

  /** Schema evolution via mergeSchema — the ingest reality that batches
    * gain columns over time: batch 1 writes (doc_id, lang), batch 2 adds
    * n_chars; the merged read unions the schemas, nulls where a batch
    * predates the column, with the batch provenance as a partition
    * column. The oracle reconstructs both batches from the source
    * table. */
  def ingestSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    // dataset-keyed scratch — see ingestTsv
    val root = s"${Materializer.defaultScratch}/evolve_${dirKey(d)}"
    val docs = load(s, d, "documents")
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$root/batch=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$root/batch=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("batch").cast("int").as("batch"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("n_chars")).as("n_with_chars"),
        sum(coalesce(col("n_chars"), lit(0L))).as("chars_sum"))
      .orderBy("batch")
  }

  /** Partitioned storage + partition pruning — THE 100 TB scan
    * primitive: orders written partitioned by year, read back with a
    * partition-key filter, and the key reports how many partition
    * directories the scan actually touched (from the scan's selected
    * files) next to the total on disk — proving the filter pruned at the
    * METADATA level, before any file was opened. */
  def ingestPartitionedPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scratch = s"${Materializer.defaultScratch}/orders_by_year"
    load(s, d, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(scratch)
    val all = s.read.parquet(scratch)
    val pruned = all.filter(col("o_year") === 1996)
    // the count of partition DIRECTORIES the planned scan selected —
    // Dataset.inputFiles reports the relation's full listing regardless
    // of filters, so the proof must come from the physical scan node
    def partDirs(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount.toLong
      }.getOrElse(-1L)
    val rows1996 = pruned.count()
    Seq((rows1996, partDirs(pruned), partDirs(all)))
      .toDF("rows_1996", "partitions_read", "partitions_total")
      .withColumn("pruned_at_metadata",
        col("partitions_read") < col("partitions_total"))
  }

  /** S2+S4 DDL: CREATE TABLE with declared types + INSERT INTO ... SELECT
    * (assignment-5.sql:90–112), against the session catalog; returns the
    * table scanned back from storage. */
  /** bpchar STORAGE mode: a catalog table with a CHAR(9) column holds
    * PG-faithful blank-padded values ambient — Spark 4's CharType pads on
    * write, read-side (spark.sql.readSideCharPadding), and pads the
    * SHORTER side in comparisons, which is exactly PostgreSQL's bpchar
    * contract ('May      '::char(9) = 'May' is TRUE, and the reference's
    * `Month IN ('April','May')` works against char storage even though it
    * fails against to_char's padded TEXT — the [[fnCharPadding]] trap).
    * This is the session-wide storage answer ROADMAP item 4 asked for:
    * declare char(n) in the DDL and every comparison downstream gets
    * padded semantics with no per-expression rpad. The DuckDB oracle
    * (no bpchar type) replays storage with rpad and the comparisons on
    * the trimmed name. */
  def ddlCharStorage(s: SparkSession, d: String): DataFrame = {
    val loc = s"${Materializer.defaultScratch}/g_months"
    s.sql("DROP TABLE IF EXISTS g_months")
    s.sql(s"""CREATE TABLE g_months (month_name CHAR(9), n_orders BIGINT)
             |USING parquet LOCATION '$loc'""".stripMargin)
    load(s, d, "orders")
      .groupBy(date_format(col("o_orderdate"), "MMMM").as("mn"))
      .agg(count(lit(1)).as("n")).createOrReplaceTempView("src_months")
    s.sql("INSERT OVERWRITE g_months SELECT mn, n FROM src_months")
    s.table("g_months")
      .select(col("month_name"), length(col("month_name")).as("stored_len"),
        col("n_orders"),
        col("month_name").isin("April", "May", "September").as("in_unpadded"),
        (col("month_name") === "May").as("eq_unpadded"))
      .orderBy("month_name")
  }

  def ddlCreateInsert(s: SparkSession, d: String): DataFrame = {
    val loc = s"${Materializer.defaultScratch}/g_region"
    s.sql("DROP TABLE IF EXISTS g_region")
    s.sql(s"""CREATE TABLE g_region (r_regionkey INT, r_name STRING)
             |USING parquet LOCATION '$loc'""".stripMargin)
    load(s, d, "region").createOrReplaceTempView("src_region")
    s.sql("INSERT OVERWRITE g_region SELECT r_regionkey, r_name FROM src_region")
    s.table("g_region").orderBy("r_regionkey")
  }

  /** S5: CREATE MATERIALIZED VIEW — persist an aggregate, read it back as a
    * base relation (assignment-5.sql:70–78; scan-not-expand semantics per
    * assignment-5.md:552). */
  def createMatview(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s)
    val agg = load(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("revenue"))
    m.create("mv_revenue_by_priority", agg)
      .orderBy("o_orderpriority")
  }

  /** S6: data-cleaning point update (UPDATE ... SET ... WHERE,
    * assignment-5.sql:13–15) as a declarative rewrite + overwrite through
    * the materializer. */
  def updateWhere(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s)
    val cleaned = load(s, d, "customer")
      .withColumn("c_mktsegment",
        when(col("c_mktsegment") === "AUTOMOBILE", "AUTO")
          .otherwise(col("c_mktsegment")))
    m.create("mv_customer_clean", cleaned)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** MERGE INTO (upsert) — the warehouse mutation UPDATE ... WHERE can't
    * express: one statement applying matched-update, not-matched-insert,
    * and matched-delete against a persisted target. Parquet has no
    * row-level merge, so the engine form is the canonical rewrite every
    * table format executes underneath: full-outer join target with source
    * on the key, per-row disposition, rewrite. Target = per-customer 1995
    * order summary; source = 1996 activity (update matched, insert new)
    * plus a delete set (customers whose 1995 spend stayed under 1000).
    * The merged table round-trips through storage and is re-read. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s)
    def summary(yr: Int) = load(s, d, "orders")
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("spend"))
    val target = summary(1995)
    val source = summary(1996)
    m.create("merge_target", target)
    // the shared MERGE primitive (same routine the streaming MV sink
    // uses with the `replace` resolution)
    val merged = graft.matview.Merge.outer(
      m.table("merge_target"), source, "o_custkey")(
      projection = Seq(
        coalesce(col("t.o_custkey"), col("u.o_custkey")).as("o_custkey"),
        (coalesce(col("t.n_orders"), lit(0L)) +
          coalesce(col("u.n_orders"), lit(0L))).as("n_orders"),
        // raw IEEE double add of the two exact-decimal-derived spends:
        // identical bits in both engines; no re-rounding
        (coalesce(col("t.spend"), lit(0.0)) +
          coalesce(col("u.spend"), lit(0.0))).as("spend"),
        when(col("t.o_custkey").isNull, "inserted")
          .when(col("u.o_custkey").isNull, "unchanged")
          .otherwise("updated").as("merge_action")),
      // WHEN MATCHED AND <cond> THEN DELETE: drop never-updated customers
      // who stayed under 1000 total spend
      deleteWhen = col("merge_action") === "unchanged" && col("spend") < 1000)
    m.create("merge_result", merged)
    m.table("merge_result").orderBy("o_custkey")
  }

  /** S3: DROP ... CASCADE over a real dependency chain: base MV <- derived
    * MV; dropping the base removes both, dependents first
    * (assignment-5.sql:17–27; SURVEY §7.8). Returns the drop order. */
  def ddlDropCascade(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Materializer(s)
    val base = load(s, d, "orders").groupBy("o_custkey")
      .agg(exactSum(col("o_totalprice")).as("spend"))
    m.create("mv_base_spend", base)
    val derived = m.table("mv_base_spend")
      .agg(max(col("spend")).as("max_spend"))
    m.create("mv_top_spend", derived, dependsOn = Seq("mv_base_spend"))
    val order = m.dropCascade("mv_base_spend")
    val survived = m.exists("mv_base_spend") || m.exists("mv_top_spend")
    order.zipWithIndex
      .map { case (n, i) => (n, i + 1, survived) }
      .toDF("name", "drop_order", "any_survived")
      .orderBy("drop_order")
  }

  /** X2: statistics maintenance (VACUUM ANALYZE analog,
    * assignment-5.sql:348): ANALYZE TABLE ... COMPUTE STATISTICS, then
    * verify the catalog row count against the data. */
  def analyzeStats(s: SparkSession, d: String): DataFrame = {
    ddlCreateInsert(s, d) // ensure g_region exists & is current
    s.sql("ANALYZE TABLE g_region COMPUTE STATISTICS")
    val statsRows = s.sql("DESCRIBE EXTENDED g_region")
      .filter(col("col_name") === "Statistics")
      .select("data_type").collect()
      .headOption.map(_.getString(0)).getOrElse("")
    val claimed = "(\\d+) rows".r.findFirstMatchIn(statsRows)
      .map(_.group(1).toLong).getOrElse(-1L)
    import s.implicits._
    Seq((claimed, s.table("g_region").count()))
      .toDF("rowcount_stats", "rowcount_actual")
      .withColumn("stats_match", col("rowcount_stats") === col("rowcount_actual"))
  }

  /** X2b: the reference's signature optimizer behavior made executable —
    * `VACUUM ANALYZE` flips the SAME query's physical join strategy
    * (assignment-5.md:489–519 plans hash join + seq scans without stats;
    * :1156–1166 re-plans nested loop + index scan once the planner has
    * fresh statistics). Spark's analog is CBO size estimation feeding the
    * broadcast decision: without catalog stats, size-only estimation
    * carries the dimension's FULL file size through the Filter, above the
    * broadcast threshold → sort-merge join; after `ANALYZE TABLE ... FOR
    * ALL COLUMNS`, the 1/ndv equality selectivity shrinks the filtered
    * dimension's estimate far below it → broadcast hash join. The
    * threshold is pinned just under the no-stats estimate, so only the
    * STATISTICS flip the plan — not tuning. Both strategies (and the flip)
    * are emitted as data; the initial (pre-AQE) physical plan is
    * inspected, so AQE's runtime re-planning can't mask the optimizer's
    * choice. */
  def statsJoinFlip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val loc = s"${Materializer.defaultScratch}/g_stats_customer"
    s.sql("DROP TABLE IF EXISTS g_stats_customer")
    load(s, d, "customer").write.mode("overwrite")
      .option("path", loc).saveAsTable("g_stats_customer")
    def joined = load(s, d, "orders").join(
      s.table("g_stats_customer").filter(col("c_nationkey") === 5),
      col("o_custkey") === col("c_custkey"))
    def strategy: String = {
      val p = joined.queryExecution.sparkPlan.toString
      if (p.contains("BroadcastHashJoin")) "broadcast_hash_join"
      else if (p.contains("SortMergeJoin")) "sort_merge_join"
      else "other"
    }
    // size-only estimate of the dim = its on-disk file size (no stats yet)
    val noStatsSize = s.table("g_stats_customer")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    withConf(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (noStatsSize - 1).toString) {
      val before = strategy
      s.sql(
        "ANALYZE TABLE g_stats_customer COMPUTE STATISTICS FOR ALL COLUMNS")
      val after = strategy
      val n = joined.count()
      Seq((before, after, n, before != after))
        .toDF("join_no_stats", "join_with_stats", "n_rows", "flipped")
    }
  }

  /** Runtime bloom-filter semi-join reduction — the scale pattern where a
    * selective dim filter prunes the fact side BEFORE its join shuffle:
    * Catalyst's InjectRuntimeFilter plants a bloom-built
    * `might_contain(xxhash64(l_orderkey))` predicate on the fact side,
    * constructed at runtime from the filtered orders' keys, so ~80% of
    * fact rows drop ahead of the exchange instead of after the join. The
    * production thresholds (10 GB application-side scan) are sized for
    * exactly the 100 TB deployment; at the gate SF they would suppress
    * the rewrite, so the key scopes them down, executes inside the scope
    * (strategy + result materialized before restore, like
    * [[statsJoinFlip]]), and emits the injection as an oracle-pinned
    * plan fact next to the join's aggregate result.
    */
  def joinBloomPruned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      // broadcast off: the broadcast path prunes via its own mechanism;
      // the bloom filter targets the shuffle-join plan a 100 TB fact uses
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val dim = load(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = load(s, d, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("l_extendedprice")).as("sum_price"))
      val injected =
        q.queryExecution.optimizedPlan.toString.contains("might_contain")
      val r = q.head()
      Seq((r.getString(0), r.getLong(1), r.getDouble(2), injected))
        .toDF("o_orderpriority", "n", "sum_price", "bloom_pruned")
    }
  }

  /** The dedicated introspection fixture whose plan `explain_plan` /
    * `explain_analyze` pin. Earlier rounds introspected the LIVE
    * joinNatural5Way, which made every intentional 5-way plan improvement
    * (hints, thresholds) break two unrelated golden keys; this query's
    * shape is frozen BY CONSTRUCTION instead: the dim side carries an
    * explicit broadcast() hint (join strategy independent of stats and
    * thresholds), the scan/filter/aggregate/sort spine is fixed by the
    * query text, and no other key's tuning touches it. It still exercises
    * every operator class the reference's EXPLAIN output shows
    * (assignment-5.md:481–522): scans with pushed filters, a hash join,
    * the partial/final aggregate split, an exchange, and a sort. */
  private[graft] def explainFixture(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")
      .filter(col("l_quantity") >= 25)
      .join(broadcast(load(s, d, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")

  /** X1: EXPLAIN — the physical plan as data (assignment-5.sql:328 ff;
    * the reference's instrumented path reports per-node operators,
    * assignment-5.md:481–522). Emits the operator multiset of the frozen
    * [[explainFixture]]'s initial physical plan — (operator, n_nodes)
    * rows, normalized class names — so the oracle pins the plan SHAPE
    * value-exactly: the broadcast join strategy, the partial/final
    * aggregate split, and the pushed scan count are all visible in the
    * counts. (The initial sparkPlan is deterministic given data + config;
    * AQE's runtime re-planning is intentionally excluded.) */
  def explainPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val plan = explainFixture(s, d).queryExecution.sparkPlan
    plan.collect { case p => p.getClass.getSimpleName.stripSuffix("Exec") }
      .groupBy(identity)
      .map { case (op, v) => (op, v.size.toLong) }
      .toSeq.sortBy(_._1)
      .toDF("operator", "n_nodes")
  }

  /** X1 (instrumented): EXPLAIN ANALYZE — the reference's instrumented
    * path reports ACTUAL rows per plan node (assignment-5.md:481–522,
    * driven by assignment-5.sql:328–470). This key executes the frozen
    * [[explainFixture]] and emits, per operator class, the node count and the total
    * rows the nodes actually produced (the numOutputRows SQLMetric) —
    * value-exact and oracle-pinned, since row flow at a fixed SF is
    * deterministic. AQE is disabled for the measurement so the executed
    * plan (and therefore the operator multiset) is the static one
    * explain_plan pins; codegen/adapter wrapper nodes are excluded.
    *
    * Only PARTITION-INVARIANT row counts are reported: a partial-mode
    * aggregate emits one row per (group, map partition), and the file
    * split count scales with the session's core count (r3's golden was
    * authored at local[4] and broke on the driver's local[32]) — so
    * aggregate nodes report rows only in Final/Complete mode (output =
    * group count, a property of the data), partial modes report NULL
    * like Project/Exchange.
    *
    * Per-node TIMING (the reference's `actual time=0.064..0.840`,
    * assignment-5.md:483): each operator row also carries its
    * timing-typed SQLMetrics. Wall-clock VALUES are inherently
    * nondeterministic, so the oracled column is the partition-invariant
    * part — which time metrics the operator measures (`time_metrics`,
    * e.g. the exchange's collect/build/broadcast times, the sort's sort
    * time) — while the measured milliseconds are asserted live in
    * PlanSpec ("explain_analyze captures nonzero operator times"),
    * keeping the gate exact AND the timing real. */
  def explainAnalyze(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    explainAnalyzeRaw(s, d)
      .map { case (op, n, rows, times, _) => (op, n, rows, times) }
      .toDF("operator", "n_nodes", "rows_out", "time_metrics")
  }

  /** The instrumented run behind [[explainAnalyze]]: the fixture
    * executed with AQE off, read through [[operatorStats]]. */
  private[graft] def explainAnalyzeRaw(s: SparkSession, d: String)
      : Seq[(String, Long, Option[Long], Option[String], Long)] =
    withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      val df = explainFixture(s, d)
      df.collect() // populate SQLMetrics on THIS QueryExecution
      operatorStats(df.queryExecution.executedPlan)
    }

  private object Aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Per operator class of an executed plan, sorted by class: (class,
    * node count, rows out, time-metric names, summed measured time). The
    * walk descends through AQE wrappers into the final adaptive plan and
    * skips the wrappers themselves and codegen/adapter nodes. Rows are
    * reported only where they are partition-invariant: an aggregate
    * counts only in Final/Complete mode. The last slot is the summed
    * MEASURED time of those metrics in ns, ms-resolution ones scaled
    * (nondeterministic). */
  private[graft] def operatorStats(
      plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(String, Long, Option[Long], Option[String], Long)] = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    val nodes = Aqe.collect(plan) {
      case p if !Seq("WholeStageCodegen", "InputAdapter", "AdaptiveSparkPlan")
          .exists(p.getClass.getSimpleName.startsWith) &&
          !p.getClass.getSimpleName.endsWith("QueryStageExec") =>
        val invariant = p match {
          case a: BaseAggregateExec =>
            a.aggregateExpressions.nonEmpty &&
              a.aggregateExpressions.forall(e =>
                e.mode == Final || e.mode == Complete)
          case _ => true
        }
        val timed = p.metrics.toSeq.collect {
          case (nm, m) if m.metricType == "timing" => (nm, m.value * 1000000L)
          case (nm, m) if m.metricType == "nsTiming" => (nm, m.value)
        }
        (p.getClass.getSimpleName.stripSuffix("Exec"),
          if (invariant) p.metrics.get("numOutputRows").map(_.value)
          else None,
          timed)
    }
    nodes.groupBy(_._1).toSeq
      .map { case (op, v) =>
        val rows = v.flatMap(_._2)
        val names = v.flatMap(_._3.map(_._1)).distinct.sorted
        (op, v.size.toLong,
          if (rows.isEmpty) None else Some(rows.sum),
          if (names.isEmpty) None else Some(names.mkString("+")),
          v.flatMap(_._3.map(_._2)).sum)
      }
      .sortBy(_._1)
  }

  /** Constraint validation as data (PK / NOT NULL / CHECK / FK over the
    * testdata star schema) — the engine-side stand-in for PG's declarative
    * constraints (SURVEY §1; graft.ingest.Constraints). */
  def constraintValidate(s: SparkSession, d: String): DataFrame = {
    import graft.ingest.Constraints._
    val orders = load(s, d, "orders")
    val customer = load(s, d, "customer")
    val lineitem = load(s, d, "lineitem")
    report(s, Seq(
      "pk_orders" -> (() => primaryKeyViolations(orders, Seq("o_orderkey"))),
      "pk_lineitem" -> (() =>
        primaryKeyViolations(lineitem, Seq("l_orderkey", "l_linenumber"))),
      "notnull_custkey" -> (() => notNullViolations(orders, Seq("o_custkey"))),
      "check_price_positive" -> (() =>
        checkViolations(orders, col("o_totalprice") > 0)),
      "fk_orders_customer" -> (() =>
        foreignKeyViolations(orders, Seq("o_custkey"), customer, Seq("c_custkey"))),
      "fk_lineitem_orders" -> (() =>
        foreignKeyViolations(lineitem, Seq("l_orderkey"), orders, Seq("o_orderkey")))))
      .orderBy("constraint_name")
  }

  /** Automatic MV substitution through the driver surface: materialize an
    * aggregate, rebuild the logically-identical query from base tables, and
    * report whether the optimizer answered it from the MV
    * (graft.matview.MvRewrite; SURVEY §4 stretch goal, automated). */
  def matviewAutoRewrite(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    def agg = load(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("revenue"))
    m.create("mv_auto_rw", agg)
    val q = agg // fresh logically-identical plan
    val servedFromMv = q.queryExecution.executedPlan.toString.contains("mv_auto_rw")
    val result = q.withColumn("served_from_mv", lit(servedFromMv))
      .orderBy("o_orderpriority")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the rewrite produced, not a post-deregister base
      // recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Constraint detection on deliberately-corrupted data: duplicate PKs,
    * nulled keys, negative prices, and orphaned FKs are planted in-query,
    * and the validators must count each exactly — the failure paths of
    * [[graft.ingest.Constraints]] through the driver gate. */
  def constraintDetect(s: SparkSession, d: String): DataFrame = {
    import graft.ingest.Constraints._
    val orders = load(s, d, "orders")
    val customer = load(s, d, "customer")
    // plant: 7 duplicated orderkeys, 5 null custkeys, 3 negative prices,
    // 11 orders pointing at a customer key that cannot exist
    val corrupted = orders
      .unionByName(orders.orderBy("o_orderkey").limit(7))
      .unionByName(orders.orderBy("o_orderkey").limit(5)
        .withColumn("o_custkey", lit(null).cast("bigint"))
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      .unionByName(orders.orderBy("o_orderkey").limit(3)
        .withColumn("o_totalprice", lit(-1.0))
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
      .unionByName(orders.orderBy("o_orderkey").limit(11)
        .withColumn("o_custkey", lit(-42L))
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
    report(s, Seq(
      "pk_dupes" -> (() => primaryKeyViolations(corrupted, Seq("o_orderkey"))),
      "null_custkey" -> (() => notNullViolations(corrupted, Seq("o_custkey"))),
      "negative_price" -> (() =>
        checkViolations(corrupted, col("o_totalprice") > 0)),
      "orphan_fk" -> (() => foreignKeyViolations(
        corrupted.filter(col("o_custkey").isNotNull), Seq("o_custkey"),
        customer, Seq("c_custkey")))))
      .orderBy("constraint_name")
  }

  /** FK referential ACTIONS through the driver gate — the reference
    * declares ON UPDATE CASCADE / ON DELETE actions on its FK web
    * (BookOrdersDatabaseDump_17.sql:1700–1736) without ever firing them;
    * here each action actually executes over orders(o_custkey) →
    * customer(c_custkey): customers with keys divisible by 97 are
    * deleted (or renumbered, for the update case) and the observable
    * outcome per action is reported — rows affected, rows surviving,
    * NULLed FKs, and whether the delete was allowed (RESTRICT refuses
    * while referencing rows exist). */
  def fkReferentialActions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.ingest.ReferentialActions._
    val orders = load(s, d, "orders")
    val deleted = load(s, d, "customer")
      .filter(col("c_custkey") % 97 === 0).select("c_custkey")
    val total = orders.count()
    val surviving = onDeleteCascade(orders, Seq("o_custkey"), deleted).count()
    val nulls = onDeleteSet(orders, Seq("o_custkey"), deleted,
        lit(null).cast("bigint"))
      .filter(col("o_custkey").isNull).count()
    val blocking = onDeleteRestrictViolations(orders, Seq("o_custkey"), deleted)
    val remap = deleted.select(col("c_custkey").as("old_key"),
      (col("c_custkey") + 10000000L).as("new_key"))
    val recascaded = onUpdateCascade(orders, "o_custkey", remap)
      .filter(col("o_custkey") >= 10000000L).count()
    Seq(
      ("delete_cascade", total - surviving, surviving, 0L, true),
      ("delete_restrict", 0L, total, 0L, blocking == 0L),
      ("delete_set_null", nulls, total, nulls, true),
      ("update_cascade", recascaded, total, 0L, true))
      .toDF("action", "affected_rows", "remaining_child_rows",
        "null_fk_rows", "delete_allowed")
      .orderBy("action")
  }

  /** Containment MV rewrite through the driver surface: a per-(custkey,
    * status) MV answers the coarser per-status question by re-aggregation
    * (sum of counts, min of mins, max of maxes) — the reference's Q4
    * View2/View3 technique, automated. */
  def matviewRollupRewrite(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    def fine = load(s, d, "orders")
      .groupBy(col("o_custkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
    m.create("mv_rollup_fine", fine)
    val coarse = load(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
    val servedFromMv = coarse.queryExecution.executedPlan.toString
      .contains("mv_rollup_fine")
    val result = coarse.withColumn("served_from_mv", lit(servedFromMv))
      .orderBy("o_orderstatus")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the containment re-aggregation produced, not a
      // post-deregister base recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Sketch-storing MV rewrite — the first rewrite where the MV holds a
    * SKETCH, not row aggregates: per (returnflag, ship-month) the MV
    * stores a [[graft.functions.QuantileSketchAgg]] counter vector (plus
    * the row count); the whole-history per-flag quantile question is then
    * answered by element-wise SUMMING the stored monthly vectors
    * ([[graft.functions.VecSumAgg]] via the MvRewrite containment path)
    * — counter addition is commutative/associative, so the merged sketch
    * is bit-identical to a one-shot sketch over the base rows and the
    * oracle replays the integer bucket map directly from lineitem. At
    * 100 TB this is the pre-aggregation pattern for percentile
    * dashboards: month partitions fold into 15 KiB sketches once; any
    * coarser rollup reads |months| vectors instead of re-scanning rows. */
  def matviewSketchRewrite(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.QuantileSketchAgg
    val m = Materializer(s).enableAutoRewrite()
    def cents = round(col("l_extendedprice") * 100).cast("long")
    def grain(cs: org.apache.spark.sql.Column*) =
      load(s, d, "lineitem").groupBy(cs: _*)
        .agg(QuantileSketchAgg.quantile_sketch(cents).as("sk"),
          count(lit(1)).as("n"))
    m.create("mv_sketch_month",
      grain(col("l_returnflag"), date_trunc("month", col("l_shipdate"))))
    val q = grain(col("l_returnflag"))
    // the substantive claim: the per-flag sketch is served by merging the
    // stored monthly sketches, never re-scanning the fact table
    val plan = q.queryExecution.executedPlan.toString
    val served = plan.contains("mv_sketch_month") &&
      !plan.contains("lineitem.parquet")
    // quantile estimates from the merged counters — the downstream
    // geometry of agg_quantile_sketch (bucket width/mid, cum over the
    // <= 1888-row sketch relation, 3-row target broadcast)
    import s.implicits._
    val targets = broadcast(Seq(0.5, 0.9, 0.99).toDF("q"))
    val buckets = q
      .select(col("l_returnflag"), col("n"),
        posexplode(col("sk")).as(Seq("idx", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("width", expr(QuantileSketchAgg.widthSql))
      .withColumn("mid", expr(QuantileSketchAgg.midSql))
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("l_returnflag").orderBy("idx")))
    val result = buckets.join(targets, col("cum") >= ceil(col("q") * col("n")))
      .groupBy("l_returnflag", "q")
      .agg(min(col("mid")).as("est_cents"), max(col("n")).as("n_rows"))
      .select(col("l_returnflag"), col("q"),
        (col("est_cents").cast("double") / 100.0).as("est_value"),
        col("n_rows"),
        lit(served).as("served_from_mv"))
      .orderBy("l_returnflag", "q")
      // materialize BEFORE deregisterAll (r12 self-review): the caller
      // re-plans the returned frame after deregistration, which would
      // recompute from the base table — the oracle must gate rows the
      // REWRITE produced (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Sketch-MV rollup composition — the grouping-compatibility half of
    * the sketch-rewrite claim (the check the reference's View methodology
    * is about, assignment-5.sql:300–469): the SAME monthly sketch MV as
    * [[matviewSketchRewrite]]'s serves a COARSER (quarterly) grain, not
    * just the all-history collapse — the rewrite maps the query's
    * `quarter(month(x))` grouping onto the stored month column and
    * re-aggregates the stored counter vectors with
    * [[graft.functions.VecSumAgg]] per quarter. Counter addition is
    * exact under any regrouping, so each quarter's merged sketch is
    * bit-identical to a one-shot sketch over that quarter's base rows
    * and the oracle replays every bucket from lineitem. At 100 TB this
    * is the roll-up ladder: one monthly materialization serves month,
    * quarter, year, and all-time percentile dashboards from |months|
    * 15 KiB vectors. */
  def matviewSketchRollup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.QuantileSketchAgg
    val m = Materializer(s).enableAutoRewrite()
    def cents = round(col("l_extendedprice") * 100).cast("long")
    def month = date_trunc("month", col("l_shipdate"))
    def grain(cs: org.apache.spark.sql.Column*) =
      load(s, d, "lineitem").groupBy(cs: _*)
        .agg(QuantileSketchAgg.quantile_sketch(cents).as("sk"),
          count(lit(1)).as("n"))
    m.create("mv_sketch_month_q", grain(col("l_returnflag"), month))
    // the quarterly grain phrased THROUGH the monthly one —
    // quarter(month(x)) ≡ quarter(x), and the inner month(x) is what the
    // containment rewrite maps onto the stored grouping column
    val q = grain(col("l_returnflag"),
      date_trunc("quarter", month).as("qtr"))
    val plan = q.queryExecution.executedPlan.toString
    val served = plan.contains("mv_sketch_month_q") &&
      !plan.contains("lineitem.parquet")
    import s.implicits._
    val targets = broadcast(Seq(0.5, 0.9).toDF("q"))
    val buckets = q
      .select(col("l_returnflag"), col("qtr"), col("n"),
        posexplode(col("sk")).as(Seq("idx", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("width", expr(QuantileSketchAgg.widthSql))
      .withColumn("mid", expr(QuantileSketchAgg.midSql))
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("l_returnflag", "qtr").orderBy("idx")))
    val result = buckets.join(targets, col("cum") >= ceil(col("q") * col("n")))
      .groupBy("l_returnflag", "qtr", "q")
      .agg(min(col("mid")).as("est_cents"), max(col("n")).as("n_rows"))
      .select(col("l_returnflag"), col("qtr").cast("date").as("quarter"),
        col("q"),
        (col("est_cents").cast("double") / 100.0).as("est_value"),
        col("n_rows"),
        lit(served).as("served_from_mv"))
      .orderBy("l_returnflag", "quarter", "q")
      // MATERIALIZE while the MV is still registered (r12 self-review):
      // the returned frame is re-planned by the caller AFTER
      // deregisterAll, which would silently recompute from the base
      // table — the oracle/specs would then gate a base-vs-base compare
      // instead of the merged-sketch path this key exists to pin. The
      // eager localCheckpoint freezes rows produced BY the rewrite.
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** KMV-storing MV rewrite — the union-merge companion of
    * [[matviewSketchRewrite]]'s add-merge counters: per (returnflag,
    * ship-month) the MV stores the K smallest distinct order-key hashes
    * ([[graft.functions.KmvAgg]]); the whole-history per-flag
    * distinct-count question is answered by k-bounded set UNION of the
    * stored monthly sketches ([[graft.functions.KmvUnionAgg]] via the
    * rewrite) — KMV's classic mergeability: the K smallest of a union
    * are computable from the per-part K smallest, so the merged sketch
    * is bit-identical to a one-shot sketch over the base rows. The
    * xor-fold checksum pins the merged sketch CONTENT through the
    * oracle, not just the estimate. */
  def matviewKmvRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KmvAgg
    import graft.functions.KmvAgg.K
    import graft.functions.Mix64.mix64
    val m = Materializer(s).enableAutoRewrite()
    def h = shiftrightunsigned(mix64(col("l_orderkey")), 1)
    def grain(cs: org.apache.spark.sql.Column*) =
      load(s, d, "lineitem").groupBy(cs: _*)
        .agg(KmvAgg.kmv_sketch(h).as("sk"))
    m.create("mv_kmv_month",
      grain(col("l_returnflag"), date_trunc("month", col("l_shipdate"))))
    val q = grain(col("l_returnflag"))
    val plan = q.queryExecution.executedPlan.toString
    val served = plan.contains("mv_kmv_month") &&
      !plan.contains("lineitem.parquet")
    val result = q
      .select(col("l_returnflag"), size(col("sk")).as("n_sketch"), col("sk"))
      .select(col("l_returnflag"), col("n_sketch"),
        when(col("n_sketch") >= K, round(
          lit(KmvAgg.estNumerator(K)) /
            element_at(col("sk"), K).cast("double"), 6))
          .otherwise(col("n_sketch").cast("double")).as("est_distinct"),
        expr("aggregate(sk, CAST(0 AS BIGINT), (a, x) -> a ^ x)")
          .as("h_checksum"),
        lit(served).as("served_from_mv"))
      .orderBy("l_returnflag")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the union-merge produced, not a post-deregister
      // base recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** HLL-storing MV rewrite — the MAX-merge completion of the sketch-MV
    * family next to [[matviewSketchRewrite]]'s add-merge counters and
    * [[matviewKmvRewrite]]'s union-merge minima: per (returnflag,
    * ship-month) the MV stores the 512 HLL registers
    * ([[graft.functions.HllAgg]]); the whole-history per-flag
    * distinct-count question is answered by element-wise MAX of the
    * stored monthly registers ([[graft.functions.VecMaxAgg]] via the
    * rewrite) — each register is a pure MAX over the underlying hash
    * set, so the folded vector is bit-identical to a one-shot sketch
    * over the base rows and the oracle replays the registers directly
    * from lineitem. The position-weighted checksum pins the merged
    * register CONTENT through the oracle, not just the estimate. */
  def matviewHllRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HllAgg
    import graft.functions.Mix64.mix64
    val m = Materializer(s).enableAutoRewrite()
    def h = shiftrightunsigned(mix64(col("l_orderkey")), 1)
    def grain(cs: org.apache.spark.sql.Column*) =
      load(s, d, "lineitem").groupBy(cs: _*)
        .agg(HllAgg.hll_sketch(h).as("regs"))
    m.create("mv_hll_month",
      grain(col("l_returnflag"), date_trunc("month", col("l_shipdate"))))
    val q = grain(col("l_returnflag"))
    val plan = q.queryExecution.executedPlan.toString
    val served = plan.contains("mv_hll_month") &&
      !plan.contains("lineitem.parquet")
    val result = q.select(col("l_returnflag"),
        HllAgg.nZero("regs").as("n_zero"),
        HllAgg.regChecksum("regs").as("reg_checksum"),
        HllAgg.estimate(HllAgg.sRegs("regs"), HllAgg.nZero("regs"))
          .as("est_distinct"),
        lit(served).as("served_from_mv"))
      .orderBy("l_returnflag")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the max-merge produced, not a post-deregister
      // base recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Average containment: the MV stores (decimal sum, count) per priority;
    * the exact-average query (cast(sum)/count composite) re-aggregates both
    * from the MV — the rewrite walks arbitrary expression trees over
    * re-aggregable calls and inserts width-reconciling casts (a re-summed
    * decimal widens; the total provably fits the original type). */
  def matviewAvgRewrite(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    m.create("mv_avg_parts",
      load(s, d, "orders").groupBy("o_orderpriority")
        .agg(sum(dec(col("o_totalprice"))).as("s"), count(lit(1)).as("c")))
    val q = load(s, d, "orders").groupBy("o_orderpriority")
      .agg(exactAvg(col("o_totalprice")).as("avg_revenue"),
        count(lit(1)).as("n"))
    // the substantive claim: the fact table is not scanned (which MV wins
    // is the cost chooser's call when several are registered in-session)
    val served = !q.queryExecution.executedPlan.toString.contains("orders.parquet")
    val result = q.withColumn("served_from_mv", lit(served))
      .orderBy("o_orderpriority")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the rewrite produced, not a post-deregister base
      // recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Filter containment: a predicate over a stored grouping column is
    * remapped onto the MV, so the filter runs over the grouped relation
    * instead of the fact table (the reference's "query the view WHERE ..."
    * pattern, assignment-5.sql:362 ff, automated). */
  def matviewFilterRewrite(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    m.create("mv_filter_src",
      load(s, d, "orders").groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("s")))
    val q = load(s, d, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("revenue"))
    val served = q.queryExecution.executedPlan.toString.contains("mv_filter_src")
    val result = q.withColumn("served_from_mv", lit(served))
      .orderBy("o_orderpriority")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the rewrite produced, not a post-deregister base
      // recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Cost-based MV choice: two registered MVs both answer the rollup; the
    * rule picks the cheaper one by the optimizer's own size estimate —
    * the narrow pre-aggregation, not the wide one (the reference picks
    * View2 over View1 for Q4a by the same reasoning, assignment-5.md:
    * 555–627). */
  def matviewCostChoice(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    m.create("mv_li_wide",
      load(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_extendedprice"))).as("s")))
    m.create("mv_li_narrow",
      load(s, d, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(dec(col("l_extendedprice"))).as("s")))
    val q = load(s, d, "lineitem").groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"))
    val plan = q.queryExecution.executedPlan.toString
    val chose = plan.contains("mv_li_narrow") && !plan.contains("mv_li_wide")
    val result = q.withColumn("chose_narrow_mv", lit(chose))
      .orderBy("l_returnflag")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the rewrite produced, not a post-deregister base
      // recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Derived-grouping rollup: a date-grained MV answers the year-grained
    * question — the grouping year(g) rewrites onto the stored date column
    * and the measures re-aggregate (the mart's time-dimension hierarchy,
    * Assignment5_17.pdf Table 2, exploited automatically). */
  def matviewTimeRollup(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s).enableAutoRewrite()
    m.create("mv_daily_rev",
      load(s, d, "orders").groupBy("o_orderdate")
        .agg(sum(dec(col("o_totalprice"))).as("s"), count(lit(1)).as("c")))
    val q = load(s, d, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(exactSum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    val served = q.queryExecution.executedPlan.toString.contains("mv_daily_rev")
    val result = q.withColumn("served_from_mv", lit(served)).orderBy("yr")
      // materialize BEFORE deregisterAll (r12 self-review): the oracle
      // must gate rows the rewrite produced, not a post-deregister base
      // recompute (see matviewSketchRollup)
      .localCheckpoint()
    m.deregisterAll() // scope the rewrite to this query
    result
  }

  /** Bucketed co-located join through the driver gate: both sides
    * materialized bucketed+sorted on the join key (same bucket count), so
    * the sort-merge join plans with NO exchange on either side — the pay-
    * the-shuffle-once-at-write-time answer to repeated fact-fact joins at
    * 100 TB (ScaleOpsSpec pins the plan shape; this query proves it
    * end-to-end with values). MERGE hint pins SMJ so the no-exchange
    * claim is about bucketing, not broadcast. */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val m = Materializer(s)
    m.createBucketed("bkt_orders",
      load(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_custkey"), 8)
    m.createBucketed("bkt_customer",
      load(s, d, "customer").select("c_custkey", "c_mktsegment"),
      Seq("c_custkey"), 8)
    val joined = s.table("bkt_orders").hint("MERGE")
      .join(s.table("bkt_customer").hint("MERGE"),
        col("o_custkey") === col("c_custkey"))
    val noExchange =
      !joined.queryExecution.executedPlan.toString.contains("Exchange")
    joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("revenue"))
      .withColumn("bucket_join_no_exchange", lit(noExchange))
      .orderBy("c_mktsegment")
  }

  /** Incremental MV refresh through the driver gate: the MV is built from
    * the pre-1997 orders only, then the 1997+ delta is merged via
    * refreshIncremental (delta aggregated, groups merged, atomic swap) —
    * and the result must hash-match DuckDB aggregating ALL orders from
    * scratch. Touches |delta| + |MV| rows, never the full fact. */
  def matviewIncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.matview.Materializer.Measure
    val m = Materializer(s)
    val o = load(s, d, "orders")
    m.createAggregated("mv_inc_rev",
      o.filter(year(col("o_orderdate")) < 1997),
      Seq("o_orderpriority"),
      Seq(Measure.sumOf(dec(col("o_totalprice")), "rev_dec"),
        Measure.countAll("n_orders"),
        Measure.maxOf(col("o_totalprice"), "max_price")))
    m.refreshIncremental("mv_inc_rev",
      o.filter(year(col("o_orderdate")) >= 1997))
    m.table("mv_inc_rev")
      .select(col("o_orderpriority"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        col("n_orders"), col("max_price"))
      .orderBy("o_orderpriority")
  }

  /** Incremental maintenance of a JOIN-aggregate MV (the star-schema
    * rollup shape): orders ⋈ customer grouped by market segment, built on
    * pre-1997 facts, then refreshed from the 1997+ FACT delta alone — the
    * delta joins the (static) dimension and merges into the stored
    * groups; the base fact is never re-scanned. Oracle recomputes the
    * full join-aggregate — equality proves the delta path. */
  def matviewIncrementalJoin(s: SparkSession, d: String): DataFrame = {
    import graft.matview.Materializer.Measure
    val m = Materializer(s)
    val o = load(s, d, "orders")
    val c = load(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    m.createJoinAggregated("mv_inc_seg",
      o.filter(year(col("o_orderdate")) < 1997), c, Seq("o_custkey"),
      Seq("c_mktsegment"),
      Seq(Measure.sumOf(dec(col("o_totalprice")), "rev_dec"),
        Measure.countAll("n_orders")))
    m.refreshJoinDelta("mv_inc_seg",
      o.filter(year(col("o_orderdate")) >= 1997))
    m.table("mv_inc_seg")
      .select(col("c_mktsegment"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        col("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** The reference's full MV lifecycle closed incrementally
    * (assignment-5.sql:567–588): `sum_per_day_per_city` — a date-windowed
    * join-aggregate MV with a cumulative window query on top —
    * re-expressed as sum-per-day-per-nation and maintained by DELTA
    * instead of full recompute. Initial build aggregates the April 1995
    * facts; REFRESH applies the May 1995 facts as a fact-only delta
    * (delta ⋈ static dim, group merge — the base fact is never
    * re-scanned); the reference's running-total window then runs over
    * the REFRESHED MV, touching |MV| rows, not the fact. At 100 TB the
    * daily refresh is |day's orders| joined against a broadcast dim plus
    * an |MV|-sized merge, and the windowed read stays MV-sized. Oracle
    * recomputes everything from the full fact window — equality proves
    * the delta path reproduced the reference's published query. */
  def matviewWindowRefresh(s: SparkSession, d: String): DataFrame = {
    import graft.matview.Materializer.Measure
    import org.apache.spark.sql.expressions.Window
    val m = Materializer(s)
    val dim = load(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      .join(load(s, d, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_custkey"), col("n_name"))
    val o = load(s, d, "orders").filter(
      col("o_orderdate").between("1995-04-01", "1995-05-31"))
    m.createJoinAggregated("mv_day_nation",
      o.filter(month(col("o_orderdate")) === 4), dim, Seq("o_custkey"),
      Seq("n_name", "o_orderdate"),
      Seq(Measure.sumOf(dec(col("o_totalprice")), "day_spend_dec")))
    m.refreshJoinDelta("mv_day_nation",
      o.filter(month(col("o_orderdate")) === 5))
    // (n_name, o_orderdate) is the MV's group key, so the cumulative
    // range frame is tie-free and deterministic
    val w = Window.partitionBy("n_name").orderBy("o_orderdate")
    m.table("mv_day_nation")
      .select(col("n_name").as("nation"), col("o_orderdate").as("day"),
        col("day_spend_dec").cast(DoubleType).as("day_spend"),
        sum(col("day_spend_dec")).over(w).cast(DoubleType).as("cum_spend"))
      .orderBy("nation", "day")
  }

  /** The reference's windowed-MV lifecycle closed THROUGH THE REWRITER
    * (assignment-5.sql:567–588 end-to-end): same April build + May
    * fact-delta refresh as [[matviewWindowRefresh]], but the reference's
    * cumulative query (Q5b) is then written against the BASE tables and
    * answered from the refreshed MV *automatically* — the rewriter
    * substitutes the aggregate subtree under the running-total window
    * with a scan of the maintained MV. PG semantics for the registry:
    * REFRESH never changes the defining query, it brings storage up to
    * date with it; our incremental path deregisters mid-merge, so after
    * the refresh lands the full-window definition is re-asserted
    * ([[graft.matview.Materializer.redefine]]) and checked by this key's
    * oracle (full recompute from base tables + `true AS served_from_mv`).
    * At 100 TB the win stacks: the daily refresh touches |delta| + |MV|
    * rows, and every analyst query shaped like the definition reads the
    * |MV|-sized relation with zero query changes. */
  def matviewWindowRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.matview.Materializer.Measure
    import org.apache.spark.sql.expressions.Window
    val m = Materializer(s).enableAutoRewrite()
    val dim = load(s, d, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      .join(load(s, d, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_custkey"), col("n_name"))
    val o = load(s, d, "orders").filter(
      col("o_orderdate").between("1995-04-01", "1995-05-31"))
    m.createJoinAggregated("mv_day_nation_rw",
      o.filter(month(col("o_orderdate")) === 4), dim, Seq("o_custkey"),
      Seq("n_name", "o_orderdate"),
      Seq(Measure.sumOf(dec(col("o_totalprice")), "day_spend_dec")))
    m.refreshJoinDelta("mv_day_nation_rw",
      o.filter(month(col("o_orderdate")) === 5))
    // the defining query (never changed by REFRESH): the full-window
    // day-grain aggregate the refreshed storage now covers
    def defining = o.join(dim, Seq("o_custkey"))
      .groupBy("n_name", "o_orderdate")
      .agg(sum(dec(col("o_totalprice"))).as("day_spend_dec"))
    m.redefine("mv_day_nation_rw", defining)
    // Q5b as an analyst would write it — against base tables, no mention
    // of the MV; the cumulative frame is tie-free on the MV's group key
    val w = Window.partitionBy("n_name").orderBy("o_orderdate")
    val q = defining
      .select(col("n_name").as("nation"), col("o_orderdate").as("day"),
        col("day_spend_dec").cast(DoubleType).as("day_spend"),
        sum(col("day_spend_dec")).over(w).cast(DoubleType).as("cum_spend"))
    val served = q.queryExecution.executedPlan.toString
      .contains("mv_day_nation_rw")
    // materialize THROUGH the rewritten plan before deregistering: a lazy
    // return would re-plan at the caller's materialization time, AFTER the
    // registry is emptied, so the delivered rows would silently recompute
    // from base tables while claiming served_from_mv — the checkpoint pins
    // that the data the gate hashes actually flowed through the MV scan
    val out = q.withColumn("served_from_mv", lit(served))
      .orderBy("nation", "day").localCheckpoint()
    m.deregisterAll() // scope the rewrite to later queries
    out
  }

  val entries: Map[String, Q] = Map(
    "matview_window_rewrite" -> (matviewWindowRewrite _),
    "matview_incremental_refresh" -> (matviewIncrementalRefresh _),
    "matview_incremental_join" -> (matviewIncrementalJoin _),
    "matview_window_refresh" -> (matviewWindowRefresh _),
    "join_bucketed" -> (joinBucketed _),
    "matview_avg_rewrite" -> (matviewAvgRewrite _),
    "matview_filter_rewrite" -> (matviewFilterRewrite _),
    "matview_cost_choice" -> (matviewCostChoice _),
    "matview_time_rollup" -> (matviewTimeRollup _),
    "constraint_validate" -> (constraintValidate _),
    "constraint_detect" -> (constraintDetect _),
    "matview_auto_rewrite" -> (matviewAutoRewrite _),
    "matview_rollup_rewrite" -> (matviewRollupRewrite _),
    "matview_sketch_rewrite" -> (matviewSketchRewrite _),
    "matview_sketch_rollup" -> (matviewSketchRollup _),
    "matview_kmv_rewrite" -> (matviewKmvRewrite _),
    "matview_hll_rewrite" -> (matviewHllRewrite _),
    "ingest_tsv"        -> (ingestTsv _),
    "ddl_create_insert" -> (ddlCreateInsert _),
    "ddl_char_storage"  -> (ddlCharStorage _),
    "ingest_jsonl"      -> (ingestJsonl _),
    "ingest_orc_roundtrip" -> (ingestOrcRoundtrip _),
    "ingest_csv_quoted" -> (ingestCsvQuoted _),
    "merge_upsert" -> (mergeUpsert _),
    "maintenance_compact" -> (maintenanceCompact _),
    "table_time_travel" -> (tableTimeTravel _),
    "table_schema_evolution" -> (tableSchemaEvolution _),
    "table_incremental_read" -> (tableIncrementalRead _),
    "table_vacuum" -> (tableVacuum _),
    "table_partition_overwrite" -> (tablePartitionOverwrite _),
    "table_stats_pruning" -> (tableStatsPruning _),
    "table_point_lookup" -> (tablePointLookup _),
    "table_auto_skipping" -> (tableAutoSkipping _),
    "table_null_skipping" -> (tableNullSkipping _),
    "table_cluster_pruning" -> (tableClusterPruning _),
    "table_stream_ingest" ->
      ((s: SparkSession, d: String) =>
        graft.streaming.StreamingOps.streamTableIngest(s, d)),
    "table_compact_versions" -> (tableCompactVersions _),
    "lookup_bucket_pruned" -> (lookupBucketPruned _),
    "layout_zorder" -> (layoutZorder _),
    "ingest_schema_evolution" -> (ingestSchemaEvolution _),
    "ingest_partitioned_prune" -> (ingestPartitionedPrune _),
    "create_matview"    -> (createMatview _),
    "update_where"      -> (updateWhere _),
    "ddl_drop_cascade"  -> (ddlDropCascade _),
    "analyze_stats"     -> (analyzeStats _),
    "stats_join_flip"   -> (statsJoinFlip _),
    "join_bloom_pruned" -> (joinBloomPruned _),
    "explain_plan"      -> (explainPlan _),
    "explain_analyze"   -> (explainAnalyze _),
    "fk_referential_actions" -> (fkReferentialActions _),
  )

  val oracles: Map[String, String] = Map(
    // full recompute of the reference's sum_per_day_per_city + running
    // total (assignment-5.sql:567–588) over the whole April–May window —
    // equality proves the April-build + May-delta merge path
    // the rewriter variant pins the same full recompute PLUS the plan
    // fact that the optimizer answered it from the refreshed MV
    "matview_window_rewrite" ->
      """SELECT nation, day,
        |CAST(day_spend_dec AS DOUBLE) AS day_spend,
        |CAST(SUM(day_spend_dec) OVER (PARTITION BY nation ORDER BY day)
        |  AS DOUBLE) AS cum_spend,
        |true AS served_from_mv
        |FROM (
        |  SELECT n_name AS nation, o_orderdate AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_spend_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate BETWEEN DATE '1995-04-01' AND DATE '1995-05-31'
        |  GROUP BY 1, 2)
        |ORDER BY nation, day""".stripMargin,
    "matview_window_refresh" ->
      """SELECT nation, day,
        |CAST(day_spend_dec AS DOUBLE) AS day_spend,
        |CAST(SUM(day_spend_dec) OVER (PARTITION BY nation ORDER BY day)
        |  AS DOUBLE) AS cum_spend
        |FROM (
        |  SELECT n_name AS nation, o_orderdate AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_spend_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate BETWEEN DATE '1995-04-01' AND DATE '1995-05-31'
        |  GROUP BY 1, 2)
        |ORDER BY nation, day""".stripMargin,
    "matview_incremental_join" ->
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "merge_upsert" ->
      """WITH t AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |u AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |m AS (SELECT COALESCE(t.o_custkey, u.o_custkey) AS o_custkey,
        |  (COALESCE(t.n_orders, 0) + COALESCE(u.n_orders, 0))::BIGINT
        |    AS n_orders,
        |  COALESCE(t.spend, 0) + COALESCE(u.spend, 0) AS spend,
        |  CASE WHEN t.o_custkey IS NULL THEN 'inserted'
        |       WHEN u.o_custkey IS NULL THEN 'unchanged'
        |       ELSE 'updated' END AS merge_action
        |  FROM t FULL OUTER JOIN u ON t.o_custkey = u.o_custkey)
        |SELECT * FROM m
        |WHERE NOT (merge_action = 'unchanged' AND spend < 1000)
        |ORDER BY o_custkey""".stripMargin,
    "layout_zorder" ->
      """WITH o0 AS (SELECT o_orderkey, o_custkey::BIGINT AS ck,
        |  datediff('day', DATE '1992-01-01', o_orderdate)::BIGINT AS dy
        |  FROM orders),
        |mx AS (SELECT MAX(ck) AS ckmax, MAX(dy) AS dymax FROM o0),
        |norm AS (SELECT o_orderkey, ck, dy,
        |  (ck * 65535) // ckmax AS ck16, (dy * 65535) // dymax AS dy16
        |  FROM o0, mx),
        |z AS (SELECT *, ((((ck16 >> 0) & 1) << 0) | (((dy16 >> 0) & 1) << 1)) | ((((ck16 >> 1) & 1) << 2) | (((dy16 >> 1) & 1) << 3)) | ((((ck16 >> 2) & 1) << 4) | (((dy16 >> 2) & 1) << 5)) | ((((ck16 >> 3) & 1) << 6) | (((dy16 >> 3) & 1) << 7)) | ((((ck16 >> 4) & 1) << 8) | (((dy16 >> 4) & 1) << 9)) | ((((ck16 >> 5) & 1) << 10) | (((dy16 >> 5) & 1) << 11)) | ((((ck16 >> 6) & 1) << 12) | (((dy16 >> 6) & 1) << 13)) | ((((ck16 >> 7) & 1) << 14) | (((dy16 >> 7) & 1) << 15)) | ((((ck16 >> 8) & 1) << 16) | (((dy16 >> 8) & 1) << 17)) | ((((ck16 >> 9) & 1) << 18) | (((dy16 >> 9) & 1) << 19)) | ((((ck16 >> 10) & 1) << 20) | (((dy16 >> 10) & 1) << 21)) | ((((ck16 >> 11) & 1) << 22) | (((dy16 >> 11) & 1) << 23)) | ((((ck16 >> 12) & 1) << 24) | (((dy16 >> 12) & 1) << 25)) | ((((ck16 >> 13) & 1) << 26) | (((dy16 >> 13) & 1) << 27)) | ((((ck16 >> 14) & 1) << 28) | (((dy16 >> 14) & 1) << 29)) | ((((ck16 >> 15) & 1) << 30) | (((dy16 >> 15) & 1) << 31)) AS z FROM norm),
        |zf AS (SELECT ck, dy, (z >> 27) + 1 AS zfile FROM z),
        |dfl AS (SELECT ck, dy, (dy16 >> 11) + 1 AS dfile FROM z),
        |box AS (SELECT ckmax // 4 AS cklo, ckmax // 2 AS ckhi,
        |        dymax // 4 AS dylo, dymax // 2 AS dyhi FROM mx),
        |zt AS (SELECT COUNT(*) AS ftz FROM (
        |    SELECT zfile, MIN(ck) AS ck0, MAX(ck) AS ck1,
        |           MIN(dy) AS dy0, MAX(dy) AS dy1 FROM zf GROUP BY 1) t, box
        |  WHERE ck1 >= cklo AND ck0 <= ckhi AND dy1 >= dylo AND dy0 <= dyhi),
        |dt AS (SELECT COUNT(*) AS ftd FROM (
        |    SELECT dfile, MIN(ck) AS ck0, MAX(ck) AS ck1,
        |           MIN(dy) AS dy0, MAX(dy) AS dy1 FROM dfl GROUP BY 1) t, box
        |  WHERE ck1 >= cklo AND ck0 <= ckhi AND dy1 >= dylo AND dy0 <= dyhi),
        |rm AS (SELECT COUNT(*) AS rows_matched FROM o0, box
        |  WHERE ck BETWEEN cklo AND ckhi AND dy BETWEEN dylo AND dyhi),
        |ft AS (SELECT COUNT(DISTINCT zfile) AS files_total FROM zf)
        |SELECT rows_matched, files_total::BIGINT AS files_total,
        |ftz::BIGINT AS files_touched_zorder,
        |ftd::BIGINT AS files_touched_datesorted,
        |ftz::BIGINT AS scan_partitions_read,
        |TRUE AS pruned_scan_complete
        |FROM rm, zt, dt, ft""".stripMargin,
    "maintenance_compact" ->
      """SELECT COUNT(*) AS n_docs,
        |SUM(doc_id)::BIGINT AS id_sum,
        |SUM(length(text))::BIGINT AS text_chars,
        |64::BIGINT AS files_before,
        |4::BIGINT AS files_after
        |FROM documents""".stripMargin,
    // deltas replayed as the disjoint mod-3 predicates; the cumulative
    // table state is their running union
    "table_incremental_read" ->
      """WITH d AS (SELECT o_orderkey % 3 AS version,
        |  COUNT(*) AS delta_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS delta_spend
        |  FROM orders GROUP BY 1),
        |c AS (SELECT version, SUM(delta_rows)
        |    OVER (ORDER BY version)::BIGINT AS table_rows
        |  FROM d)
        |SELECT version::INTEGER AS version, delta_rows, delta_spend,
        |  table_rows
        |FROM d JOIN c USING (version) ORDER BY version""".stripMargin,
    // the lookup is pure row selection — bucketing only changes the
    // ACCESS path (pruned scan), never the result
    "lookup_bucket_pruned" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey IN (7, 500, 997)
        |ORDER BY o_orderkey""".stripMargin,
    // final table state replayed relationally (all other days + the
    // doubled restated day); the two physical facts are TRUE literals —
    // a full-table rewrite or a clobbered untouched partition flips
    // them false and fails the hash
    "table_partition_overwrite" ->
      """WITH base AS (SELECT date_trunc('day', ts)::DATE AS ev_day, value
        |              FROM events),
        |final AS (
        |  SELECT ev_day, value FROM base WHERE ev_day <> DATE '2024-01-15'
        |  UNION ALL
        |  SELECT ev_day, value * 2 FROM base
        |  WHERE ev_day = DATE '2024-01-15')
        |SELECT ev_day, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (ev_day = DATE '2024-01-15') AS restated,
        |  TRUE AS untouched_files_stable,
        |  TRUE AS restated_files_replaced
        |FROM final GROUP BY ev_day ORDER BY ev_day""".stripMargin,
    // the in-range aggregate replayed over the base table; the planning
    // facts are structurally determined (4 fixed ts cuts, the 10-day
    // range intersects shards 2 and 3 only) and pruned_equals_full is
    // the engine-side full-vs-pruned comparison — a pruning bug flips
    // it false and fails the hash
    "table_stats_pruning" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(2 AS BIGINT) AS dirs_read,
        |  CAST(4 AS BIGINT) AS dirs_total,
        |  TRUE AS pruned_equals_full
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the probed user's aggregate replayed over the base table with the
    // SAME probe derivation (largest user_id <= max/2); the planning
    // facts are structural — interleaved % 4 shards make zone keep all 4,
    // disjoint per-shard user sets make the bloom keep exactly 1 — and
    // pruned_equals_full is the engine-side full-vs-pruned comparison
    "table_point_lookup" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(1 AS BIGINT) AS dirs_read,
        |  CAST(4 AS BIGINT) AS zone_kept,
        |  CAST(4 AS BIGINT) AS dirs_total,
        |  TRUE AS pruned_equals_full
        |FROM events
        |WHERE user_id = (SELECT MAX(user_id) FROM events
        |                 WHERE user_id <= (SELECT MAX(user_id) // 2
        |                                   FROM events))
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the 5-day range aggregate replayed over the base table; the
    // compaction facts (6 fragments -> 1 dir, content preserved,
    // pre-compaction version readable, vacuum reclaiming exactly the 6
    // fragments) are structural, computed engine-side and pinned as
    // literals
    "table_compact_versions" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(6 AS BIGINT) AS dirs_before,
        |  CAST(1 AS BIGINT) AS dirs_after,
        |  TRUE AS content_preserved,
        |  TRUE AS old_version_readable,
        |  CAST(6 AS BIGINT) AS dead_removed,
        |  CAST(1 AS BIGINT) AS live_dirs
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the ingested table must equal the full fixture; the exactly-once
    // facts (4 micro-batch versions, the replayed batch skipped, deltas
    // partitioning the table, the in-chunk zone probe reading 1 of 4
    // dirs) are structural — a duplicate append breaks BOTH n_versions
    // and the per-type counts
    "table_stream_ingest" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  TRUE AS replay_skipped,
        |  TRUE AS deltas_partition,
        |  CAST(1 AS BIGINT) AS probe_dirs_read,
        |  CAST(4 AS BIGINT) AS probe_dirs_total
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the in-range aggregate replayed over the base table; dirs_read = 2
    // is structural (fixed ts cuts, the 6-day range intersects shards 1
    // and 2 only) and is read off the OPTIMIZED PLAN's file index — the
    // rule not firing reads 4 and fails this literal
    "table_auto_skipping" ->
      """SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(2 AS BIGINT) AS dirs_read,
        |  CAST(4 AS BIGINT) AS dirs_total,
        |  TRUE AS pruned_equals_full
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-09 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the non-null aggregate and the null-row count replayed over the
    // derived nullable column; both dirs_* literals are structural (3
    // shards, each probe direction prunes exactly its provably-empty
    // one) and read off the OPTIMIZED plan's file index — the rule not
    // consulting null counts reads 3 and fails the literal
    "table_null_skipping" ->
      """WITH ev AS (SELECT event_type,
        |    CASE WHEN user_id % 3 <> 0 THEN value END AS attr
        |  FROM events)
        |SELECT event_type, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(attr AS DECIMAL(18,2))) AS DOUBLE) AS sum_attr,
        |  CAST(2 AS BIGINT) AS dirs_notnull,
        |  CAST(2 AS BIGINT) AS dirs_isnull,
        |  CAST(3 AS BIGINT) AS dirs_total,
        |  (SELECT COUNT(*)::BIGINT FROM ev WHERE attr IS NULL)
        |    AS null_rows,
        |  TRUE AS pruned_equals_full
        |FROM ev WHERE attr IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the band aggregate replayed over the base table; dir counts are
    // structural (3 ingest appends, 4 clustered shards) and the three
    // booleans pin the layout claim — unclustered keeps all, clustered
    // prunes, pruning loses nothing (engine-side full-vs-pruned compare)
    "table_cluster_pruning" ->
      """SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(3 AS BIGINT) AS ingest_dirs,
        |  CAST(4 AS BIGINT) AS clustered_dirs,
        |  TRUE AS unclustered_kept_all,
        |  TRUE AS cluster_pruned,
        |  TRUE AS pruned_equals_full
        |FROM orders
        |WHERE o_totalprice >= 1000.00 AND o_totalprice <= 50000.00
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the retained version's predicate over the base table; the vacuum
    // accounting is structurally determined (2 appends + 1 overwrite,
    // retain latest => d0/d1 dead, d2 live)
    "table_vacuum" ->
      """SELECT 2 AS version, COUNT(*)::BIGINT AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend,
        |  2::BIGINT AS dirs_removed, 1::BIGINT AS dirs_live
        |FROM orders
        |WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus <> 'F'""".stripMargin,
    // each version's visible state replayed as a predicate over the base
    // table: v0 = first append, v1 = both appends, v2 = the rewrite with
    // the DELETE applied
    "table_time_travel" ->
      """WITH s0 AS (SELECT 0 AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |s1 AS (SELECT 1 AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1)),
        |s2 AS (SELECT 2 AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |  FROM orders
        |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus <> 'F')
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |UNION ALL SELECT * FROM s2 ORDER BY version""".stripMargin,
    // v0 predates the column (n_with_prio pinned 0); v1's merged read
    // counts the column only on the second shard
    "table_schema_evolution" ->
      """WITH s0 AS (SELECT 0 AS version, COUNT(*) AS n_rows,
        |  0::BIGINT AS n_with_prio,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |s1 AS (SELECT 1 AS version, COUNT(*) AS n_rows,
        |  SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_with_prio,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
        |SELECT * FROM s0 UNION ALL SELECT * FROM s1
        |ORDER BY version""".stripMargin,
    "ingest_schema_evolution" ->
      """SELECT batch, COUNT(*) AS n_rows,
        |COUNT(n_chars) AS n_with_chars,
        |COALESCE(SUM(n_chars), 0)::BIGINT AS chars_sum
        |FROM (
        |  SELECT 1 AS batch, doc_id, NULL::BIGINT AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 2, doc_id, length(text)::BIGINT
        |  FROM documents WHERE doc_id % 2 = 1)
        |GROUP BY batch ORDER BY batch""".stripMargin,
    "ingest_orc_roundtrip" ->
      """SELECT COUNT(*) AS n_docs,
        |SUM(doc_id)::BIGINT AS id_sum,
        |SUM(length(text))::BIGINT AS text_chars,
        |COUNT(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin,
    // the injected suffix replayed byte-for-byte: ', "q" \ |' + newline +
    // ' tail' (15 extra chars per doc)
    "ingest_csv_quoted" ->
      """SELECT COUNT(*) AS n_docs,
        |SUM(doc_id)::BIGINT AS id_sum,
        |SUM(length(text || ', "q" \ |' || chr(10) || ' tail'))::BIGINT
        |  AS text_chars,
        |COUNT(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin,
    // full recompute over ALL orders — equality proves the delta merge
    "matview_incremental_refresh" ->
      """SELECT o_orderpriority,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_bucketed" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |true AS bucket_join_no_exchange
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "matview_avg_rewrite" ->
      """SELECT o_orderpriority,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_revenue,
        |COUNT(*) AS n, true AS served_from_mv
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "matview_filter_rewrite" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |true AS served_from_mv
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,
    "matview_cost_choice" ->
      """SELECT l_returnflag, COUNT(*) AS n_items, true AS chose_narrow_mv
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "matview_time_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders, true AS served_from_mv
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "constraint_detect" ->
      """SELECT * FROM (VALUES
        |  ('negative_price', 3::BIGINT),
        |  ('null_custkey', 5::BIGINT),
        |  ('orphan_fk', 11::BIGINT),
        |  ('pk_dupes', 7::BIGINT)
        |) t(constraint_name, violations) ORDER BY constraint_name""".stripMargin,
    "matview_rollup_rewrite" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |true AS served_from_mv
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // KMV mergeability: the k-bounded union of the monthly sketches IS
    // the one-shot sketch over all rows, so the oracle replays the
    // SplitMix64 hash + per-flag rank directly from lineitem (the
    // agg_kmv_distinct chain at K=256, constants interpolated from
    // KmvAgg); the xor-fold checksum pins the merged sketch content
    "matview_kmv_rewrite" ->
      s"""WITH z0s AS (SELECT DISTINCT l_returnflag, l_orderkey::UBIGINT AS z0 FROM lineitem),
        |t1 AS (SELECT l_returnflag, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM z0s),
        |t2 AS (SELECT l_returnflag, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |hx AS (SELECT DISTINCT l_returnflag,
        |    CAST(xor(z2, z2 >> 31) >> 1 AS BIGINT) AS h FROM t2),
        |r AS (SELECT l_returnflag, h,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM hx),
        |g AS (SELECT l_returnflag,
        |  CAST(CASE WHEN MAX(rn) > ${graft.functions.KmvAgg.kSql}
        |    THEN ${graft.functions.KmvAgg.kSql} ELSE MAX(rn) END
        |    AS INTEGER) AS n_sketch,
        |  MAX(rn) AS n_distinct,
        |  MAX(CASE WHEN rn = ${graft.functions.KmvAgg.kSql} THEN h END) AS h_k,
        |  bit_xor(CASE WHEN rn <= ${graft.functions.KmvAgg.kSql} THEN h END)
        |    AS h_checksum
        | FROM r GROUP BY 1)
        |SELECT l_returnflag, n_sketch,
        |  CASE WHEN n_distinct >= ${graft.functions.KmvAgg.kSql}
        |       THEN round(${
          graft.functions.KmvAgg.estNumeratorSql(graft.functions.KmvAgg.K)}
        |         / CAST(h_k AS DOUBLE), 6)
        |       ELSE CAST(n_sketch AS DOUBLE) END AS est_distinct,
        |  h_checksum, true AS served_from_mv
        |FROM g ORDER BY l_returnflag""".stripMargin,
    // HLL mergeability: element-wise MAX of the monthly register vectors
    // IS the one-shot register vector over all rows (each register is a
    // pure MAX over the hash set), so the oracle replays the registers
    // directly from lineitem — the agg_hll_distinct grid replay with
    // constants interpolated from HllAgg
    "matview_hll_rewrite" ->
      s"""WITH z0s AS (SELECT DISTINCT l_returnflag AS grp,
        |    l_orderkey::UBIGINT AS z0 FROM lineitem),
        |t1 AS (SELECT grp, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM z0s),
        |t2 AS (SELECT grp, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |hx AS (SELECT DISTINCT grp,
        |    CAST(xor(z2, z2 >> 31) >> 1 AS BIGINT) AS h FROM t2),
        |br AS (SELECT grp, h >> ${graft.functions.HllAgg.WINDOW} AS b,
        |    MAX(${graft.functions.HllAgg.rhoSql("h")}) AS reg
        |  FROM hx GROUP BY 1, 2),
        |grid AS (SELECT g.grp, r.range AS b
        |  FROM (SELECT DISTINCT grp FROM hx) g
        |  CROSS JOIN range(${graft.functions.HllAgg.M}) r),
        |regs AS (SELECT grid.grp, grid.b, COALESCE(br.reg, 0) AS reg
        |  FROM grid LEFT JOIN br ON grid.grp = br.grp AND grid.b = br.b),
        |hagg AS (SELECT grp,
        |  SUM(CAST((CAST(1 AS BIGINT) <<
        |    (${graft.functions.HllAgg.RHO_MAX} - reg)) AS HUGEINT)) AS s,
        |  CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INTEGER)
        |    AS n_zero,
        |  CAST(SUM((b + 1) * reg) AS BIGINT) AS reg_checksum
        | FROM regs GROUP BY 1)
        |SELECT grp AS l_returnflag, n_zero, reg_checksum,
        |  ${graft.functions.HllAgg.estimateSql("s", "n_zero")}
        |    AS est_distinct,
        |  true AS served_from_mv
        |FROM hagg ORDER BY 1""".stripMargin,
    // the merged monthly counters are bit-identical to a one-shot sketch
    // over the rows (element-wise addition), so the oracle replays the
    // agg_quantile_sketch integer bucket map directly from lineitem; the
    // served_from_mv plan fact pins that the engine read sketch vectors
    "matview_sketch_rewrite" ->
      """WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |g AS (SELECT l_returnflag, COUNT(*)::BIGINT AS n FROM li GROUP BY 1),
        |b AS (SELECT l_returnflag,
        |    CASE WHEN v < 32 THEN v
        |         ELSE 32 + (length(bin(v)) - 1 - 5) * 32
        |           + ((v >> (length(bin(v)) - 1 - 5)) - 32) END AS idx,
        |    COUNT(*)::BIGINT AS cnt
        |  FROM li GROUP BY 1, 2),
        |geo AS (SELECT l_returnflag, idx, cnt,
        |    CASE WHEN idx < 32 THEN CAST(1 AS BIGINT)
        |         ELSE (CAST(1 AS BIGINT) << CAST((idx - 32) // 32 AS INT))
        |    END AS width,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY idx) AS cum
        |  FROM b),
        |geo2 AS (SELECT l_returnflag, cum,
        |    CASE WHEN idx < 32 THEN CAST(idx AS BIGINT)
        |         ELSE CAST(32 + (idx - 32) % 32 AS BIGINT) * width
        |           + (width - 1) // 2 END AS mid
        |  FROM geo),
        |t AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9), (0.99)) v(q)),
        |est AS (SELECT geo2.l_returnflag, t.q, MIN(geo2.mid) AS est_cents
        |  FROM geo2 JOIN g ON geo2.l_returnflag = g.l_returnflag
        |  JOIN t ON geo2.cum >= CEIL(t.q * g.n)
        |  GROUP BY 1, 2)
        |SELECT est.l_returnflag, est.q,
        |  CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
        |  g.n AS n_rows, true AS served_from_mv
        |FROM est JOIN g ON est.l_returnflag = g.l_returnflag
        |ORDER BY 1, 2""".stripMargin,
    // the quarterly re-aggregation of the stored monthly sketches must be
    // bit-identical to one-shot per-quarter sketches over the base rows —
    // so the oracle replays the exact bucket geometry per (flag, quarter)
    "matview_sketch_rollup" ->
      """WITH li AS (SELECT l_returnflag,
        |    date_trunc('quarter', l_shipdate) AS quarter,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |g AS (SELECT l_returnflag, quarter, COUNT(*)::BIGINT AS n
        |  FROM li GROUP BY 1, 2),
        |b AS (SELECT l_returnflag, quarter,
        |    CASE WHEN v < 32 THEN v
        |         ELSE 32 + (length(bin(v)) - 1 - 5) * 32
        |           + ((v >> (length(bin(v)) - 1 - 5)) - 32) END AS idx,
        |    COUNT(*)::BIGINT AS cnt
        |  FROM li GROUP BY 1, 2, 3),
        |geo AS (SELECT l_returnflag, quarter, idx, cnt,
        |    CASE WHEN idx < 32 THEN CAST(1 AS BIGINT)
        |         ELSE (CAST(1 AS BIGINT) << CAST((idx - 32) // 32 AS INT))
        |    END AS width,
        |    SUM(cnt) OVER (PARTITION BY l_returnflag, quarter
        |      ORDER BY idx) AS cum
        |  FROM b),
        |geo2 AS (SELECT l_returnflag, quarter, cum,
        |    CASE WHEN idx < 32 THEN CAST(idx AS BIGINT)
        |         ELSE CAST(32 + (idx - 32) % 32 AS BIGINT) * width
        |           + (width - 1) // 2 END AS mid
        |  FROM geo),
        |t AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9)) v(q)),
        |est AS (SELECT geo2.l_returnflag, geo2.quarter, t.q,
        |    MIN(geo2.mid) AS est_cents
        |  FROM geo2 JOIN g ON geo2.l_returnflag = g.l_returnflag
        |    AND geo2.quarter = g.quarter
        |  JOIN t ON geo2.cum >= CEIL(t.q * g.n)
        |  GROUP BY 1, 2, 3)
        |SELECT est.l_returnflag, est.quarter, est.q,
        |  CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
        |  g.n AS n_rows, true AS served_from_mv
        |FROM est JOIN g ON est.l_returnflag = g.l_returnflag
        |  AND est.quarter = g.quarter
        |ORDER BY 1, 2, 3""".stripMargin,
    "matview_auto_rewrite" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |true AS served_from_mv
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "constraint_validate" ->
      """SELECT * FROM (
        |  SELECT 'pk_orders' AS constraint_name, COALESCE((
        |    SELECT SUM(c - 1) FROM (SELECT COUNT(*) AS c FROM orders
        |      GROUP BY o_orderkey HAVING COUNT(*) > 1)), 0)::BIGINT AS violations
        |  UNION ALL SELECT 'pk_lineitem', COALESCE((
        |    SELECT SUM(c - 1) FROM (SELECT COUNT(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)), 0)::BIGINT
        |  UNION ALL SELECT 'notnull_custkey',
        |    (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)::BIGINT
        |  UNION ALL SELECT 'check_price_positive',
        |    (SELECT COUNT(*) FROM orders
        |     WHERE NOT (o_totalprice > 0) OR o_totalprice IS NULL)::BIGINT
        |  UNION ALL SELECT 'fk_orders_customer',
        |    (SELECT COUNT(*) FROM orders WHERE NOT EXISTS
        |      (SELECT 1 FROM customer WHERE c_custkey = o_custkey))::BIGINT
        |  UNION ALL SELECT 'fk_lineitem_orders',
        |    (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS
        |      (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))::BIGINT
        |) ORDER BY constraint_name""".stripMargin,
    "ingest_tsv" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    // the two planted corrupt lines are constants; everything else is
    // derivable from the clean documents table
    "ingest_jsonl" ->
      """SELECT COUNT(*)::BIGINT AS n_parsed, 2::BIGINT AS n_corrupt,
        |CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM documents""".stripMargin,
    "ingest_partitioned_prune" ->
      """SELECT COUNT(*)::BIGINT AS rows_1996, 1::BIGINT AS partitions_read,
        |(SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders)::BIGINT
        |  AS partitions_total,
        |true AS pruned_at_metadata
        |FROM orders WHERE year(o_orderdate) = 1996""".stripMargin,
    "ddl_create_insert" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    // bpchar replay: DuckDB has no padded char type, so storage is rpad
    // and the comparisons evaluate on the trimmed name — the definition
    // of PG's pad-insensitive bpchar compare
    "ddl_char_storage" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%B') AS mn,
        |  COUNT(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT rpad(mn, 9, ' ') AS month_name, 9 AS stored_len, n_orders,
        |mn IN ('April','May','September') AS in_unpadded,
        |mn = 'May' AS eq_unpadded
        |FROM m ORDER BY month_name""".stripMargin,
    "create_matview" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "update_where" ->
      """SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTO'
        |ELSE c_mktsegment END AS c_mktsegment, COUNT(*) AS n
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "ddl_drop_cascade" ->
      """SELECT * FROM (VALUES ('mv_top_spend', 1, false), ('mv_base_spend', 2, false))
        |t(name, drop_order, any_survived) ORDER BY drop_order""".stripMargin,
    "analyze_stats" ->
      """SELECT (SELECT COUNT(*) FROM region) AS rowcount_stats,
        |(SELECT COUNT(*) FROM region) AS rowcount_actual,
        |true AS stats_match""".stripMargin,
    // the strategies are plan facts pinned as literals (the explain_plan
    // precedent); the join cardinality is replayed for real — a
    // non-flipping plan regresses the Spark side's strings and fails here
    "join_bloom_pruned" ->
      """SELECT '1-URGENT' AS o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_price,
        |true AS bloom_pruned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "stats_join_flip" ->
      """SELECT 'sort_merge_join' AS join_no_stats,
        |'broadcast_hash_join' AS join_with_stats,
        |(SELECT COUNT(*) FROM orders JOIN customer
        |   ON o_custkey = c_custkey WHERE c_nationkey = 5)::BIGINT AS n_rows,
        |true AS flipped""".stripMargin,
    // each action's outcome is derivable from the referencing-row count
    "fk_referential_actions" ->
      """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |ref AS (SELECT COUNT(*) AS n FROM orders
        |        WHERE o_custkey IN (SELECT c_custkey FROM del)),
        |tot AS (SELECT COUNT(*) AS n FROM orders)
        |SELECT * FROM (
        |  SELECT 'delete_cascade' AS action, ref.n AS affected_rows,
        |         tot.n - ref.n AS remaining_child_rows,
        |         0::BIGINT AS null_fk_rows, true AS delete_allowed
        |  FROM ref, tot
        |  UNION ALL SELECT 'delete_restrict', 0::BIGINT, tot.n, 0::BIGINT,
        |         ref.n = 0 FROM ref, tot
        |  UNION ALL SELECT 'delete_set_null', ref.n, tot.n, ref.n, true
        |  FROM ref, tot
        |  UNION ALL SELECT 'update_cascade', ref.n, tot.n, 0::BIGINT, true
        |  FROM ref, tot
        |) ORDER BY action""".stripMargin,
    // golden instrumented plan of the frozen explainFixture: per-operator
    // node count and actual rows produced. The node counts and metric
    // names are plan-shape constants (the fixture's plan is frozen by
    // construction), but the ROW counts are SF-determined — r14's frozen
    // sf0.01 literals failed on any other gate SF by construction — so
    // the golden now DERIVES every count from the same tables: the 2
    // scans emit |lineitem| + |part|, the filters keep the
    // quantity/not-null survivors, the broadcast side is the filtered
    // part count, the join emits the equi-match count, and the
    // FINAL-mode aggregate's brand groups read 2x because the output
    // sort's range sampler executes its child twice — a
    // partition-invariant 2x (partial-mode aggregate output varies with
    // the file-split count — core-count-dependent — so that node reports
    // NULL); exchanges/sort/project expose no row metric
    "explain_analyze" ->
      """WITH li AS (SELECT COUNT(*) AS n FROM lineitem),
        |pt AS (SELECT COUNT(*) AS n FROM part),
        |fl AS (SELECT COUNT(*) AS n FROM lineitem
        |       WHERE l_quantity >= 25 AND l_partkey IS NOT NULL),
        |fp AS (SELECT COUNT(*) AS n FROM part WHERE p_partkey IS NOT NULL),
        |j AS (SELECT COUNT(*) AS n, COUNT(DISTINCT p_brand) AS g
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE l_quantity >= 25)
        |SELECT * FROM (
        |  SELECT 'BroadcastExchange' AS operator, 1::BIGINT AS n_nodes,
        |    (SELECT n FROM fp)::BIGINT AS rows_out,
        |    'broadcastTime+buildTime+collectTime' AS time_metrics
        |  UNION ALL SELECT 'BroadcastHashJoin', 1::BIGINT,
        |    (SELECT n FROM j), NULL::VARCHAR
        |  UNION ALL SELECT 'ColumnarToRow', 2::BIGINT,
        |    (SELECT li.n + pt.n FROM li, pt), NULL::VARCHAR
        |  UNION ALL SELECT 'FileSourceScan', 2::BIGINT,
        |    (SELECT li.n + pt.n FROM li, pt), 'metadataTime+scanTime'
        |  UNION ALL SELECT 'Filter', 2::BIGINT,
        |    (SELECT fl.n + fp.n FROM fl, fp), NULL::VARCHAR
        |  UNION ALL SELECT 'HashAggregate', 2::BIGINT,
        |    (SELECT 2 * g FROM j), 'aggTime'
        |  UNION ALL SELECT 'Project', 2::BIGINT, NULL::BIGINT, NULL::VARCHAR
        |  UNION ALL SELECT 'ShuffleExchange', 2::BIGINT, NULL::BIGINT,
        |    'fetchWaitTime+remoteMergedReqsDuration+remoteReqsDuration+shuffleWriteTime'
        |  UNION ALL SELECT 'Sort', 1::BIGINT, NULL::BIGINT, 'sortTime'
        |) t ORDER BY operator""".stripMargin,
    // golden operator multiset of the frozen explainFixture's initial
    // physical plan: one hint-pinned broadcast join, 2 scans with their
    // pushed filters, the partial+final HashAggregate pair, and the
    // output sort — frozen by construction, so intentional plan tuning
    // on live keys (the 5-way join's hints/thresholds) can never break
    // the introspection goldens again
    "explain_plan" ->
      """SELECT * FROM (VALUES
        |  ('BroadcastHashJoin', 1::BIGINT),
        |  ('FileSourceScan', 2::BIGINT),
        |  ('Filter', 2::BIGINT),
        |  ('HashAggregate', 2::BIGINT),
        |  ('Project', 3::BIGINT),
        |  ('Sort', 1::BIGINT)
        |) t(operator, n_nodes) ORDER BY operator""".stripMargin,
  )
}
