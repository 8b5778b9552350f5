package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.matview.Snapshots

/** Contracts of the commit-log table format behind `table_time_travel`:
  * version visibility, snapshot isolation of pinned readers, append
  * reuse of immutable data dirs, and the manifest-lands-last atomicity
  * story. */
class SnapshotsSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  private val root = TestSpark.scratch + "/test_snaps"

  test("append/overwrite commits version correctly and time travel holds") {
    val snap = new Snapshots(spark, root)
    val t = "spec_tbl"
    snap.drop(t)
    assert(snap.latest(t) == -1)

    val docs = Tables.load(spark, SF, "documents")
      .select(col("doc_id"), col("lang"))
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)

    assert(snap.commitAppend(t, a) == 0)
    val v0Count = snap.read(t, 0).count()
    assert(v0Count == a.count())

    assert(snap.commitAppend(t, b) == 1)
    assert(snap.read(t, 1).count() == docs.count())
    // the append reused v0's data dir: two dirs listed, d0 among them
    assert(snap.read(t, 1).inputFiles.exists(_.contains("/d0/")))

    // overwrite = delete-as-rewrite; old versions stay readable
    assert(snap.commitOverwrite(t, snap.read(t, 1)
      .filter(col("lang") === "en")) == 2)
    val v2 = snap.read(t, 2)
    assert(v2.count() == docs.filter(col("lang") === "en").count())
    assert(!v2.inputFiles.exists(f =>
      f.contains("/d0/") || f.contains("/d1/")))

    // snapshot isolation: the pinned v0 read still sees exactly the
    // first append, after two later commits
    assert(snap.read(t, 0).count() == v0Count)
    assert(snap.latest(t) == 2)
    snap.drop(t)
  }

  test("readDelta partitions the table exactly across append versions") {
    val snap = new Snapshots(spark, root)
    val t = "spec_cdc"
    snap.drop(t)
    val docs = Tables.load(spark, SF, "documents").select("doc_id")
    (0 to 2).foreach(m =>
      snap.commitAppend(t, docs.filter(col("doc_id") % 3 === m)))
    val deltas = (0 to 2).map(v => snap.readDelta(t, v))
    // each delta is exactly its commit's slice, and together they
    // partition the final table
    deltas.zipWithIndex.foreach { case (df, m) =>
      assert(df.count() == docs.filter(col("doc_id") % 3 === m).count())
    }
    assert(deltas.map(_.count()).sum == snap.readLatest(t).count())
    // a delta never re-reads an earlier commit's files
    assert(!snap.readDelta(t, 2).inputFiles.exists(f =>
      f.contains("/d0/") || f.contains("/d1/")))
    snap.drop(t)
  }

  test("schema evolution: new column reads NULL on old shards, absent on old versions") {
    val snap = new Snapshots(spark, root)
    val t = "spec_evo"
    snap.drop(t)
    val docs = Tables.load(spark, SF, "documents")
    snap.commitAppend(t, docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")))
    snap.commitAppend(t, docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang")))
    // pre-evolution version: the column does not exist at all
    assert(!snap.readEvolved(t, 0).columns.contains("lang"))
    // post-evolution merged read: old shard surfaces NULL for it
    val v1 = snap.readEvolved(t, 1)
    assert(v1.columns.contains("lang"))
    assert(v1.filter(col("lang").isNull).count() ==
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(v1.count() == docs.count())
    snap.drop(t)
  }

  test("a data dir without its manifest is invisible (atomicity)") {
    val snap = new Snapshots(spark, root)
    val t = "spec_torn"
    snap.drop(t)
    snap.commitAppend(t, Tables.load(spark, SF, "region"))
    // simulate a writer that crashed after the data write, before the
    // manifest move: the orphan dir must not change the visible table
    Files.createDirectories(Paths.get(s"$root/$t/d99"))
    assert(snap.latest(t) == 0)
    assert(snap.readLatest(t).count() ==
      Tables.load(spark, SF, "region").count())
    snap.drop(t)
  }

  test("stray non-numeric manifest-shaped names neither crash latest() " +
      "nor shift the version (r14 review find)") {
    val snap = new Snapshots(spark, root)
    val t = "spec_stray"
    snap.drop(t)
    snap.commitAppend(t, Tables.load(spark, SF, "region"))
    // pre-fix, "v.manifest" (empty numeric part) threw NumberFormat-
    // Exception inside latest(), breaking EVERY subsequent read of the
    // table; a non-numeric "vabc.manifest" likewise
    Files.write(Paths.get(s"$root/$t/_log/v.manifest"),
      "garbage".getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/$t/_log/vabc.manifest"),
      "garbage".getBytes("UTF-8"))
    assert(snap.latest(t) == 0)
    assert(snap.readLatest(t).count() ==
      Tables.load(spark, SF, "region").count())
    snap.drop(t)
  }

  test("vacuum: shared dirs survive, expired versions die, retained bytes intact") {
    val snap = new Snapshots(spark, root)
    val t = "spec_vacuum"
    snap.drop(t)
    val docs = Tables.load(spark, SF, "documents").select(col("doc_id"))
    snap.commitAppend(t, docs.filter(col("doc_id") % 3 === 0))
    snap.commitAppend(t, docs.filter(col("doc_id") % 3 === 1))
    snap.commitOverwrite(t, snap.read(t, 1).filter(col("doc_id") % 2 === 0))
    val before = snap.read(t, 2).collect().map(_.getLong(0)).sorted.toSeq
    // retain from v1: v1's manifest still references d0 (append reuse),
    // so NOTHING is deletable even though v0's manifest goes away
    val (r1, l1) = snap.vacuum(t, 1)
    assert(r1 == 0, s"shared data dir deleted by vacuum: removed $r1")
    assert(snap.read(t, 1).inputFiles.exists(_.contains("/d0/")))
    // retain only the overwrite: d0/d1 now dead, d2 live
    val (r2, l2) = snap.vacuum(t, 2)
    assert(r2 == 2 && l2 == 1, s"expected (2 dead, 1 live), got ($r2, $l2)")
    assert(snap.read(t, 2).collect().map(_.getLong(0)).sorted.toSeq == before)
    intercept[Exception] { snap.read(t, 0).count() }
    intercept[Exception] { snap.read(t, 1).count() }
  }

  test("zone stats: range reads prune exactly the non-intersecting dirs " +
      "and lose no rows vs the full scan") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_zone"
    snap.drop(t)
    // three shards of known disjoint id ranges
    def shard(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"v$i")).toDF("id", "payload")
    snap.commitAppendStats(t, shard(0, 100), Seq("id"))
    snap.commitAppendStats(t, shard(100, 200), Seq("id"))
    snap.commitAppendStats(t, shard(200, 300), Seq("id"))
    val v = snap.latest(t)
    // a range inside shard 1 only
    val one = snap.readPruned(t, v, "id", "120", "150")
    assert(one.dirsRead == 1 && one.dirsTotal == 3)
    assert(one.df.filter(col("id").between(120, 150)).count() == 31)
    // boundary values stay readable (closed-interval contract): a point
    // lookup of a shard's max must keep that shard
    val pt = snap.readPruned(t, v, "id", "99", "99")
    assert(pt.dirsRead == 1)
    assert(pt.df.filter(col("id") === 99).count() == 1)
    // spanning range: prune keeps shards 0 and 1; rows equal full scan
    val span = snap.readPruned(t, v, "id", "50", "150")
    assert(span.dirsRead == 2)
    assert(span.df.filter(col("id").between(50, 150)).count() ==
      snap.read(t, v).filter(col("id").between(50, 150)).count())
    // out-of-range probe reads nothing but keeps the schema
    val none = snap.readPruned(t, v, "id", "900", "950")
    assert(none.dirsRead == 0 && none.df.count() == 0)
    assert(none.df.columns.toSeq == Seq("id", "payload"))
  }

  test("zone stats: a dir committed without stats is conservatively kept, " +
      "and a probed column with no stats line never prunes") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_zone_legacy"
    snap.drop(t)
    snap.commitAppendStats(t,
      (0L until 50L).map(i => (i, i * 2)).toDF("id", "other"), Seq("id"))
    // legacy commit: no _zstats at all
    snap.commitAppend(t, (100L until 150L).map(i => (i, i * 2))
      .toDF("id", "other"))
    val v = snap.latest(t)
    // probe far outside shard 0's range: shard 0 prunes, the stats-less
    // shard must survive
    val pr = snap.readPruned(t, v, "id", "500", "600")
    assert(pr.dirsRead == 1 && pr.dirsTotal == 2)
    assert(pr.df.count() == 50)
    // probing a column that exists but was never stat'd prunes nothing
    val other = snap.readPruned(t, v, "other", "5000", "6000")
    assert(other.dirsRead == 2)
  }

  test("bloom sidecar: point lookups prune interleaved shards zone maps " +
      "cannot, with no false negatives") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_bloom"
    snap.drop(t)
    // three shards with fully interleaved id RANGES (even ids, split by
    // id % 3) but disjoint id SETS — the exact shape where [min, max] is
    // useless; odd mid-range values are genuinely absent everywhere
    val ids = (0L until 600L by 2)
    (0 until 3).foreach { j =>
      snap.commitAppendStats(t,
        ids.filter(_ % 3 == j).map(i => (i, s"v$i")).toDF("id", "payload"),
        Seq("id"), bloomCols = Seq("id"))
    }
    val v = snap.latest(t)
    // mid-range probe: zone keeps all 3, bloom keeps exactly id's shard
    val pr = snap.readPrunedEq(t, v, "id", "152")
    assert(pr.zoneKept == 3 && pr.dirsTotal == 3)
    assert(pr.dirsRead == 1)
    assert(pr.df.filter(col("id") === 152).count() == 1)
    // every present id must be found in its surviving dirs (no false
    // negatives — the bloom contract)
    Seq(0L, 2L, 4L, 598L).foreach { id =>
      val p = snap.readPrunedEq(t, v, "id", id.toString)
      assert(p.df.filter(col("id") === id).count() == 1, s"lost id $id")
    }
    // an ABSENT mid-range value: zone keeps all 3 (151 is inside every
    // shard's span), bloom rejects all — deterministic for this fixed
    // data + hash family
    val absent = snap.readPrunedEq(t, v, "id", "151")
    assert(absent.zoneKept == 3 && absent.dirsRead == 0)
    // and a value outside every span is zone-pruned before blooms run
    val far = snap.readPrunedEq(t, v, "id", "150000")
    assert(far.zoneKept == 0 && far.dirsRead == 0)
  }

  test("txn commits are exactly-once: a replayed txn id is a no-op, a new " +
      "id appends, and txn-less commits never collide") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_txn"
    snap.drop(t)
    def batch(lo: Long) = (lo until lo + 10L).map(i => (i, i)).toDF("id", "v")
    assert(snap.commitAppendStats(t, batch(0), Seq("id"),
      txn = Some("b0")) == 0)
    assert(snap.commitAppendStats(t, batch(10), Seq("id"),
      txn = Some("b1")) == 1)
    // replay of b1: same version back, no new commit, data unchanged
    assert(snap.commitAppendStats(t, batch(10), Seq("id"),
      txn = Some("b1")) == 1)
    assert(snap.latest(t) == 1)
    assert(snap.readLatest(t).count() == 20)
    // a NEW txn id still appends
    assert(snap.commitAppendStats(t, batch(20), Seq("id"),
      txn = Some("b2")) == 2)
    // txn-less commits are unaffected by recorded ids
    assert(snap.commitAppendStats(t, batch(30), Seq("id")) == 3)
    assert(snap.commitAppendStats(t, batch(30), Seq("id")) == 4)
    // 5 effective commits x 10 rows (the b1 replay contributed nothing;
    // the duplicate txn-LESS commit legitimately appended again)
    assert(snap.readLatest(t).count() == 50)
  }

  test("zone stats reject TIMESTAMP_NTZ loudly: the session-zone shift " +
      "would make pruning unsound off-UTC") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_ntz"
    snap.drop(t)
    val df = Seq(1L, 2L).toDF("id")
      .withColumn("tn", org.apache.spark.sql.functions.expr(
        "timestamp_ntz '2024-01-01 00:00:00'"))
    val e = intercept[IllegalArgumentException] {
      snap.commitAppendStats(t, df, Seq("tn"))
    }
    assert(e.getMessage.contains("zone stats unsupported"))
  }

  test("txn guard survives compaction: a micro-batch replayed AFTER the " +
      "table was compacted is still a no-op") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_txn_compact"
    snap.drop(t)
    def batch(lo: Long) = (lo until lo + 10L).map(i => (i, i)).toDF("id", "v")
    (0 until 3).foreach { j =>
      snap.commitAppendStats(t, batch(j * 10L), Seq("id"),
        txn = Some(s"b$j"))
    }
    val cv = snap.compact(t, Seq("id"))
    assert(snap.manifestDirs(t, cv) == 1)
    // the at-least-once replay the guard exists for — delivered after
    // maintenance ran
    assert(snap.commitAppendStats(t, batch(10L), Seq("id"),
      txn = Some("b1")) == cv)
    assert(snap.latest(t) == cv)
    assert(snap.readLatest(t).count() == 30)
    // a genuinely new batch still lands
    assert(snap.commitAppendStats(t, batch(30L), Seq("id"),
      txn = Some("b3")) == cv + 1)
    assert(snap.readLatest(t).count() == 40)
  }

  test("compactClustered: one atomic overwrite into range-disjoint " +
      "shards, nulls ride shard 0, no row lost, history readable") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_cluster"
    snap.drop(t)
    // two interleaved appends; v is nullable (every 7th row)
    (0 until 2).foreach { j =>
      snap.commitAppendStats(t,
        (0 until 100).map { i =>
          val k = j * 100L + i
          (k, if (i % 7 == 0) None else Some((i * 37 % 100).toLong))
        }.toDF("id", "v"), Seq("v"))
    }
    val nBefore = snap.readLatest(t).count()
    val nullsBefore = snap.readLatest(t).filter(col("v").isNull).count()
    val preV = snap.latest(t)
    val v = snap.compactClustered(t, "v", 3, Seq("v"))
    assert(snap.manifestDirs(t, v) == 3)
    // nothing lost, nulls included
    assert(snap.readLatest(t).count() == nBefore)
    assert(snap.readLatest(t).filter(col("v").isNull).count() == nullsBefore)
    // shard value spans are disjoint and ordered; nulls counted in shard 0
    val zs = snap.versionDirs(t, v).map(dir => Snapshots.dirStats(dir)("v"))
    assert(zs.forall(_.rows > 0))
    assert(zs.head.nulls == nullsBefore && zs.tail.forall(_.nulls == 0))
    zs.sliding(2).foreach { case Seq(a, b) =>
      assert(Snapshots.cmp("long", a.mx, b.mn) < 0)
    }
    // a clustered-column range probe prunes to the intersecting shards
    val pr = snap.readPruned(t, v, "v", zs.head.mn, zs.head.mx)
    assert(pr.dirsRead < pr.dirsTotal && pr.dirsTotal == 3)
    // the pre-cluster version still reads its own fragments
    assert(snap.read(t, preV).count() == nBefore)
    // vacuum reclaims exactly the 2 pre-cluster fragments, keeps 3 shards
    val (dead, live) = snap.vacuum(t, retainFrom = v)
    assert(dead == 2 && live == 3)
    assert(snap.readLatest(t).count() == nBefore)
  }

  test("compactClustered degrades to a single lossless shard when the " +
      "cluster column has no non-null values, instead of throwing") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_cluster_allnull"
    snap.drop(t)
    // approxQuantile returns an EMPTY bounds array here — the pre-fix
    // code then indexed past its end (ArrayIndexOutOfBoundsException)
    snap.commitAppendStats(t,
      (0L until 20L).map(i => (i, None: Option[Long])).toDF("id", "v"),
      Seq("id"))
    val v = snap.compactClustered(t, "v", 3, Seq("id"))
    assert(snap.manifestDirs(t, v) == 1)
    assert(snap.readLatest(t).count() == 20)
    assert(snap.readLatest(t).filter(col("v").isNull).count() == 20)
    // same degrade for an all-null STRING cluster column (the string
    // path derives its boundary count from a rollup whose empty sum is
    // NULL — must fall back, never NPE)
    val t2 = "spec_cluster_allnull_str"
    snap.drop(t2)
    snap.commitAppendStats(t2,
      (0L until 20L).map(i => (i, None: Option[String])).toDF("id", "name"),
      Seq("id"))
    val v2 = snap.compactClustered(t2, "name", 3, Seq("id"))
    assert(snap.manifestDirs(t2, v2) == 1)
    assert(snap.readLatest(t2).count() == 20)
  }

  test("compactClustered on a STRING column: exact-quantile shards in " +
      "code-point order, astral-plane bounds prune correctly, no row lost") {
    // the r12 collation fix under the LAYOUT path (r12 VERDICT item 9):
    // zone stats order strings by UTF-8 bytes = code points, where
    // UTF-16 code-unit order diverges after U+FFFF — U+1F600 (an astral
    // emoji) sorts ABOVE U+FFFD in code points but BELOW it in code
    // units. The clustered shards and the range probe must agree on the
    // code-point order end to end.
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_cluster_str"
    snap.drop(t)
    val astral = new String(Character.toChars(0x1F600)) // U+1F600
    val fffd = "\uFFFD"
    val vals = Seq("alpha", "bravo", "mike", "zulu", fffd, astral)
    snap.commitAppendStats(t,
      (0 until 120).map(i => (i.toLong, vals(i % vals.length) + (i % 10)))
        .toDF("id", "name"), Seq("name"))
    val n0 = snap.readLatest(t).count()
    val v = snap.compactClustered(t, "name", 3, Seq("name"))
    assert(snap.manifestDirs(t, v) == 3)
    assert(snap.readLatest(t).count() == n0)
    // shard spans are disjoint and ordered under the STRING cmp family
    val zs = snap.versionDirs(t, v).map(dir => Snapshots.dirStats(dir)("name"))
    assert(zs.forall(_.rows > 0))
    zs.sliding(2).foreach { case Seq(a, b) =>
      assert(Snapshots.cmp("string", a.mx, b.mn) < 0)
    }
    // the astral strings must live in the LAST shard (code-point order:
    // U+1F600 > U+FFFD > "zulu"); a code-unit layout would misplace them
    assert(Snapshots.cmp("string", zs.last.mx, fffd) > 0,
      "astral-plane strings not in the top shard")
    // range probe across the astral boundary: prunes, loses nothing
    val pr = snap.readPruned(t, v, "name", fffd, zs.last.mx)
    assert(pr.dirsRead < pr.dirsTotal && pr.dirsTotal == 3)
    val expected = snap.readLatest(t)
      .filter(col("name") >= fffd && col("name") <= zs.last.mx).count()
    assert(pr.df.filter(
      col("name") >= fffd && col("name") <= zs.last.mx).count()
      == expected)
    assert(expected > 0)
  }

  test("compactClustered carries absorbed txn ids: a micro-batch replayed " +
      "AFTER clustering is still a no-op") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_cluster_txn"
    snap.drop(t)
    snap.commitAppendStats(t,
      (0L until 40L).map(i => (i, i % 10)).toDF("id", "v"),
      Seq("v"), txn = Some("batch-0"))
    snap.commitAppendStats(t,
      (40L until 80L).map(i => (i, i % 10)).toDF("id", "v"),
      Seq("v"), txn = Some("batch-1"))
    val v = snap.compactClustered(t, "v", 2, Seq("v"))
    // the clustered overwrite absorbed both ingestion ids: a re-delivered
    // micro-batch must be skipped, not appended as a duplicate
    val after = snap.commitAppendStats(t,
      (40L until 80L).map(i => (i, i % 10)).toDF("id", "v"),
      Seq("v"), txn = Some("batch-1"))
    assert(after == v, "replayed batch after clustering was not a no-op")
    assert(snap.readLatest(t).count() == 80)
    // a genuinely new batch still lands
    val v2 = snap.commitAppendStats(t,
      (80L until 90L).map(i => (i, i % 10)).toDF("id", "v"),
      Seq("v"), txn = Some("batch-2"))
    assert(v2 == v + 1 && snap.readLatest(t).count() == 90)
  }

  test("compact: one dir after, history readable until vacuum, sidecars " +
      "recomputed over the merged span") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_compact"
    snap.drop(t)
    (0 until 3).foreach { j =>
      snap.commitAppendStats(t,
        (j * 100L until j * 100L + 10L).map(i => (i, s"v$i"))
          .toDF("id", "payload"),
        Seq("id"), bloomCols = Seq("id"))
    }
    assert(snap.manifestDirs(t, snap.latest(t)) == 3)
    val cv = snap.compact(t, Seq("id"), bloomCols = Seq("id"))
    assert(snap.manifestDirs(t, cv) == 1)
    assert(snap.readLatest(t).count() == 30)
    // a pre-compaction version still reads its fragments
    assert(snap.read(t, 1).count() == 20)
    // the compacted dir's sidecars answer point probes: a present value
    // keeps the (single) dir, an absent mid-range value bloom-prunes it
    assert(snap.readPrunedEq(t, cv, "id", "205").dirsRead == 1)
    assert(snap.readPrunedEq(t, cv, "id", "55").dirsRead == 0)
    // retention kills exactly the 3 fragments; compacted state intact
    assert(snap.vacuum(t, cv) == ((3, 1)))
    assert(snap.readLatest(t).count() == 30)
    intercept[Exception] { snap.read(t, 1).count() }
  }

  test("bloom sidecar: string columns probe exactly, and dirs without a " +
      "bloom are conservatively kept") {
    import spark.implicits._
    val snap = new Snapshots(spark, root)
    val t = "spec_bloom_str"
    snap.drop(t)
    snap.commitAppendStats(t,
      Seq(("alpha", 1L), ("beta", 2L)).toDF("name", "x"),
      Seq("x"), bloomCols = Seq("name"))
    snap.commitAppendStats(t,
      Seq(("gamma", 3L), ("delta", 4L)).toDF("name", "x"),
      Seq("x"), bloomCols = Seq("name"))
    // legacy commit with stats but no bloom
    snap.commitAppendStats(t, Seq(("omega", 5L)).toDF("name", "x"), Seq("x"))
    val v = snap.latest(t)
    val pr = snap.readPrunedEq(t, v, "name", "gamma")
    // shard 1 (bloom hit) + the bloom-less shard survive; shard 0 prunes
    assert(pr.dirsRead == 2 && pr.dirsTotal == 3)
    assert(pr.df.filter(col("name") === "gamma").count() == 1)
    // a value only in the bloom-less dir is still found
    val om = snap.readPrunedEq(t, v, "name", "omega")
    assert(om.df.filter(col("name") === "omega").count() == 1)
  }

  test("version-claim seam (r15): a catalog CAS refuses the racing " +
      "writer in the window the manifest-exists guard cannot see") {
    import spark.implicits._
    val casRoot = Files.createTempDirectory("snap_cas").toString
    // an in-memory catalog CAS: each (table, version) claimable once
    val cas = new Snapshots.VersionClaim {
      private val owned = scala.collection.mutable.Set[(String, Int)]()
      def claimVersion(t: String, v: Int): Unit = synchronized {
        require(owned.add((t, v)),
          s"version $v of $t already claimed by another writer")
      }
    }
    val a = new Snapshots(spark, casRoot, cas)
    val b = new Snapshots(spark, casRoot, cas)
    val df = Seq((1L, "x")).toDF("k", "v")
    a.commitAppend("t", df) // claims (t, 0), publishes v0
    assert(a.latest("t") == 0)
    // writer B computes v1, but another writer already HOLDS v1 in the
    // catalog (its manifest is still in flight — no file on disk, so
    // the existence guard alone would let B through and the slower
    // rename would silently replace the winner's manifest)
    cas.claimVersion("t", 1)
    intercept[IllegalArgumentException] { b.commitAppend("t", df) }
    // the refused commit published nothing: latest is still v0 and the
    // refused writer's data dir is invisible, like a crashed writer's
    assert(b.latest("t") == 0)
    assert(b.readLatest("t").count() == 1)
    // the manifest-exists guard itself, driven at its exact blind point:
    // a manifest planted BEFORE a commit just advances latest() (the
    // next version never collides), so the race window is only reachable
    // from inside publishManifest — and the claim hook runs precisely
    // there, between version computation and the move. A "claim" that
    // plants the rival's manifest in that window must be refused by the
    // guard, loudly.
    val plantRoot = casRoot + "_plain"
    val planter = new Snapshots.VersionClaim {
      def claimVersion(t: String, v: Int): Unit =
        if (v == 1) Files.write(
          Paths.get(plantRoot, t, "_log", "v1.manifest"),
          "rival".getBytes)
    }
    val plain = new Snapshots(spark, plantRoot, planter)
    plain.commitAppend("t", df) // v0: nothing planted, commits clean
    intercept[IllegalStateException] { plain.commitAppend("t", df) }
    // the winner's (planted) manifest survived untouched
    assert(Files.readString(
      Paths.get(plantRoot, "t", "_log", "v1.manifest")) == "rival")
  }

  test("file claim (r16): the DEFAULT atomic-create CAS refuses the " +
      "racing writer on a real scratch dir; the loser's retry advances") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_fileclaim").toString
    // two independent writer instances over the same root, both on the
    // default claim (no explicit VersionClaim anywhere)
    val a = new Snapshots(spark, root)
    val b = new Snapshots(spark, root)
    val df = Seq((1L, "x")).toDF("k", "v")
    a.commitAppend("t", df) // claims (t, 0) via the file CAS, publishes v0
    assert(Files.exists(Paths.get(root, "_claims", "t", "v0.claim")))
    // the race window: another writer HOLDS v1 (claim file created, its
    // manifest still in flight — nothing in _log yet, so the
    // manifest-exists guard alone would let b through)
    val rival = new Snapshots.FileClaim(s"$root/_claims")
    rival.claimVersion("t", 1)
    intercept[IllegalStateException] { b.commitAppend("t", df) }
    // the refused commit published nothing
    assert(b.latest("t") == 0)
    assert(b.readLatest("t").count() == 1)
    // the rival publishes; the loser's RETRY path is just re-running the
    // commit: it recomputes latest (now 1), claims v2, succeeds
    Files.createDirectories(Paths.get(root, "t", "_log"))
    val winnerDir = s"$root/t/d0" // reuse v0's dir: content irrelevant here
    Files.writeString(Paths.get(root, "t", "_log", "v1.manifest"), winnerDir)
    assert(b.commitAppend("t", df) == 2)
    assert(b.latest("t") == 2)
  }

  test("file claim (r16): kill-mid-claim crash — orphan claim refuses " +
      "the next writer loudly until the operator breaks it, then the " +
      "retry commits clean") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_crash").toString
    val w = new Snapshots(spark, root)
    val df = Seq((1L, "x")).toDF("k", "v")
    w.commitAppend("t", df) // v0
    // a writer claims v1 and DIES before its manifest move (its data dir
    // may or may not exist — either way, no manifest, so v1 is invisible)
    val crashed = new Snapshots.FileClaim(s"$root/_claims")
    crashed.claimVersion("t", 1)
    // latest is still 0, so the next writer computes v1 — and the orphan
    // claim refuses it LOUDLY (never a lost commit, never a deadlock the
    // operator can't see)
    val ex = intercept[IllegalStateException] { w.commitAppend("t", df) }
    assert(ex.getMessage.contains("already claimed"))
    assert(w.latest("t") == 0)
    // recovery is an explicit operator decision: the holder is known
    // dead and v1 has no manifest, so the claim is an orphan — break it
    assert(crashed.breakClaim("t", 1))
    // the retry path: the same commit now claims v1 and publishes
    assert(w.commitAppend("t", df) == 1)
    assert(w.latest("t") == 1)
    assert(w.readLatest("t").count() == 2)
    // and drop() releases consumed claims with the history: the table is
    // re-creatable from v0 (the re-run contract every gate key relies on)
    w.drop("t")
    assert(w.commitAppend("t", df) == 0)
  }

  test("file claim (r16): N threads race one version — the filesystem's " +
      "atomic create lets exactly one through") {
    val root = Files.createTempDirectory("claim_race").toString
    val fc = new Snapshots.FileClaim(root)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val losses = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map(_ => new Thread(() => {
      start.await()
      try { fc.claimVersion("t", 7); wins.incrementAndGet(); () }
      catch { case _: IllegalStateException => losses.incrementAndGet(); () }
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(wins.get == 1 && losses.get == 7)
    // a different version is independently claimable
    fc.claimVersion("t", 8)
  }

  test("file claim (r17, r16 VERDICT): the refusal carries the standing " +
      "claim's age — in-band evidence for the operator's dead-holder call") {
    import spark.implicits._
    val root = Files.createTempDirectory("claim_age").toString
    val w = new Snapshots(spark, root)
    w.commitAppend("t", Seq((1L, "x")).toDF("k", "v")) // v0
    val crashed = new Snapshots.FileClaim(s"$root/_claims")
    crashed.claimVersion("t", 1)
    // make the orphan visibly old (an operator reading "held for 7200s"
    // on a minutes-long pipeline knows the holder is dead)
    Files.setLastModifiedTime(
      Paths.get(root, "_claims", "t", "v1.claim"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200 * 1000L))
    val ex = intercept[IllegalStateException] {
      w.commitAppend("t", Seq((2L, "y")).toDF("k", "v"))
    }
    assert(ex.getMessage.contains("already claimed"))
    assert(ex.getMessage.contains("held for"))
    // the reported age reflects the claim's mtime, not a fresh file
    val secs = "held for (\\d+)s".r.findFirstMatchIn(ex.getMessage)
      .map(_.group(1).toLong)
    assert(secs.exists(s => s >= 7200 && s < 7260), s"age read $secs")
  }

  test("file claim (r17, r16 ADVICE): breakClaim REFUSES a published " +
      "version — a consumed claim is not an orphan, and breaking it " +
      "would hand the version back to a stale writer") {
    import spark.implicits._
    val root = Files.createTempDirectory("claim_guard").toString
    val w = new Snapshots(spark, root)
    w.commitAppend("t", Seq((1L, "x")).toDF("k", "v")) // v0, published
    // the same probe wiring Snapshots itself passes to its FileClaim
    val fc = new Snapshots.FileClaim(s"$root/_claims",
      (t, v) => Files.exists(Paths.get(root, t, "_log", s"v$v.manifest")))
    val ex = intercept[IllegalArgumentException] { fc.breakClaim("t", 0) }
    assert(ex.getMessage.contains("manifest exists"))
    // the claim file survived the refused break
    assert(Files.exists(Paths.get(root, "_claims", "t", "v0.claim")))
    // an UNPUBLISHED version's claim stays breakable (the orphan path)
    fc.claimVersion("t", 1)
    assert(fc.breakClaim("t", 1))
  }

  test("claim janitor (r17, r16 ADVICE): vacuum prunes claim files below " +
      "the retained floor with their manifests — a live table no longer " +
      "accumulates one claim per version forever") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("claim_janitor").toString
    val snap = new Snapshots(spark, root)
    val t = "t"
    (0 until 5).foreach { i =>
      snap.commitAppend(t, Seq((i.toLong, s"v$i")).toDF("k", "v"))
    }
    val claimDir = Paths.get(root, "_claims", t)
    def claims: Set[String] = {
      val s = Files.list(claimDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    assert(claims == (0 until 5).map(v => s"v$v.claim").toSet)
    snap.vacuum(t, retainFrom = 3)
    // claims 0-2 went with their manifests; 3-4 stay consumed (their
    // versions are retained and must never be re-claimable)
    assert(claims == Set("v3.claim", "v4.claim"))
    // the table still reads, and the next commit claims v5 normally
    assert(snap.readLatest(t).count() == 5)
    assert(snap.commitAppend(t, Seq((9L, "z")).toDF("k", "v")) == 5)
  }

  test("compactClustered resolve hook (r17): the merge-on-read resolution " +
      "folds in — survivors land clustered, tombstones vanish, history " +
      "stays readable") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("snap_resolve").toString
    val snap = new Snapshots(spark, root)
    val t = "t"
    snap.commitAppendStats(t,
      (0 until 40).map(i => (i.toLong, i % 4, false)).toDF("k", "c", "tomb"),
      Seq("c"))
    // tombstone ks 10-19 as an O(deleted) append
    snap.commitAppendStats(t,
      (10 until 20).map(i => (i.toLong, i % 4, true)).toDF("k", "c", "tomb"),
      Seq("c"))
    def resolve(df: DataFrame): DataFrame =
      df.filter(!col("tomb")).join(
        df.filter(col("tomb")).select(col("k")), Seq("k"), "left_anti")
    val vPre = snap.latest(t)
    snap.compactClustered(t, "c", 4, Seq("c"), resolve = resolve)
    val cur = snap.readLatest(t)
    assert(cur.count() == 30)
    assert(cur.filter(col("tomb")).count() == 0)
    assert(cur.filter(col("k") >= 10 && col("k") < 20).count() == 0)
    // clustered: 4 dirs, a point probe prunes
    assert(snap.manifestDirs(t, snap.latest(t)) == 4)
    val pr = snap.readPrunedEq(t, snap.latest(t), "c", "2")
    assert(pr.dirsRead < pr.dirsTotal)
    // the pre-fold version still reads whole (tombstones and all) —
    // old manifests are never modified
    assert(snap.read(t, vPre).count() == 50)
  }
}
