package graft.matview

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Materialized-view lifecycle: persist a query result under a name, track
  * the dependency DAG, and tear down in dependents-first order — the
  * engine-side equivalent of the reference's CREATE/DROP MATERIALIZED VIEW
  * ... CASCADE chain of 15 MVs (assignment-5.sql:70–80, 17–27; SURVEY §7.8).
  *
  * Persistence is parquet at a scratch location (`saveAsTable` semantics
  * without requiring a warehouse-backed catalog): downstream reads plan a
  * plain FileSourceScan — the MV is *not* re-expanded, matching PG
  * (assignment-5.md:552). Refresh = recompute + staged swap: every write
  * lands in a `__stage` dir first, then moves old-aside and stage-in, so
  * a crash can orphan a directory but never lose (or half-replace) the
  * MV, and refreshes of the SAME name serialize on a per-name lock.
  * The staging moves use java.nio — local-filesystem scope, the same
  * sandbox caveat as the Snapshots commit log; a cluster deployment
  * would stage through the Hadoop FileSystem API (rename on HDFS, a
  * commit protocol on S3) with the identical old-aside-first shape.
  *
  * Concurrency contract: [[create]] (and so [[createAll]], which runs up
  * to `defaultParallelism` creates at once) is safe from several threads.
  *  - The registries `deps`, `aggSpecs`, `joinSpecs` and `catalogBacked`
  *    are read and written only under this instance's monitor, which is
  *    never held across a Spark job.
  *  - The per-name lock of `stagedOverwrite` still serializes the
  *    read-merge-swap of one name; different names never contend.
  *  - A view may only read MVs it declares in `dependsOn`: [[createAll]]
  *    starts a view once its declared dependencies are built and trusts
  *    nothing else, so an undeclared read can see a missing or
  *    half-replaced MV.
  */
final class Materializer(spark: SparkSession, scratchDir: String) {

  /** name -> direct dependencies (upstream MV names). Insertion-ordered so
    * rebuilds replay in creation order. */
  private val deps = mutable.LinkedHashMap.empty[String, Seq[String]]

  private var rewrite: Option[MvRewrite] = None

  /** Turn on automatic MV substitution (SURVEY §4 stretch goal): queries on
    * this session that recompute a registered MV's exact relation are
    * rewritten to scan the persisted MV instead. */
  def enableAutoRewrite(): this.type = {
    rewrite = Some(MvRewrite.forSession(spark))
    this
  }

  private def path(name: String): String = s"$scratchDir/$name"

  /** CREATE MATERIALIZED VIEW name AS df (S5). Returns the persisted
    * relation (a fresh scan, not the in-memory plan). */
  def create(name: String, df: DataFrame, dependsOn: Seq[String] = Nil): DataFrame = {
    require(!dependsOn.contains(name), s"$name cannot depend on itself")
    // a re-create is a FULL REFRESH: deregister first, or the rewrite rule
    // (still holding the old defining plan) would substitute the recompute
    // with a scan of the very storage the write is about to replace; and
    // drop any stale incremental spec — a recreated MV's grain need not
    // match the old declaration, and a later refreshIncremental merging
    // with the stale (keys, measures) would be silently wrong
    synchronized {
      require(dependsOn.forall(deps.contains), s"unknown dependency in $dependsOn")
      aggSpecs.remove(name)
      joinSpecs.remove(name)
    }
    rewrite.foreach(_.deregister(name))
    stagedOverwrite(name, () => df)
    synchronized { deps(name) = dependsOn }
    rewrite.foreach(_.register(name, df, () => table(name)))
    table(name)
  }

  /** CREATE every view of a declared DAG, each as soon as the views it
    * `dependsOn` are built, at most `defaultParallelism` at once; returns
    * the views in declaration order. The list must be in dependency
    * order: every dependency is declared earlier in it or already
    * registered. The first failure stops new views from starting; the
    * running ones finish, then the failure is rethrown. The pool lives
    * for this call only: its threads are started from the caller's
    * thread, so they inherit its Spark local properties (job group,
    * description, tracing tags). The registry keeps declaration order,
    * whatever order the views finished in. */
  def createAll(views: Seq[Materializer.View]): Seq[DataFrame] = {
    val names = views.map(_.name)
    require(names.distinct.size == names.size, s"duplicate view in $names")
    views.zipWithIndex.foreach { case (v, i) =>
      val earlier = names.take(i).toSet
      require(v.dependsOn.forall(d => earlier(d) || (exists(d) && !names.contains(d))),
        s"${v.name}: every dependency in ${v.dependsOn} must be declared " +
          "earlier or already exist")
    }
    val waiting = mutable.LinkedHashMap.from(views.map(v =>
      v.name -> (v, mutable.Set.from(v.dependsOn.filter(names.contains)))))
    val threads = math.max(1,
      math.min(spark.sparkContext.defaultParallelism, views.size))
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "matview-create")
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[String](pool)
    var running = 0
    var failure: Throwable = null
    // submits only what a free thread runs at once, so after a failure
    // nothing queued is left to start
    def startReady(): Unit =
      while (failure == null && running < threads &&
          waiting.exists(_._2._2.isEmpty)) {
        val (v, _) = waiting.collectFirst { case (_, e) if e._2.isEmpty => e }.get
        waiting.remove(v.name)
        done.submit(() => { create(v.name, v.define(), v.dependsOn); v.name })
        running += 1
      }
    try {
      startReady()
      while (running > 0) {
        val f = done.take()
        running -= 1
        try {
          val built = f.get()
          waiting.values.foreach(_._2 -= built)
        } catch {
          case e: ExecutionException =>
            if (failure == null) failure = e.getCause
            else failure.addSuppressed(e.getCause)
        }
        startReady()
      }
    } finally pool.shutdownNow()
    if (failure != null) throw failure
    synchronized {
      names.foreach(n => deps.remove(n).foreach(d => deps(n) = d))
    }
    names.map(table)
  }

  /** Per-name monitor: refreshes/creates of the same MV serialize (two
    * concurrent swaps through the shared __stage/__old paths would race
    * read-merge-swap and silently lose one delta). Different names never
    * contend. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(name: String): Object =
    locks.computeIfAbsent(name, _ => new Object)

  /** Write-then-swap through [[Dirs.swap]]: a crash can orphan a
    * directory but never lose the MV (unlike a plain mode("overwrite"),
    * which deletes the target before the job commits). Takes a THUNK, not a plan: a plan that READS the current storage
    * (the incremental-merge case) must be CONSTRUCTED inside the lock
    * too — spark.read.parquet eagerly lists the storage's files, so a
    * plan built before the lock would execute against a pre-swap file
    * index after a concurrent refresh wins the race and deletes those
    * files. The lock therefore serializes read-merge-swap end to end,
    * not just the swap. */
  private def stagedOverwrite(name: String, mkDf: () => DataFrame): Unit =
    lockFor(name).synchronized {
      // the thunk runs inside the swap, after its crash recovery: it may
      // read the live dir
      Dirs.swap(java.nio.file.Paths.get(path(name))) { stage =>
        mkDf().write.mode("overwrite").parquet(stage.toString)
        true
      }
    }

  // ---- incremental refresh ----------------------------------------------

  /** (keys, measures) of MVs created via [[createAggregated]]. */
  private val aggSpecs =
    mutable.Map.empty[String, (Seq[String], Seq[Materializer.Measure])]

  /** CREATE MATERIALIZED VIEW name AS base GROUP BY keys with declared
    * re-aggregable measures — the declaration is what makes
    * [[refreshIncremental]] possible (sum/count merge by re-summing,
    * min/max by re-min/maxing; the same algebra MvRewrite's containment
    * path exploits). */
  def createAggregated(name: String, base: DataFrame, keys: Seq[String],
      measures: Seq[Materializer.Measure]): DataFrame = {
    val aggCols = measures.map(m => m.initial.as(m.alias))
    // spec recorded AFTER create (which clears stale specs on re-create)
    val out = create(name,
      base.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*))
    synchronized { aggSpecs(name) = (keys, measures) }
    out
  }

  /** (dim, join columns) of MVs created via [[createJoinAggregated]]. */
  private val joinSpecs = mutable.Map.empty[String, (DataFrame, Seq[String])]

  /** CREATE MATERIALIZED VIEW name AS fact JOIN dim GROUP BY keys — the
    * join-aggregate MV shape (star-schema rollups). The dim relation and
    * join columns are remembered so [[refreshJoinDelta]] can maintain the
    * MV from a FACT delta alone: delta ⋈ dim is |delta| rows joined
    * against a dimension, never a fact re-scan. Requires the dim static
    * between refreshes (the star-schema contract; a changed dim needs a
    * full refresh). */
  def createJoinAggregated(name: String, fact: DataFrame, dim: DataFrame,
      on: Seq[String], keys: Seq[String],
      measures: Seq[Materializer.Measure]): DataFrame = {
    val out = createAggregated(name, fact.join(dim, on), keys, measures)
    synchronized { joinSpecs(name) = (dim, on) }
    out
  }

  /** REFRESH from a fact-only delta: join the delta against the remembered
    * dimension, then merge like [[refreshIncremental]]. */
  def refreshJoinDelta(name: String, deltaFact: DataFrame): DataFrame = {
    val (dim, on) = synchronized {
      require(joinSpecs.contains(name),
        s"$name was not created via createJoinAggregated")
      joinSpecs(name)
    }
    refreshIncremental(name, deltaFact.join(dim, on))
  }

  /** REFRESH ... WITH DELTA: aggregate only the delta rows, merge into the
    * stored groups by the measures' merge functions, atomically swap the
    * storage. At 100 TB this touches |delta groups| + |stored MV| rows —
    * never the full base fact. Merged measures are cast back to the stored
    * column types (a re-summed decimal widens; the merged total provably
    * fits the stored type). */
  def refreshIncremental(name: String, deltaBase: DataFrame): DataFrame = {
    val (keys, measures) = synchronized {
      require(aggSpecs.contains(name), s"$name was not created via createAggregated")
      aggSpecs(name)
    }
    // the stored relation is about to diverge from the defining plan the
    // rewrite registry holds (storage will cover base+delta while the
    // registered plan describes base only) — deregister, or a later query
    // matching the stale defining plan would be rewritten to merged data
    rewrite.foreach(_.deregister(name))
    // the merged plan READS the current storage, so the whole
    // read-merge-plan construction happens inside the staged swap's
    // per-name lock (via the thunk): a concurrent refresh loser would
    // otherwise build its plan against a pre-swap file index and fail
    // with FileNotFoundException after the winner's swap
    stagedOverwrite(name, () => {
      val stored = table(name)
      val storedTypes =
        stored.schema.fields.map(f => f.name -> f.dataType).toMap
      val aggCols = measures.map(m => m.initial.as(m.alias))
      val delta = deltaBase.groupBy(keys.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      val mergeCols = measures.map(m =>
        m.merge(col(m.alias)).cast(storedTypes(m.alias)).as(m.alias))
      stored.unionByName(delta)
        .groupBy(keys.map(col): _*).agg(mergeCols.head, mergeCols.tail: _*)
    })
    table(name)
  }

  /** (Re-)assert `name`'s defining query for auto-rewrite against its
    * CURRENT storage. PostgreSQL's model: an MV's defining query never
    * changes — REFRESH only brings storage up to date with it. Our
    * incremental refresh path deregisters the MV mid-flight (storage
    * diverges from the registered plan while the merge is staged, see
    * [[refreshIncremental]]); once the refresh has landed, the caller —
    * who knows what base window the MV now covers — re-asserts the full
    * defining query here, and the rewriter resumes answering matching
    * subtrees from the refreshed storage. The assertion is checked by the
    * correctness gate, not trusted: the MV keys' oracles recompute the
    * defining query from base tables, so a redefine that misdescribes
    * storage hash-fails. */
  def redefine(name: String, defining: DataFrame): Unit = {
    require(exists(name), s"no such materialized view: $name")
    rewrite.foreach(_.register(name, defining, () => table(name)))
  }

  /** Drop every rewrite-registry entry this materializer created — scopes
    * MV substitution to the query that registered the MVs, so a rewrite-
    * enabled query can't silently re-plan later unrelated queries in the
    * same session. */
  def deregisterAll(): Unit =
    rewrite.foreach(r => synchronized(deps.keys.toList).foreach(r.deregister))

  /** Bucketed materialization into the session catalog: co-locates future
    * joins/aggregations on the bucket columns — two tables bucketed the same
    * way join with NO exchange (pinned by BucketedJoinSpec). This is the
    * 100 TB answer to repeated fact-fact joins: pay the shuffle once at
    * write time, never again at read time.
    */
  /** Names persisted through the session catalog (bucketed MVs) — the
    * ONLY names [[table]] reads via spark.table: a blind tableExists
    * probe would let an unrelated same-named temp view or user table
    * shadow the MV's storage (and dropCascade would then DROP it). */
  private val catalogBacked = mutable.Set.empty[String]

  def createBucketed(
      name: String, df: DataFrame,
      bucketCols: Seq[String], numBuckets: Int): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path(name))
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    synchronized {
      deps(name) = Nil
      catalogBacked += name
    }
    spark.table(name)
  }

  /** Read a materialized view back (plans a parquet scan with the schema
    * read from the written footers, so no Spark job runs; bucketed MVs go
    * through the catalog so bucketing metadata survives). */
  def table(name: String): DataFrame =
    if (isCatalogBacked(name)) spark.table(name)
    else Footers.read(spark, Seq(path(name)))

  /** Row count of a materialized view, from its footers where it is a
    * plain parquet directory. */
  def rows(name: String): Long =
    if (isCatalogBacked(name)) spark.table(name).count()
    else Footers.rowCount(spark, Seq(path(name)))

  private def isCatalogBacked(name: String): Boolean = synchronized {
    require(deps.contains(name), s"no such materialized view: $name")
    catalogBacked(name)
  }

  def exists(name: String): Boolean = synchronized(deps.contains(name))

  private def dependentsOf(name: String): Seq[String] =
    deps.collect { case (n, ds) if ds.contains(name) => n }.toSeq

  /** DROP ... CASCADE (S3): removes `name` and everything downstream,
    * dependents first; returns the drop order. Deterministic: DFS over the
    * insertion-ordered registry. */
  def dropCascade(name: String): Seq[String] = synchronized {
    require(deps.contains(name), s"no such materialized view: $name")
    val order = mutable.LinkedHashSet.empty[String]
    val seen = mutable.Set.empty[String] // guard: a dependency cycle built
    def visit(n: String): Unit =         // via re-creates must not recurse
      if (seen.add(n)) { dependentsOf(n).foreach(visit); order += n }
    visit(name)
    order.foreach { n =>
      deps.remove(n)
      aggSpecs.remove(n)  // stale incremental specs must die with the MV:
      joinSpecs.remove(n) // a recreated name must not merge on old grain
      rewrite.foreach(_.deregister(n))
      // only OUR catalog-backed MVs are dropped from the catalog — an
      // unrelated same-named user table or temp view is not ours to drop
      if (catalogBacked.remove(n)) spark.sql(s"DROP TABLE IF EXISTS $n")
      // best-effort storage cleanup; the registry is the source of truth.
      // The crash siblings go too: a stale __old surviving the drop would
      // be "restored" by the next create's crash recovery (then
      // immediately overwritten — harmless but wasteful), and __stage is
      // plain garbage
      val live = java.nio.file.Paths.get(path(n))
      Seq(live, Dirs.oldOf(live), Dirs.stageOf(live)).foreach(Dirs.delete)
    }
    order.toSeq
  }
}

object Materializer {
  /** Scratch root: `-Dgraft.scratch`, else `target/scratch` under the
    * process's working directory (gitignored, writable), so engine
    * processes started from two checkouts do not share streaming and MV
    * scratch. */
  def defaultScratch: String = scratchOf(sys.props)

  private[graft] def scratchOf(props: scala.collection.Map[String, String])
      : String =
    props.getOrElse("graft.scratch",
      java.nio.file.Paths.get(props("user.dir"), "target", "scratch").toString)

  def apply(spark: SparkSession): Materializer =
    new Materializer(spark, defaultScratch)

  /** One view of a [[Materializer.createAll]] DAG: its name, the MVs its
    * definition reads, and the definition, evaluated once those exist. */
  final case class View(
      name: String, dependsOn: Seq[String], define: () => DataFrame)

  /** A re-aggregable measure: how to compute it over base rows and how to
    * merge two already-aggregated partials (the standard distributive-
    * aggregate algebra; averages are stored as sum+count pairs). */
  final case class Measure(
      alias: String, initial: Column, merge: Column => Column)

  object Measure {
    def sumOf(c: Column, alias: String): Measure =
      Measure(alias, sum(c), m => sum(m))
    def countAll(alias: String): Measure =
      Measure(alias, count(lit(1)), m => sum(m))
    def minOf(c: Column, alias: String): Measure =
      Measure(alias, min(c), m => min(m))
    def maxOf(c: Column, alias: String): Measure =
      Measure(alias, max(c), m => max(m))
  }
}
