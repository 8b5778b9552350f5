package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Tables.withConf

/** Dev-only profiler: times registered keys, or one key under several conf
  * sets, with Bench's measurement discipline, and reads out each one's
  * layers.
  *
  *   sbt "Test/runMain graft.tools.ProfKey <dir> <reps> <variant> [<variant> ...]"
  *
  * A variant is `<key>` or `<key>@<conf>=<value>[,<conf>=<value>...]`; its
  * confs are scoped to its own runs through `Tables.withConf`. One session
  * runs one untimed warm-up rep per variant, then `reps` rounds with the
  * variant order alternating each round; every rep writes to the noop
  * sink. Per variant it prints best, median, all reps and pairwise wins,
  * then the layers of its last rep:
  *   - the wall split: build (the key function itself, with any eager work
  *     inside it), plan (analysis, optimization and planning of the noop
  *     write) and exec (the rest);
  *   - job, stage and task counts; summed task run, CPU and GC time;
  *     shuffle read/write and disk-spill MB; the top stages by task time,
  *     named by the call site of the action that ran them (AQE submits
  *     stages from its own threads, so a SQL stage takes its execution's
  *     call site) and the plan nodes that built their RDDs
  *     (`WholeStageCodegen (n)` is the `*(n)` span of the plan file);
  *   - rows and time per operator class of the final adaptive plan
  *     ([[graft.queries.Lifecycle.operatorStats]], the walk behind
  *     `explain_analyze`).
  * When all variants share an output schema their rows are compared once,
  * untimed and order-insensitive; rows that differ exit non-zero. Each
  * variant's final plan is written to `target/profkey/<variant>.plan.txt`.
  *
  * `SPARK_GRAFT_CPUS` sets `local[n]` and the shuffle width (default: the
  * machine's cores); any other knob is a conf variant, e.g.
  * `agg_sum_group3@spark.sql.shuffle.partitions=200`.
  */
object ProfKey {

  final case class Variant(label: String, key: String,
      confs: Seq[(String, String)])

  /** Parses one variant; an unknown key or a malformed conf list throws
    * IllegalArgumentException. */
  def parseVariant(arg: String, known: String => Boolean): Variant = {
    def bad(why: String) =
      throw new IllegalArgumentException(s"variant '$arg': $why")
    val (key, confs) = arg.split("@", 2) match {
      case Array(k) => (k, Nil)
      case Array(k, cs) => (k, cs.split(",", -1).toSeq.map { kv =>
        kv.split("=", 2) match {
          case Array(c, v) if c.trim.nonEmpty => (c.trim, v)
          case _ => bad(s"'$kv' is not <conf>=<value>")
        }
      })
    }
    if (!known(key)) bad(s"unknown key '$key'")
    Variant(arg, key, confs)
  }

  /** Bench's session shape, plus the two settings decade-scale probes
    * need; shared by the tools in this package. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // iterative probes (pagerank at sf100) leave each iteration's
      // unreferenced shuffle files on disk until a driver GC lets the
      // ContextCleaner delete them: 42 GB of blockmgr in 4 min under
      // Spark's 30 min default, about 2 live iterations at 60s
      .config("spark.cleaner.periodicGC.interval", "60s")
      // *_SER storage blocks are uncompressed by default: pagerank's sf100
      // checkpoint is ~25 GB raw vs ~8 GB under lz4
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class StageStat(id: Int, name: String, tasks: Int,
      taskS: Double, cpuS: Double, gcS: Double,
      readMb: Double, writeMb: Double, spillMb: Double)

  final case class Layers(buildS: Double, planS: Double, execS: Double,
      jobs: Int, stages: Seq[StageStat],
      operators: Seq[(String, Long, Option[Long], Option[String], Long)])

  final case class Result(variant: Variant, times: Seq[Double],
      last: Layers, plan: String)

  /** `wins(i)(j)`: rounds in which variant i ran faster than variant j.
    * `rowsDiff`: rows in one variant's output and not the first's (None
    * when there is one variant or the output schemas differ). */
  final case class Report(results: Seq[Result], wins: Seq[Seq[Int]],
      rowsDiff: Option[Long])

  /** Job and stage statistics from one SparkListener, and the query
    * executions that finished, since the last `reset`. */
  private final class Recorder extends SparkListener
      with QueryExecutionListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageStat]
    val qes = new ConcurrentLinkedQueue[QueryExecution]
    private val execSite = new ConcurrentHashMap[Long, String]
    private val stageSite = new ConcurrentHashMap[Int, String]
    def reset(): Unit = { jobs.set(0); stages.clear(); qes.clear() }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, s.description)
      case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .foreach(site => e.stageIds.foreach(stageSite.put(_, site)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(stageStat(i,
        Option(stageSite.remove(i.stageId)).getOrElse(i.name)))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
      : Unit = ()

    /** The execution planned at or after `sinceMs`: the noop write. Its
      * event follows every job event of the write on the listener queue,
      * so once it is here the stage statistics are complete. */
    def awaitWrite(sinceMs: Long): QueryExecution = {
      val deadline = System.nanoTime() + 60000000000L
      def find = qes.asScala.find { qe =>
        val ph = qe.tracker.phases.values
        ph.nonEmpty && ph.map(_.startTimeMs).min >= sinceMs
      }
      while (find.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      find.getOrElse(throw new IllegalStateException(
        "the noop write's query execution was never reported"))
    }
  }

  private val MB = 1024.0 * 1024.0

  private def stageStat(i: StageInfo, site: String): StageStat = {
    val scopes = i.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
    val name = site + scopes.mkString(" [", ", ", "]")
    val m = i.taskMetrics
    StageStat(i.stageId, name, i.numTasks, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.shuffleReadMetrics.totalBytesRead / MB,
      m.shuffleWriteMetrics.bytesWritten / MB, m.diskBytesSpilled / MB)
  }

  private def rep(spark: SparkSession, dir: String, v: Variant,
      rec: Recorder): (Double, Layers, String) =
    withConf(spark, v.confs: _*) {
      rec.reset()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(v.key)(spark, dir)
      val t1 = System.nanoTime()
      val since = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val qe = rec.awaitWrite(since)
      val planS = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      val total = (t2 - t0) / 1e9
      val buildS = (t1 - t0) / 1e9
      (total, Layers(buildS, planS, total - buildS - planS, rec.jobs.get,
          rec.stages.asScala.toSeq,
          graft.queries.Lifecycle.operatorStats(qe.executedPlan)),
        qe.executedPlan.toString)
    }

  /** Rows in one frame and not the other, duplicates counted and order
    * ignored; columns are matched by position. */
  def rowDiff(a: DataFrame, b: DataFrame): Long = {
    def canon(df: DataFrame) = {
      val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      pos.select(to_json(struct(pos.columns.map(col).toIndexedSeq: _*)))
    }
    val (x, y) = (canon(a), canon(b))
    x.exceptAll(y).count() + y.exceptAll(x).count()
  }

  /** Runs the variants (see the object doc) and writes each one's final
    * plan to `planDir`; every conf a variant sets is restored after it. */
  def profile(spark: SparkSession, dir: String, reps: Int,
      variants: Seq[Variant], planDir: Path): Report = {
    require(reps > 0, s"reps $reps")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      variants.foreach(rep(spark, dir, _, rec)) // warm-up
      val rounds = (0 until reps).map { r =>
        val order =
          if (r % 2 == 0) variants.indices else variants.indices.reverse
        order.map(i => i -> rep(spark, dir, variants(i), rec)).toMap
      }
      val last = variants.indices.map(rounds.last)
      val times = variants.indices.map(i => rounds.map(_(i)._1))
      val wins = times.map(ti => times.map(tj =>
        ti.zip(tj).count { case (a, b) => a < b }))
      val rowsDiff =
        if (variants.size < 2) None
        else {
          val outs = variants.map(v => withConf(spark, v.confs: _*)(
            graft.SparkEntry.queries(v.key)(spark, dir).localCheckpoint()))
          val shapes = outs.map(_.schema.fields.map(f => (f.name, f.dataType)))
          if (shapes.map(_.toSeq).distinct.size > 1) None
          else Some(outs.tail.map(rowDiff(outs.head, _)).sum)
        }
      Files.createDirectories(planDir)
      variants.zip(last).foreach { case (v, (_, _, plan)) =>
        Files.writeString(planDir.resolve(planFile(v)), plan)
      }
      Report(variants.indices.map(i =>
        Result(variants(i), times(i), last(i)._2, last(i)._3)),
        wins, rowsDiff)
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  def planFile(v: Variant): String =
    v.label.replaceAll("[^\\w.@=,-]", "_") + ".plan.txt"

  private def median(s: Seq[Double]): Double = {
    val o = s.sorted
    if (o.size % 2 == 1) o(o.size / 2)
    else (o(o.size / 2 - 1) + o(o.size / 2)) / 2.0
  }

  def render(r: Report, planDir: Path): Seq[String] = {
    val labels = r.results.map(_.variant.label)
    val perVariant = r.results.zipWithIndex.flatMap { case (res, i) =>
      val l = res.last
      val st = l.stages
      val taskS = st.map(_.taskS).sum
      val times = res.times
      val head = f"${res.variant.label}: best=${times.min}%.3f " +
        f"median=${median(times)}%.3f all=" +
        times.map(t => f"$t%.3f").mkString(",")
      val wins = labels.indices.filter(_ != i).map(j =>
        s"  wins vs ${labels(j)}: ${r.wins(i)(j)}/${times.size}")
      val layers = Seq(
        f"  split: build ${l.buildS}%.3f s, plan ${l.planS}%.3f s, " +
          f"exec ${l.execS}%.3f s",
        f"  jobs ${l.jobs}, stages ${st.size}, tasks ${st.map(_.tasks).sum}; " +
          f"task $taskS%.2f s, cpu ${st.map(_.cpuS).sum}%.2f s, " +
          f"gc ${st.map(_.gcS).sum}%.2f s; shuffle read " +
          f"${st.map(_.readMb).sum}%.1f MB, write ${st.map(_.writeMb).sum}%.1f" +
          f" MB, spill ${st.map(_.spillMb).sum}%.1f MB")
      val top = st.sortBy(-_.taskS).take(5).map(s =>
        f"  stage ${s.id}: ${s.taskS}%.2f s task " +
          f"(${100 * s.taskS / taskS.max(1e-9)}%.0f%%), cpu ${s.cpuS}%.2f s, " +
          f"${s.tasks} tasks, shuffle ${s.readMb}%.1f/${s.writeMb}%.1f MB: " +
          s.name)
      val ops = l.operators.sortBy(-_._5).map { case (op, n, rows, m, ns) =>
        f"  op $op x$n: rows ${rows.fold("-")(_.toString)}, " +
          f"${ns / 1e6}%.1f ms${m.fold("")(x => s" ($x)")}"
      }
      (head +: wins) ++ layers ++ top ++ ops
    }
    val rows = r.rowsDiff match {
      case None if labels.size < 2 => "rows: one variant, nothing to compare"
      case None => "rows: not compared, output schemas differ"
      case Some(0) => "rows: identical"
      case Some(n) => s"rows: DIFFER, $n rows in one output and not the other"
    }
    (perVariant :+ rows :+ s"plans: $planDir/").map("[profkey] " + _)
  }

  def main(args: Array[String]): Unit = {
    val (dir, reps, variants) =
      try {
        require(args.length >= 3, "usage: ProfKey <dir> <reps> <variant> " +
          "[<variant> ...]; variant = <key>[@<conf>=<value>[,...]]")
        val reps = args(1).toIntOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"reps '${args(1)}' is not a positive integer"))
        (args(0), reps,
          args.drop(2).toSeq.map(parseVariant(_, graft.SparkEntry.queries.contains)))
      } catch { case e: IllegalArgumentException =>
        System.err.println(s"[profkey] ${e.getMessage}")
        sys.exit(2)
      }
    val planDir = Paths.get("target", "profkey")
    val spark = session()
    val report = try profile(spark, dir, reps, variants, planDir)
      finally spark.stop()
    render(report, planDir).foreach(println)
    if (report.rowsDiff.exists(_ > 0)) sys.exit(1)
  }
}
