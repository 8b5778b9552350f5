package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** The benchmark's JVM side: sets the session up once, timed from JVM
  * start to the first op, then runs passes over the workload's ops back
  * to back (one client, closed loop) until `seconds` have elapsed, at
  * least one. There is no warm-up: the first pass runs in a cold JVM, as
  * a batch job started by a scheduler does, and it also writes every
  * op's output (untimed) for the oracle comparison. Everything measured
  * goes to one JSON record; the metrics are computed from it by
  * perfbench/run.py.
  *
  * With `trace` on, the job and micro-batch listeners are attached for
  * every pass.
  *
  * Usage: Harness --workload W --tables DIR --bookorders DIR --scratch DIR
  *   --seconds S --trace 0|1 --cpus N --rounds K --out FILE
  *   [--conf key=value]...
  */
object Harness {

  final case class OpResult(name: String, ok: Boolean, err: String,
      wall_s: Double, cpu_s: Double, build_s: Double, plan_s: Double, exec_s: Double,
      plan: Map[String, Double], extra: Map[String, Double])

  final case class PassResult(pass: Int, traced: Boolean,
      wall_s: Double, ops: Seq[OpResult], machine: Map[String, Double])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Machine witness: the machine's jiffies, all and stolen by the
    * hypervisor, from /proc/stat. */
  private def witness(): Map[String, Double] = {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")))
      .linesIterator.next().split("\\s+").drop(1).map(_.toDouble)
    Map("jiffies" -> cpu.take(8).sum, "steal_jiffies" -> cpu(7))
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toSeq
    val opt = kv.toMap
    val confs = kv.collect { case ("conf", c) =>
      val i = c.indexOf('='); c.take(i) -> c.drop(i + 1) }
    val workload = opt("workload")
    val scratch = opt("scratch")
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val rounds = opt("rounds").toInt
    System.setProperty("graft.scratch", s"$scratch/engine")

    val trace = new Trace
    val leaks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var passNo = 0

    def session(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      confs.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.Tables.registerAll(s, opt("tables"))
      s
    }

    def runPass(spark: SparkSession, tracing: Option[Tracing]): PassResult = {
      passNo += 1
      trace.pass = passNo
      val passDir = s"$scratch/pass_$passNo"
      val (ops, close) = Workloads.pass(workload, opt("tables"), opt("bookorders"),
        passDir, rounds)
      // only the first pass writes its outputs for the oracle comparison
      val checkDir = if (passNo == 1) Some(s"$scratch/check") else None
      tracing.foreach(_.on())
      val w0 = witness()
      val ran = ops.map(op => runOp(spark, trace, op, passDir, checkDir, leaks))
      val w1 = witness()
      tracing.foreach(_.off())
      // outputs that later ops do not change are written once the timed
      // ops are done, so the check jobs neither warm nor slow later ops
      val results = ran.map {
        case (r, Some(df)) if r.ok => checkDir.fold(r)(d => writeCheck(df, d, r))
        case (r, _) => r
      }
      close()
      Workloads.deleteTree(Paths.get(passDir))
      val wall = results.map(_.wall_s).sum
      System.err.println(f"[harness] pass $passNo $wall%.2fs " + results.map(r =>
        f"${r.name}=${r.wall_s}%.2f${if (r.ok) "" else "!"}").mkString(" "))
      PassResult(passNo, tracing.isDefined, wall, results,
        w1.map { case (k, v) => k -> (v - w0(k)) })
    }

    // set-up: JVM start, class loading, session and input registration,
    // up to the first op
    val spark = session()
    val tracing = if (traced) Some(new Tracing(spark, trace)) else None
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val timed = mutable.ArrayBuffer.empty[PassResult]
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    while (timed.isEmpty || System.nanoTime() - t0 < budgetNs)
      timed += runPass(spark, tracing)

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble)
    val opList = Workloads.pass(workload, "", "", "", rounds)._1
    val keys = opList.collect { case op if op.check.startsWith("key:") => op.check.drop(4) }
    val record = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "measured_s" -> (System.nanoTime() - t0) / 1e9,
      "peak_rss_mb" -> hwmKb.map(_ / 1024).getOrElse(-1.0),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "session_conf" -> confs.toMap,
      "ops" -> opList.map(o => Map("name" -> o.name, "layer" -> o.layer, "check" -> o.check)),
      "oracle_sql" -> keys.map(k => k -> graft.SparkEntry.oracleSql.get(k)).toMap,
      "passes" -> timed,
      "leaks" -> leaks,
      "spans" -> trace.all)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(record))
  }

  /** One op: build, plan, drain into the noop sink. Untimed, when
    * `checkDir` is given, an op whose output later ops change writes it
    * for the oracle comparison at once; otherwise its frame is returned
    * for [[writeCheck]] after the pass. A failure is recorded, never
    * thrown. */
  def runOp(spark: SparkSession, trace: Trace, op: Op, passDir: String,
      checkDir: Option[String], leaks: mutable.ArrayBuffer[Map[String, Any]])
      : (OpResult, Option[DataFrame]) = {
    val sc = spark.sparkContext
    val before = Hygiene.snapshot(spark)
    var err = ""
    def fail(x: Throwable): Unit =
      err = s"${x.getClass.getSimpleName}: ${Option(x.getMessage).getOrElse("")}".take(500)
    var (b, p, e) = (0.0, 0.0, 0.0)
    var df: DataFrame = null
    var plan: SparkPlan = null
    val cpu0 = cpuS()
    val (_, wall) = trace.span(sc, "op", op.name) {
      try {
        val (d, bs) = trace.span(sc, "build", op.name)(op.build(trace, spark))
        df = d
        val (pl, ps) = trace.span(sc, "plan", op.name)(df.queryExecution.executedPlan)
        plan = pl
        val (_, es) = trace.span(sc, "exec", op.name)(
          df.write.format("noop").mode("overwrite").save())
        b = bs; p = ps; e = es
      } catch { case NonFatal(x) => fail(x) }
    }
    val cpu = cpuS() - cpu0
    var planStats = Map.empty[String, Double]
    var extra = Map.empty[String, Double]
    if (err.isEmpty) try {
      planStats = Plans.stats(plan, Workloads.mvDir(passDir))
      extra = op.after()
      if (op.checkNow) checkDir.foreach(d => writeCheckTo(df, d, op.name))
    } catch { case NonFatal(x) => fail(x) }
    Hygiene.diff(before, Hygiene.snapshot(spark)).foreach(d =>
      leaks += d ++ Map("op" -> op.name))
    (OpResult(op.name, err.isEmpty, err, wall, cpu, b, p, e, planStats, extra),
      Option(df).filter(_ => !op.checkNow))
  }

  private def writeCheckTo(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")

  /** The deferred check write of one op; a failure marks the op failed. */
  def writeCheck(df: DataFrame, dir: String, r: OpResult): OpResult =
    try { writeCheckTo(df, dir, r.name); r }
    catch { case NonFatal(x) =>
      r.copy(ok = false, err = s"check write: ${x.getClass.getSimpleName}: " +
        Option(x.getMessage).getOrElse("").take(400))
    }
}

/** Counts over a physical plan, adaptive stages included. */
object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** `mv_scans` counts scans of the materialized view's storage under
    * `viewRoot`; the mart's own tables and the snapshot log do not count. */
  def stats(plan: SparkPlan, viewRoot: String): Map[String, Double] = {
    val all = nodes(plan)
    val root = Paths.get(viewRoot).toUri.getPath.stripSuffix("/") + "/"
    Map(
      "nodes" -> all.size.toDouble,
      "exchanges" -> all.count(_.isInstanceOf[Exchange]).toDouble,
      "sorts" -> all.count(_.isInstanceOf[SortExec]).toDouble,
      "mv_scans" -> all.count {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root))
        case _ => false
      }.toDouble)
  }
}

/** Shared-session hygiene witness: what an op leaves behind in the
  * session's conf map and extra planner strategies / optimizer rules. */
object Hygiene {
  final case class State(conf: Map[String, String], strategies: Seq[String],
      optimizations: Seq[String])

  private def ids(xs: Seq[AnyRef]): Seq[String] =
    xs.map(x => s"${x.getClass.getName}@${System.identityHashCode(x)}")

  def snapshot(s: SparkSession): State =
    State(s.conf.getAll, ids(s.experimental.extraStrategies),
      ids(s.experimental.extraOptimizations))

  def diff(a: State, b: State): Option[Map[String, Any]] = {
    val changed = (a.conf.keySet ++ b.conf.keySet).toSeq.sorted
      .filter(k => a.conf.get(k) != b.conf.get(k))
      .map(k => Map("key" -> k, "before" -> a.conf.get(k).orNull,
        "after" -> b.conf.get(k).orNull))
    val strat = b.strategies.diff(a.strategies) ++ a.strategies.diff(b.strategies)
    val rules = b.optimizations.diff(a.optimizations) ++ a.optimizations.diff(b.optimizations)
    if (changed.isEmpty && strat.isEmpty && rules.isEmpty) None
    else Some(Map("conf" -> changed, "strategies" -> strat, "optimizations" -> rules))
  }
}
