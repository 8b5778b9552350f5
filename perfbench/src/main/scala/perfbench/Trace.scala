package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. `parent` is the span that caused it (-1 when
  * unknown: the analysis assigns such spans to the innermost phase span
  * that contains their start). Times are System.nanoTime-based. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    pass: Int, start: Long, end: Long, attrs: Map[String, Double])

/** In-memory span store. Op, phase and call spans are recorded on the
  * driver thread around the calls into the engine; job and micro-batch
  * spans come from listeners, and only while tracing is on. The active
  * phase's id travels to Spark jobs as a local property, which Spark
  * copies onto every job the phase submits (including jobs submitted
  * from threads the phase starts), so a job's parent is the phase that
  * was active when it started. */
final class Trace {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  @volatile var pass: Int = -1

  // wall-clock (ms) -> nanoTime mapping for listener event times
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def fromMillis(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def add(s: Span): Unit = synchronized { spans += s }
  def nextId(): Int = ids.incrementAndGet()
  def all: Seq[Span] = synchronized { spans.toList }

  /** Run `f` inside a span; returns its result and the span's seconds. */
  def span[A](sc: SparkContext, kind: String, name: String)(f: => A): (A, Double) = {
    val id = nextId()
    val parent = current
    current = id
    sc.setLocalProperty(Trace.Prop, id.toString)
    val t0 = System.nanoTime()
    try {
      val out = f
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      add(Span(id, parent, kind, name, pass, t0, System.nanoTime(), Map.empty))
      current = parent
      sc.setLocalProperty(Trace.Prop, if (parent < 0) null else parent.toString)
    }
  }
}

object Trace {
  val Prop = "perfbench.span"
}

/** Per-job span with task metrics summed over the job's tasks. */
final class JobListener(trace: Trace) extends SparkListener {
  private final class Acc(val id: Int, val parent: Int, val start: Long) {
    var tasks, stages = 0.0
    var runMs, cpuNs, gcMs, shufW, shufR, spill, inB, outB = 0.0
  }
  private val jobs = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.Prop))).map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new Acc(trace.nextId(), parent, trace.fromMillis(e.time)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def accOf(stageId: Int): Option[Acc] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    accOf(e.stageInfo.stageId).foreach(a => a.synchronized { a.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (a <- accOf(e.stageId); m <- Option(e.taskMetrics)) a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inB += m.inputMetrics.bytesRead
      a.outB += m.outputMetrics.bytesWritten
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { a =>
      a.synchronized {
        trace.add(Span(a.id, a.parent, "job", s"job${e.jobId}", trace.pass,
          a.start, trace.fromMillis(e.time), Map(
            "tasks" -> a.tasks, "stages" -> a.stages,
            "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9,
            "task_gc_s" -> a.gcMs / 1e3, "shuffle_write_b" -> a.shufW,
            "shuffle_read_b" -> a.shufR, "spill_b" -> a.spill,
            "input_b" -> a.inB, "output_b" -> a.outB)))
      }
    }
}

/** One span per streaming micro-batch (its trigger execution interval). */
final class BatchListener(trace: Trace) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val durMs: Long = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    trace.add(Span(trace.nextId(), -1, "batch", s"batch${p.batchId}", trace.pass,
      trace.fromMillis(startMs), trace.fromMillis(startMs + durMs),
      Map("rows" -> p.numInputRows.toDouble)))
  }
}

/** Attaches both listeners to a session for the traced passes. */
final class Tracing(spark: SparkSession, trace: Trace) {
  private val jobs = new JobListener(trace)
  private val batches = new BatchListener(trace)

  def on(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(batches)
  }

  /** Deliver every queued event, then detach. */
  def off(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(batches)
  }
}
