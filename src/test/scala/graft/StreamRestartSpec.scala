package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.matview.Dirs
import graft.streaming.StreamingOps

/** The bounded file-stream replay's staging contract, and the restart
  * contracts of the two stream sinks that replace their state through
  * [[Dirs.swap]]: the hourly MV upsert (`matview_stream_refresh`) and the
  * CDC key state (`events_stream_cdc`). */
class StreamRestartSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  private val root = Paths.get(TestSpark.scratch, "stream_restart")

  /** `root/name`, emptied. */
  private def fresh(name: String): Path = {
    val p = root.resolve(name)
    Dirs.delete(p)
    p
  }

  private def names(dir: Path): Seq[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally l.close()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("stage writes one mtime-ordered file per chunk and skips an " +
      "empty one") {
    val dir = fresh("stage_ok")
    // partitions 0 and 2 hold rows, partition 1 is empty: chunk 2 is absent
    StreamingOps.stage(dir, spark.range(0, 6, 1, 3)
      .filter(col("id") < 2 || col("id") >= 4)
      .withColumn("__chunk", spark_partition_id() + 1))
    assert(names(dir) == Seq("chunk_01.parquet", "chunk_03.parquet"))
    assert(Seq(1, 3).map(i => Files.getLastModifiedTime(
      dir.resolve(f"chunk_$i%02d.parquet")).toMillis) ==
      Seq(1000000L, 3000000L))
    assert(spark.read.parquet(dir.resolve("chunk_03.parquet").toString)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
  }

  test("stage fails loudly, naming the chunk, when one chunk spreads " +
      "over two partitions") {
    val dir = fresh("stage_split")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.stage(dir, spark.range(0, 4, 1, 2)
        .withColumn("__chunk", lit(1)))
    }
    assert(e.getMessage.contains("chunk 1 landed as 2 part files"))
    assert(names(dir).isEmpty) // the temporary chunk dirs are gone
  }

  /** (staged source, sink, checkpoint) => the sink's final content. */
  private type Run = (Path, Path, Path) => DataFrame

  private val sinks: Seq[(String, String, Run)] = Seq(
    ("stream MV upsert", "mv",
      (src, sink, ckpt) => StreamingOps.upsertMvRun(spark, src, sink, ckpt)),
    ("CDC apply", "cdc",
      (src, sink, ckpt) => StreamingOps.cdcStateRun(spark, src, sink, ckpt)))

  /** The events fixture staged as its chunk files under `root/name`. */
  private def stagedEvents(name: String): Path = {
    val dir = fresh(name)
    StreamingOps.stage(dir,
      StreamingOps.stageChunks(Tables.load(spark, SF, "events")))
    dir
  }

  sinks.foreach { case (sinkName, tag, run) =>
    test(s"$sinkName: stopped after chunks 1-2 and restarted on the same " +
        "checkpoint after chunks 3-4, it equals the uninterrupted run") {
      val full = stagedEvents(s"${tag}_src_full")
      assert(names(full).size == 4)
      val want = rows(run(full, fresh(s"${tag}_sink_full"),
        fresh(s"${tag}_ckpt_full")))

      val part = fresh(s"${tag}_src_part")
      val sink = fresh(s"${tag}_sink_part")
      val ckpt = fresh(s"${tag}_ckpt_part")
      def arrive(chunks: Int*): Unit = chunks.foreach { i =>
        val f = f"chunk_$i%02d.parquet"
        Files.copy(full.resolve(f), part.resolve(f),
          StandardCopyOption.COPY_ATTRIBUTES)
      }
      Files.createDirectories(part)
      arrive(1, 2)
      val first = rows(run(part, sink, ckpt))
      assert(first.nonEmpty && first != want) // the stop really split it
      arrive(3, 4)
      assert(rows(run(part, sink, ckpt)) == want)
    }

    test(s"$sinkName: a re-delivered last batch (its commit file " +
        "removed) leaves the result unchanged") {
      val src = stagedEvents(s"${tag}_src_redo")
      val sink = fresh(s"${tag}_sink_redo")
      val ckpt = fresh(s"${tag}_ckpt_redo")
      // no trailing no-data batch: the last batch is chunk 4's data
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
      val want = Tables.withConf(spark, noData)(rows(run(src, sink, ckpt)))
      val commits = ckpt.resolve("commits")
      val last = names(commits).flatMap(_.toLongOption).max
      assert(last == 3L)
      Files.delete(commits.resolve(last.toString))
      Files.deleteIfExists(commits.resolve(s".$last.crc"))
      assert(Tables.withConf(spark, noData)(rows(run(src, sink, ckpt))) == want)
      assert(Files.exists(commits.resolve(last.toString))) // it re-ran
    }
  }
}
