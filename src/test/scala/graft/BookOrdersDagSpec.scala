package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.bookorders.BookOrdersMart
import graft.queries.BookOrdersKeys

/** The DAG that concurrent view creation trusts: [[BookOrdersMart.buildAll]]
  * starts a view once its declared `dependsOn` are built, so every view
  * the definition reads must be declared. */
class BookOrdersDagSpec extends AnyFunSuite {
  import TestSpark.spark

  private val fixtures = "src/test/resources/bookorders"

  /** Names of the mart's views a plan scans (roots under `scratch`). */
  private def viewScans(df: org.apache.spark.sql.DataFrame,
      scratch: String): Set[String] = {
    val base = Paths.get(scratch).toAbsolutePath.normalize
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
          .map(p => Paths.get(p.toUri))
    }.flatten.collect {
      case p if p.startsWith(base) => base.relativize(p).getName(0).toString
    }.toSet
  }

  test("every view's scans of the mart's storage are declared in dependsOn") {
    val scratch = s"${TestSpark.scratch}/bookorders-dag"
    val mart = new BookOrdersMart(spark, fixtures, scratch)
    assert(mart.buildAll() == BookOrdersKeys.goldenCounts)
    assert(mart.views.map(_.name) == BookOrdersKeys.goldenCounts.map(_._1))
    mart.views.foreach { v =>
      val scans = viewScans(v.define(), scratch)
      assert(scans.subsetOf(v.dependsOn.toSet),
        s"${v.name} reads ${scans -- v.dependsOn} without declaring it")
    }
    // the probe does see scans: sales reads the time dimension
    assert(viewScans(mart.views.find(_.name == "sales").get.define(),
      scratch) == Set("time"))
  }

  test("a failing view makes buildAll fail with its error, not hang") {
    // one order line so large that sales' numeric(6,2) cast overflows
    val dir = Files.createTempDirectory("bookorders-overflow")
    val src = Paths.get(fixtures)
    Files.list(src).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val detail = dir.resolve("order_detail.tsv")
    val lines = Files.readAllLines(detail)
    val first = lines.get(0).split("\t")
    lines.set(0, (first.init :+ "1000").mkString("\t"))
    Files.write(detail, lines)
    val mart = new BookOrdersMart(spark, dir.toString,
      s"${TestSpark.scratch}/bookorders-overflow")
    val run = Future(scala.util.Try(mart.buildAll()))
    val result = Await.result(run, 5.minutes)
    val err = result.failed.get
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toList
    assert(chain.exists(e => String.valueOf(e.getMessage)
      .contains("NUMERIC_VALUE_OUT_OF_RANGE")), chain.mkString("\n"))
    assert(!mart.mat.exists("sales") && !mart.mat.exists("View1"))
    assert(mart.mat.exists("time"))
  }
}
