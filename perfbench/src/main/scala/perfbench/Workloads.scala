package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bookorders.{BookOrdersMart, Model}
import graft.matview.{Materializer, Snapshots}
import graft.matview.Materializer.Measure
import graft.operators.NaturalJoin.natural

/** One timed operation. `build` is the call into the engine (and runs
  * whatever eager jobs the engine runs there); the harness then plans the
  * returned frame and drains it into the noop sink. `check` names the
  * oracle its output is compared with; `after` measures storage effects
  * once the op is done, outside the timed interval. `checkNow` marks an
  * op whose output later ops of the pass change (a scan of view storage
  * that a refresh replaces): its output is written for the check right
  * after the op instead of after the pass. */
final case class Op(name: String, layer: String, check: String,
    build: (Trace, SparkSession) => DataFrame,
    after: () => Map[String, Double] = () => Map.empty,
    checkNow: Boolean = false)

object Workloads {

  val olapKeys: Seq[String] = Seq("agg_sum_group3", "filter_conjunct",
    "join_natural_5way", "topk_order_limit", "window_cumulative",
    "agg_count_distinct", "events_sessionize")

  val pipelineKeys: Seq[String] = Seq("dedup_ngram_jaccard",
    "text_tfidf_cosine", "text_bpe_train", "text_quality",
    "similarity_topk_bruteforce", "events_attribution")

  /** The engine module a registered key lives in. */
  def layerOf(key: String): String =
    if (key == "matview_stream_refresh") "streaming"
    else if (Seq(graft.ext.TextOps.entries, graft.ext.Dedup.entries,
        graft.ext.Similarity.entries, graft.ext.EventOps.entries,
        graft.ext.Multimodal.entries).exists(_.contains(key))) "ext"
    else "queries"

  def keyOp(key: String, dir: String): Op =
    Op(key, layerOf(key), s"key:$key",
      (_, s) => graft.SparkEntry.queries(key)(s, dir))

  /** Ops of one pass. Mart passes keep all their state (views, snapshot
    * log, rewrite registrations) under `passDir`, so every pass starts
    * from the same empty storage. */
  def pass(workload: String, tables: String, bookorders: String,
      passDir: String, rounds: Int): (Seq[Op], () => Unit) = workload match {
    case "olap_pipeline" => ((olapKeys ++ pipelineKeys).map(keyOp(_, tables)), () => ())
    case "mart_lifecycle" =>
      val m = new MartPass(bookorders, tables, passDir, rounds)
      (m.ops, () => m.close())
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Where a mart pass keeps its materialized view. */
  def mvDir(passDir: String): String = s"$passDir/mv"

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def dirStats(p: Path): (Double, Double) =
    if (!Files.exists(p)) (0.0, 0.0)
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .toArray.map(_.asInstanceOf[Path])
        .foldLeft((0.0, 0.0)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
}

/** The reference workload: Book Orders ETL and its 15-view DAG, the
  * Question 4/5 reads against raw tables, the mart and the views, then
  * delta rounds that append order lines to a snapshot log, refresh a
  * join-aggregate view from the delta alone and read it back through
  * the rewriter, and one streaming refresh. */
final class MartPass(bookorders: String, tables: String, passDir: String,
    rounds: Int) {
  private val factTable = "orderlines"
  private val mvName = "mv_city_day"
  private val mvDir = Workloads.mvDir(passDir)
  private var mart: BookOrdersMart = _
  private var snap: Snapshots = _
  private var mat: Materializer = _

  private def readTsv(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(Model.all(name)).option("sep", "\t")
      .option("nullValue", "\\N").csv(s"$dir/$name.tsv")

  private def orderLines(custOrder: DataFrame, detail: DataFrame): DataFrame =
    natural(natural(detail, custOrder), mart.book)
      .select(col("customerid"), col("orderdate"),
        (col("quantity") * col("price")).as("amount"))

  private def dim: DataFrame = mart.customer.select("customerid", "city")

  /** The view's defining query over one snapshot version of the fact. */
  private def defining(fact: DataFrame): DataFrame =
    fact.join(dim, Seq("customerid")).groupBy("city", "orderdate")
      .agg(sum(col("amount")).as("sumspending"), count(lit(1)).as("lines"))

  /** Question 5b's running total per city, written against the base
    * fact: the rewriter answers the aggregate from the refreshed view. */
  private def cumulative(fact: DataFrame): DataFrame =
    defining(fact).select(col("city"), col("orderdate"), col("sumspending"),
      col("lines"), sum(col("sumspending")).over(
        Window.partitionBy("city").orderBy("orderdate")).as("cumulative_sum"))

  private def read(name: String, check: String)(q: BookOrdersMart => DataFrame): Op =
    Op(name, "bookorders", check, (_, _) => q(mart))

  private def deltaRound(k: Int): Op = {
    var version = -1
    Op(s"delta_round_$k", "matview", s"delta:$k", (t, s) => {
      val sc = s.sparkContext
      val d = s"$bookorders/delta_$k"
      val delta = orderLines(readTsv(s, d, "cust_order"), readTsv(s, d, "order_detail"))
      version = t.span(sc, "call", "snapshots.commit")(snap.commitAppend(factTable, delta))._1
      t.span(sc, "call", "matview.refresh")(
        mat.refreshJoinDelta(mvName, snap.readDelta(factTable, version)))
      val fact = snap.read(factTable, version)
      t.span(sc, "call", "matview.redefine")(mat.redefine(mvName, defining(fact)))
      cumulative(fact)
    }, () => {
      val (deltaFiles, deltaBytes) =
        Workloads.dirStats(Paths.get(s"$passDir/snap/$factTable/d$version"))
      val (mvFiles, mvBytes) = Workloads.dirStats(Paths.get(s"$mvDir/$mvName"))
      Map("delta_bytes" -> deltaBytes, "written_bytes" -> (deltaBytes + mvBytes),
        "files_written" -> (deltaFiles + mvFiles))
    }, checkNow = true)
  }

  val ops: Seq[Op] = Seq(
    Op("bookorders_etl", "bookorders", "etl", (t, s) => {
      mart = new BookOrdersMart(s, bookorders, s"$passDir/bookorders")
      val counts = t.span(s.sparkContext, "call", "bookorders.build")(mart.buildAll())._1
      s.createDataFrame(counts).toDF("mv", "rows")
    }),
    read("q4a_raw", "q4a")(_.q4aRaw),
    read("q4a_mart", "q4a")(_.q4aMart),
    read("q4a_view1", "q4a")(_.q4aView1),
    read("q4b_raw", "q4b")(_.q4bRaw),
    read("q4b_view3", "q4b")(_.q4bView3),
    read("q5b_nested", "q5b")(_.q5bNested),
    read("q5b_view", "q5b")(_.q5bCumulative),
    Op("mv_create", "matview", "mv", (t, s) => {
      val sc = s.sparkContext
      snap = new Snapshots(s, s"$passDir/snap")
      mat = new Materializer(s, mvDir).enableAutoRewrite()
      val v0 = t.span(sc, "call", "snapshots.commit")(
        snap.commitAppend(factTable, orderLines(mart.custOrder, mart.orderDetail)))._1
      t.span(sc, "call", "matview.create")(mat.createJoinAggregated(mvName,
        snap.read(factTable, v0), dim, Seq("customerid"), Seq("city", "orderdate"),
        Seq(Measure.sumOf(col("amount"), "sumspending"), Measure.countAll("lines"))))._1
    }, checkNow = true)) ++
    (1 to rounds).map(deltaRound) :+
    Workloads.keyOp("matview_stream_refresh", tables)

  /** Scope the rewrite registrations to this pass. */
  def close(): Unit = if (mat != null) mat.deregisterAll()
}
