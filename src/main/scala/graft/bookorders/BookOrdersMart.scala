package graft.bookorders

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.matview.Materializer
import graft.matview.Materializer.View
import graft.operators.NaturalJoin.natural

/** The complete reference workload, Spark-native: ingest + cleanup, the
  * star-schema ETL (time dimension, sales fact), the 15-materialized-view
  * DAG, and every query of assignment-5.sql — a user of the reference can
  * run their whole script through this class.
  *
  * Scale notes (100 TB): dimensions (customer, book, time) broadcast; the
  * fact build shuffles once per distinct join key; the time-dimension
  * surrogate key uses a single-partition window only because distinct dates
  * are dimension-sized — at larger cardinality swap to a two-phase
  * (per-partition rank + offset) assignment, noted at the call site
  * (SURVEY §7.3). Aggregates stay in DecimalType: exact and
  * order-independent under any partitioning.
  *
  * The views are declared in one list ([[views]]: name, dependencies,
  * definition). [[buildAll]] hands it to [[Materializer.createAll]],
  * which builds independent views concurrently; each lazy val returns
  * its built view, or builds it (and its dependencies) on first use when
  * [[buildAll]] has not run. A definition reads other views only through
  * `mv(name)` and only the ones it declares.
  *
  * Reference citations are per method (file:line of the reference files).
  */
final class BookOrdersMart(
    spark: SparkSession,
    fixtureDir: String,
    scratchDir: String = Materializer.defaultScratch + "/bookorders") {

  val mat = new Materializer(spark, scratchDir)

  private val declared = scala.collection.mutable.ArrayBuffer.empty[View]

  /** Declare one view of the DAG; declaration order is creation order. */
  private def declare(name: String, dependsOn: String*)(define: => DataFrame): Unit =
    declared += View(name, dependsOn, () => define)

  // ---- ingest (dump COPY blocks; BookOrdersDatabaseDump_17.sql:123–1648) --

  private def readTsv(name: String): DataFrame =
    spark.read
      .schema(Model.all(name))
      .option("sep", "\t")
      .option("nullValue", "\\N")
      .csv(s"$fixtureDir/$name.tsv")

  lazy val author: DataFrame = readTsv("author")
  lazy val book: DataFrame = readTsv("book")
  lazy val bookAuthor: DataFrame = readTsv("book_author")
  lazy val custOrder: DataFrame = readTsv("cust_order")
  lazy val orderDetail: DataFrame = readTsv("order_detail")

  /** customer + the three data-cleaning updates (assignment-5.sql:13–15). */
  lazy val customer: DataFrame = readTsv("customer")
    .withColumn("city",
      when(col("city") === "Sidney", "Sydney").otherwise(col("city")))
    .withColumn("district",
      when(col("customerid") === 96, "Povardarje")
        .when(col("customerid") === 100, "Budapest")
        .otherwise(col("district")))

  // ---- ETL: dimensions + fact ------------------------------------------

  /** Time dimension (assignment-5.sql:42–61): distinct order dates with a
    * dense surrogate key assigned in ascending date order (SURVEY §7.3 —
    * deterministic by construction, unlike PG's SERIAL). Day/month names
    * are stored trimmed (bpchar padding normalized, §7.1). The surrogate
    * key comes from the two-phase distributed rank (§7.3's noted 100 TB
    * variant, [[graft.operators.Ranks.rowNumberByRange]]): at the fixture
    * scale (124 dates) it is equivalent to the single-partition
    * row_number — RanksSpec pins that equality on random date sets —
    * but it stays distributed when the distinct-date cardinality is
    * fact-scale (e.g. a per-second grain). */
  lazy val time: DataFrame = mv("time")
  declare("time")(
    graft.operators.Ranks.rowNumberByRange(
      custOrder.select(col("orderdate")).distinct(),
      8, Seq(col("orderdate")), "timeid")
      .select(
        col("timeid"),
        col("orderdate"),
        date_format(col("orderdate"), "EEEE").as("dayofweek"),
        date_format(col("orderdate"), "MMMM").as("month"),
        year(col("orderdate")).as("year")))

  /** Sales fact (assignment-5.sql:70–80): 5-way natural join + 3-key sum,
    * amnt = sum(quantity*price)::numeric(6,2). Join keys resolve to
    * isbn / orderid / customerid / orderdate exactly as PG's NATURAL JOIN
    * does (SURVEY §2.3 J1). */
  lazy val sales: DataFrame = mv("sales")
  declare("sales", "time")(
    natural(natural(natural(natural(
      book, orderDetail), custOrder), customer), mv("time"))
      .groupBy("customerid", "timeid", "isbn")
      .agg(sum(col("quantity") * col("price")).cast(DecimalType(6, 2)).as("amnt")))

  // ---- Question 2: aggregate queries (assignment-5.sql:120–175) --------

  /** avg_amnt_view (sql:128–133) — per-customer avg, the WRONG input for a
    * global average (the reference's lesson, assignment-5.md:160–187). */
  lazy val avgAmntView: DataFrame = mv("avg_amnt_view")
  declare("avg_amnt_view", "sales")(
    mv("sales").groupBy("customerid").agg(avg(col("amnt")).as("avg_amnt")))

  def avgOfAvg: DataFrame = avgAmntView.agg(avg(col("avg_amnt")).as("avg"))

  def globalAvgAmnt: DataFrame = sales.agg(avg(col("amnt")).as("avg"))

  /** sum_customer_per_day (sql:149–155). */
  lazy val sumCustomerPerDay: DataFrame = mv("sum_customer_per_day")
  declare("sum_customer_per_day", "sales")(
    mv("sales").groupBy("customerid", "timeid")
      .agg(sum(col("amnt")).as("amnt_spent_daily_by_customers")))

  def avgSpendingPerCustomerDay: DataFrame =
    sumCustomerPerDay.agg(avg(col("amnt_spent_daily_by_customers")).as("avg"))

  /** avg_spending_by_customer_on_each_day (sql:165–170) + the weighted
    * recombination that recovers the true average (sql:172–175). */
  lazy val avgSpendingByDay: DataFrame = mv("avg_spending_by_customer_on_each_day")
  declare("avg_spending_by_customer_on_each_day", "sum_customer_per_day")(
    mv("sum_customer_per_day").groupBy("timeid").agg(
      count(col("customerid")).as("number_of_customer_a_day"),
      avg(col("amnt_spent_daily_by_customers")).as("avg_spending")))

  def weightedTotalAvg: DataFrame =
    avgSpendingByDay.agg(
      (sum(col("avg_spending") * col("number_of_customer_a_day")) /
        sum(col("number_of_customer_a_day"))).as("total_avg"))

  // ---- Question 3: OLAP queries (assignment-5.sql:185–283) -------------

  /** best_buyers (sql:191–200): top-5 spenders. GROUP BY the PK with
    * dependent name columns aggregated (FD rewrite, SURVEY §7.4). */
  lazy val bestBuyers: DataFrame = mv("best_buyers")
  declare("best_buyers", "sales")(
    natural(mv("sales"), customer)
      .groupBy(col("customerid").as("customer_id"))
      .agg(
        min(col("f_name")).as("first_name"),
        min(col("l_name")).as("last_name"),
        sum(col("amnt")).as("spending"))
      .orderBy(col("spending").desc, col("customer_id"))
      .limit(5))

  /** The single best buyer — re-sorted before LIMIT 1 because Spark keeps
    * no stored order after shuffle (SURVEY §7.6). */
  def bestBuyer: DataFrame = topOf(bestBuyers)

  private def topOf(bestBuyers: DataFrame): DataFrame =
    bestBuyers.orderBy(col("spending").desc, col("customer_id"))
      .limit(1).select("customer_id")

  /** amount_per_order (sql:213–218). */
  lazy val amountPerOrder: DataFrame = mv("amount_per_order")
  declare("amount_per_order")(
    natural(orderDetail, book)
      .groupBy("orderid")
      .agg(sum(col("quantity") * col("price")).as("order_amount")))

  /** ord_avg_amnt (sql:221–223). */
  lazy val ordAvgAmnt: DataFrame = mv("ord_avg_amnt")
  declare("ord_avg_amnt", "amount_per_order")(
    mv("amount_per_order").agg(avg(col("order_amount")).as("ord_avg_amnt")))

  /** no_of_ord (sql:232–235): order count of the best buyer (semi-join
    * against the LIMIT-1 subquery, SURVEY §2.3 J4). */
  lazy val noOfOrd: DataFrame = mv("no_of_ord")
  declare("no_of_ord", "best_buyers")(
    custOrder.join(broadcast(topOf(mv("best_buyers"))),
        col("customerid") === col("customer_id"), "left_semi")
      .groupBy("customerid")
      .agg(count(col("orderid")).as("no_of_ord"))
      .select("no_of_ord"))

  /** amount_per_order_by_customer (sql:244–250). */
  lazy val amountPerOrderByCustomer: DataFrame = mv("amount_per_order_by_customer")
  declare("amount_per_order_by_customer", "best_buyers")(
    natural(natural(natural(orderDetail, book), custOrder), customer)
      .join(broadcast(topOf(mv("best_buyers"))),
        col("customerid") === col("customer_id"), "left_semi")
      .groupBy("orderid")
      .agg(sum(col("quantity") * col("price")).as("order_amount")))

  /** perc_of_ord (sql:259–263): NATURAL JOIN over relations with no common
    * columns — a cross join in PG, explicit here (SURVEY §7.7). */
  lazy val percOfOrd: DataFrame = mv("perc_of_ord")
  declare("perc_of_ord", "amount_per_order_by_customer", "ord_avg_amnt", "no_of_ord")(
    natural(natural(mv("amount_per_order_by_customer"), mv("ord_avg_amnt")),
        mv("no_of_ord"))
      .filter(col("order_amount") > col("ord_avg_amnt"))
      .groupBy("no_of_ord")
      .agg(((count(lit(1)) * 100).cast(DecimalType(20, 0)) / col("no_of_ord"))
        .as("perc_of_ord"))
      .select("perc_of_ord"))

  /** The 4-arm CASE verdict (sql:266–283). */
  def verdict: DataFrame =
    percOfOrd.select(
      col("perc_of_ord"),
      when(col("perc_of_ord") >= 75,
        "we estimate that the best buyer has issued a greater (than average) number of orders with greater (than average) amounts of money")
        .when(col("perc_of_ord") >= 50,
          "we estimate that the best buyer has issued a greater (than average) to medium number of orders with greater (than average) amounts of money")
        .when(col("perc_of_ord") >= 25,
          "we estimate that the best buyer has issued a small to medium number of orders with greater (than average) amounts of money")
        .otherwise(
          "we estimate that the best buyer has issued a small number of orders with greater (than average) amounts of money")
        .as("case"))

  // ---- Question 4: materialized-view variants (assignment-5.sql:293–470) --

  /** View1 (sql:300–310): denormalized row-level MV. */
  lazy val view1: DataFrame = mv("View1")
  declare("View1", "sales", "time")(
    natural(natural(mv("sales"), customer), mv("time")).select(
      "customerid", "f_name", "l_name", "district",
      "timeid", "dayofweek", "isbn", "amnt"))

  /** View2 (sql:313–321): pre-aggregated to (customer, year); the sum
    * column is literally named `sum`, as in the reference. */
  lazy val view2: DataFrame = mv("View2")
  declare("View2", "sales", "time")(
    natural(natural(mv("sales"), customer), mv("time"))
      .groupBy("customerid", "f_name", "l_name", "year")
      .agg(sum(col("amnt")).as("sum")))

  /** View3 (sql:401–409): district-grained MV. */
  lazy val view3: DataFrame = mv("View3")
  declare("View3", "sales", "time")(
    natural(natural(mv("sales"), customer), mv("time"))
      .groupBy("district", "timeid", "dayofweek", "isbn")
      .agg(sum(col("amnt")).as("sum")))

  /** Q4a (top-5 buyers) in its four formulations (sql:328–393). All must
    * return identical rows — the MV-rewrite invariant (BASELINE.md). */
  def q4aRaw: DataFrame = {
    val inlineSales = natural(natural(natural(natural(
      book, orderDetail), custOrder), customer), time)
      .groupBy("customerid", "timeid", "isbn")
      .agg(sum(col("quantity") * col("price")).cast(DecimalType(6, 2)).as("amnt"))
    topBuyers(natural(inlineSales, customer))
  }
  def q4aMart: DataFrame = topBuyers(natural(sales, customer))
  def q4aView1: DataFrame = topBuyers(view1)
  def q4aView2: DataFrame =
    view2.groupBy(col("customerid").as("customer_id"))
      .agg(min(col("f_name")).as("first_name"), min(col("l_name")).as("last_name"),
        sum(col("sum")).cast(DecimalType(16, 2)).as("spending"))
      .orderBy(col("spending").desc, col("customer_id")).limit(5)

  private def topBuyers(df: DataFrame): DataFrame =
    df.groupBy(col("customerid").as("customer_id"))
      .agg(min(col("f_name")).as("first_name"), min(col("l_name")).as("last_name"),
        sum(col("amnt")).cast(DecimalType(16, 2)).as("spending"))
      .orderBy(col("spending").desc, col("customer_id")).limit(5)

  /** Q4b (top country) in its four formulations (sql:415–469). View2 joins
    * customer on {customerid, f_name, l_name} — the natural-join key-set
    * trap, reproduced faithfully (SURVEY §7.5). */
  def q4bRaw: DataFrame = {
    val inlineSales = natural(natural(natural(natural(
      book, orderDetail), custOrder), customer), time)
      .groupBy("customerid", "timeid", "isbn")
      .agg(sum(col("quantity") * col("price")).cast(DecimalType(6, 2)).as("amnt"))
    topCountry(natural(customer, inlineSales), col("amnt"))
  }
  def q4bMart: DataFrame = topCountry(natural(customer, sales), col("amnt"))
  def q4bView2: DataFrame = topCountry(natural(view2, customer), col("sum"))
  def q4bView3: DataFrame =
    topCountry(natural(view3,
      customer.select("district", "country").distinct()), col("sum"))

  private def topCountry(df: DataFrame, amount: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col("country"))
      .agg(sum(amount).cast(DecimalType(16, 2)).as("spending"))
      .orderBy(col("spending").desc, col("country")).limit(1)

  // ---- Question 5: window queries (assignment-5.sql:478–614) -----------

  private def aprilMay2017: DataFrame =
    natural(natural(mv("sales"), customer), mv("time"))
      .filter(col("month").isin("April", "May") && col("year") === 2017)

  /** Q5a merged report (sql:512–527): two named windows + DISTINCT. */
  def q5aReport: DataFrame = {
    val custWin = Window.partitionBy("customerid")
    val cityWin = Window.partitionBy("city")
    aprilMay2017.select(
        col("customerid"),
        col("f_name").as("firstname"),
        col("city"),
        sum(col("amnt")).over(custWin).as("sumofsalesbycustomer"),
        avg(col("amnt")).over(cityWin).as("avgofsalesbycity"))
      .distinct()
      .orderBy("city", "customerid")
  }

  /** customer_spending MV (sql:534–543) + the per-city window report over
    * it (sql:549–557). */
  lazy val customerSpending: DataFrame = mv("customer_spending")
  declare("customer_spending", "sales", "time")(
    aprilMay2017.groupBy(
        col("customerid"), col("f_name").as("firstname"), col("city"))
      .agg(sum(col("amnt")).as("amountofspending")))

  def q5aMvReport: DataFrame =
    customerSpending.select(
        col("customerid"), col("firstname"), col("city"), col("amountofspending"),
        avg(col("amountofspending"))
          .over(Window.partitionBy("city")).as("avgspendingbycity"))
      .orderBy("city", "customerid")

  /** sum_per_day_per_city MV (sql:567–576) + cumulative window (sql:581–588). */
  lazy val sumPerDayPerCity: DataFrame = mv("sum_per_day_per_city")
  declare("sum_per_day_per_city", "sales", "time")(
    aprilMay2017.groupBy(col("city"), col("timeid"), col("orderdate").as("day"))
      .agg(sum(col("amnt")).as("sumspending")))

  def q5bCumulative: DataFrame =
    sumPerDayPerCity.select(
        col("city"), col("timeid"), col("day"), col("sumspending"),
        sum(col("sumspending"))
          .over(Window.partitionBy("city").orderBy("timeid"))
          .as("cumulative_sum"))
      .orderBy("city", "timeid")

  /** Q5b as one nested query with stacked windows (sql:597–614) — must
    * equal [[q5bCumulative]] row for row (assignment-5.md:1094–1130). */
  def q5bNested: DataFrame = {
    val winDate = Window.partitionBy("city", "timeid")
    val inner = aprilMay2017.select(
        col("city"), col("timeid"), col("orderdate").as("day"),
        sum(col("amnt")).over(winDate).as("sumspending"))
      .distinct()
    inner.select(
        col("city"), col("timeid"), col("day"), col("sumspending"),
        sum(col("sumspending"))
          .over(Window.partitionBy("city").orderBy("timeid"))
          .as("cumulative_sum"))
      .orderBy("city", "timeid")
  }

  /** The view DAG in creation order (a dependency order): the 15 MVs of
    * assignment-5.sql with the `time` dimension and `sales` fact. */
  private[graft] val views: Seq[View] = declared.toList

  private val viewByName: Map[String, View] = views.map(v => v.name -> v).toMap

  /** A declared view: the stored one, or built now (dependencies first,
    * in this thread) when it does not exist yet. On-demand builds take
    * one lock, so two first uses of a view never build it twice. */
  private def mv(name: String): DataFrame =
    if (mat.exists(name)) mat.table(name)
    else viewByName.synchronized {
      if (!mat.exists(name)) {
        val v = viewByName(name)
        v.dependsOn.foreach(mv)
        mat.create(v.name, v.define(), v.dependsOn)
      }
      mat.table(name)
    }

  /** Build everything (the script-runner shape, SURVEY §2.1 S7): the views
    * not built yet run through [[Materializer.createAll]], independent
    * ones concurrently. Returns (mv-name, rows) in creation order; the
    * rows come from the written footers. */
  def buildAll(): Seq[(String, Long)] = {
    // first use of a lazy val locks `this`; initialize the shared inputs
    // here so the concurrent definitions only read them
    Seq(book, orderDetail, custOrder, customer)
    mat.createAll(views.filterNot(v => mat.exists(v.name)))
    views.map(v => v.name -> mat.rows(v.name))
  }
}
