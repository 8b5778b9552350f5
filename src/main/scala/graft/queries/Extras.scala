package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

import graft.Tables._

/** Completion surface beyond the reference's own operator set (SURVEY §2
  * extension notes): scalar function families, grouping sets, min/max
  * aggregates, ntile, sliding event-time windows, approximate distinct —
  * the pieces a user expects from a general OLAP engine.
  *
  * Scalar functions chosen for cross-engine IEEE determinism: sqrt is
  * correctly rounded (identical everywhere); transcendental libm functions
  * (ln/exp/pow) are NOT and are deliberately absent from the oracle-checked
  * surface.
  */
object Extras {

  type Q = (SparkSession, String) => DataFrame

  /** String function family: case, substring, concat, pad, trim, LIKE,
    * regexp_replace, translate (the to_char/bpchar-adjacent surface). */
  def fnString(s: SparkSession, d: String): DataFrame =
    load(s, d, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        lower(col("c_mktsegment")).as("lower_seg"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
        rpad(col("c_mktsegment"), 12, " ").as("seg_padded"),
        trim(rpad(col("c_mktsegment"), 12, " ")).as("seg_trimmed"),
        col("c_name").like("%1%").as("has_one"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_translated"))
      .orderBy("c_custkey")

  /** Math function family over exact-deterministic operations. */
  def fnMath(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") - 50000.0).as("abs_centered"),
        sqrt(col("l_extendedprice")).as("sqrt_price"),
        ceil(col("l_discount") * 100).as("disc_pct_ceil"),
        floor(col("l_tax") * 100).as("tax_pct_floor"),
        round(col("l_extendedprice") / 1000, 1).as("price_k"),
        (col("l_quantity") * col("l_quantity")).as("qty_sq"))
      .orderBy("l_orderkey", "l_linenumber")

  /** NULL handling: nullif / coalesce / null-aware counts (the DEFAULT /
    * NOT NULL constraint surface, SURVEY §1). */
  def exprNullHandling(s: SparkSession, d: String): DataFrame = {
    val withNulls = load(s, d, "customer")
      .withColumn("seg_or_null", nullif(col("c_mktsegment"), lit("BUILDING")))
    withNulls.groupBy(coalesce(col("seg_or_null"), lit("(defaulted)")).as("segment"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("seg_or_null")).as("n_nonnull"),
        sum(col("seg_or_null").isNull.cast("int")).as("n_null"))
      .orderBy("segment")
  }

  /** CUBE grouping sets (roll-up's sibling; reference names the OLAP
    * concept, assignment-5.md:278–283). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .cube(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice")).as("revenue"))
      .select(
        coalesce(col("yr"), lit(-1)).as("yr"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("n"), col("revenue"))
      .orderBy("yr", "status")

  /** PIVOT: status values become columns (count per priority x status).
    * The pivoted values are declared, not discovered — at scale an
    * undeclared pivot needs a driver-side distinct pass first, so the
    * declared form is the one that survives 100 TB. */
  def aggPivot(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      // empty combinations pivot to null; the conditional-count oracle
      // (and any sane consumer) wants 0
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy("o_orderpriority")

  /** GROUPING SETS beyond rollup/cube: an explicit, non-hierarchical set
    * list ((status, priority), (status), ()) via the SQL surface. */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    load(s, d, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |coalesce(o_orderpriority, 'ALL') AS priority,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** RANGE frame over an interval: per-customer trailing-7-day spend.
    * The frame is value-based (RANGE, not ROWS): all orders within 6 days
    * before the current order's day count, regardless of row count —
    * expressed over an integer day number so both engines share frame
    * semantics exactly. */
  def windowRangeInterval(s: SparkSession, d: String): DataFrame = {
    val day = (unix_micros(col("o_orderdate").cast("timestamp")) /
      86400000000L).cast("long")
    val w = Window.partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-6, Window.currentRow)
    load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
        dec(col("o_totalprice")).as("p"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("p")).over(w).cast("double").as("trailing_7d_spend"))
      .orderBy("o_orderkey")
  }

  /** UNPIVOT: the pivoted (F, O, P) count columns melted back to
    * (priority, status, n) rows — schema-to-rows reshaping. */
  def aggUnpivot(s: SparkSession, d: String): DataFrame =
    aggPivot(s, d).unpivot(
        Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")),
        "o_orderstatus", "n")
      .orderBy("o_orderpriority", "o_orderstatus")

  /** Correlated scalar subquery — Catalyst decorrelates it into an outer
    * aggregate join; the surface matters for SQL users porting from PG. */
  def joinCorrelatedScalar(s: SparkSession, d: String): DataFrame = {
    load(s, d, "customer").createOrReplaceTempView("customer_cs")
    load(s, d, "orders").createOrReplaceTempView("orders_cs")
    s.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders_cs o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_cs c ORDER BY c_custkey""".stripMargin)
  }

  /** Discrete median per group: percentile_disc picks an actual element,
    * so the result is engine-exact (no interpolation arithmetic). p=0.5
    * is deliberate — it is the one percentile where Spark's
    * cume_dist-based selection and DuckDB's index-based selection
    * provably pick the same element for every group size; other p
    * values can differ by one element between the two rules. */
  def aggMedianDisc(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
        .as("median_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Interpolated (continuous) percentiles — the reporting complement of
    * [[aggMedianDisc]]'s discrete form. Spark's exact `percentile` and
    * DuckDB's `quantile_cont` share the p*(n-1) linear-interpolation
    * definition, and both interpolate in IEEE double, so the values are
    * bit-identical (verified across all groups incl. float-noise digits).
    * Exact percentiles sort within each group; at 100 TB cardinality use
    * approx_percentile — this key pins the exact semantics. */
  def aggPercentileCont(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Regex function family over document text: extract, match-test,
    * count, extract-all (CSV-rendered for engine-neutral hashing). Kept
    * to character-class patterns both regex engines (Java util.regex vs
    * RE2) treat identically. */
  def fnRegex(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "([0-9]+)", 1).as("first_number"),
        col("text").rlike("data").as("mentions_data"),
        regexp_count(col("text"), lit("the")).as("n_the"),
        array_join(expr("regexp_extract_all(text, '[0-9]+', 0)"), ",")
          .as("all_numbers"))
      .orderBy("doc_id")

  /** Date arithmetic family: day/month offsets (month addition clamps to
    * month end in both engines), month/quarter boundaries, epoch-day
    * distance. */
  def fnDateArith(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("plus_30d"),
        add_months(col("o_orderdate"), 2).as("plus_2mo"),
        last_day(col("o_orderdate")).as("month_end"),
        trunc(col("o_orderdate"), "month").as("month_start"),
        quarter(col("o_orderdate")).as("qtr"),
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01")))
          .as("epoch_day"))
      .orderBy("o_orderkey")

  /** Explicit NULL ordering — Spark's default (NULLS FIRST on ASC) is the
    * opposite of PostgreSQL/DuckDB's, so portable queries must say which
    * they mean; the ordering is captured as row_number VALUES (the gate
    * sorts rows before hashing, so bare output order is invisible). Both
    * total orders are computed with the two-phase distributed rank
    * ([[graft.operators.Ranks.rowNumberByRange]]) — range partition +
    * narrow local scan + tiny offset join — so pointing this at a
    * fact-sized table never funnels it through one task; (seg, c_custkey)
    * is a total order, the helper's precondition. */
  def orderbyNulls(s: SparkSession, d: String): DataFrame = {
    val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
    val base = load(s, d, "customer").select(col("c_custkey"), seg.as("seg"))
    val last = graft.operators.Ranks.rowNumberByRange(base, 8,
      Seq(col("seg").asc_nulls_last, col("c_custkey")), "rn_nulls_last")
    val first = graft.operators.Ranks.rowNumberByRange(base, 8,
      Seq(col("seg").desc_nulls_first, col("c_custkey")), "rn_nulls_first")
      .select(col("c_custkey").as("__ck"), col("rn_nulls_first"))
    last.join(first, col("c_custkey") === col("__ck"))
      .select(col("c_custkey"), col("seg"),
        col("rn_nulls_last"), col("rn_nulls_first"))
      .orderBy("c_custkey")
  }

  /** Typed Dataset[T] surface: case-class encoder, typed filter,
    * groupByKey + mapGroups with an imperative per-group fold — the API a
    * Scala user reaches for when per-group logic outgrows expressions.
    * The fold accumulates exact long cents (order-insensitive), so the
    * result is engine-exact despite the lambda. Scale note: the typed
    * path pays serialization per row and drops out of codegen — it's the
    * right tool for genuinely imperative group logic, and the declarative
    * form remains preferred; this key pins API parity, not a perf
    * recommendation. */
  def typedDataset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .as[Extras.OrderRow]
    ds.filter(_.o_totalprice > 100000.0)
      .groupByKey(_.o_orderstatus)
      .mapGroups { (k, it) =>
        var n = 0L
        var cents = 0L
        var maxKey = Long.MinValue
        it.foreach { o =>
          n += 1
          cents += math.round(o.o_totalprice * 100)
          maxKey = math.max(maxKey, o.o_orderkey)
        }
        (k, n, cents.toDouble / 100.0, maxKey)
      }
      .toDF("o_orderstatus", "n_big", "revenue", "max_orderkey")
      .orderBy("o_orderstatus")
  }

  /** Column profiler — the warehouse data-quality sweep: per-column
    * (rows, distincts, min/max rendered to string), melted to (column,
    * metric, value) rows. One column-pruned pass PER COLUMN, each a
    * map-side-combinable per-value rollup (groupBy value → count) whose
    * |distinct|-sized result yields all four metrics in one tiny final
    * aggregate. NOT five countDistinct in one agg: Spark plans multiple
    * distinct aggregates over different expressions as an Expand that
    * multiplies EVERY input row once per distinct group (×6 here)
    * through the first exchange — the same Expand hazard that OOM'd the
    * agg_hll_distinct sf100 probe. Per-column rollups shuffle only
    * |distinct values| rows each, against 6N for the fused form. */
  def profileTable(s: SparkSession, d: String): DataFrame = {
    val o = load(s, d, "orders")
    // doubles render differently across engines; profile money through
    // the exact decimal so min/max strings match byte for byte
    def v(c: String) = if (c == "o_totalprice") dec(col(c)) else col(c)
    val profiled = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate").map { c =>
      o.select(v(c).as("v")).groupBy("v").agg(count(lit(1)).as("n"))
        .agg(
          // coalesce: sum over an EMPTY rollup is NULL, but COUNT(c)
          // over an empty table is 0 — the string must say so
          coalesce(sum(when(col("v").isNotNull, col("n")).otherwise(0L)),
            lit(0L)).cast("string").as("count"),
          count(col("v")).cast("string").as("n_distinct"),
          min(col("v")).cast("string").as("min"),
          max(col("v")).cast("string").as("max"))
        .select(explode(array(
          Seq("count", "n_distinct", "min", "max").map(m =>
            struct(lit(c).as("column_name"), lit(m).as("metric"),
              col(m).as("value"))): _*)).as("r"))
        .select(col("r.column_name"), col("r.metric"), col("r.value"))
    }
    profiled.reduce(_.unionByName(_)).orderBy("column_name", "metric")
  }

  /** Equi-width histogram via width_bucket — 20 buckets over the price
    * domain; the shape ANALYZE-style stats and dashboards both need.
    * Bucket edges are integers, so assignment is exact in both engines. */
  def profileHistogram(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy(width_bucket(col("o_totalprice"), lit(0), lit(600000), lit(20))
        .as("bucket"))
      .agg(count(lit(1)).as("n"),
        exactSum(col("o_totalprice")).as("bucket_revenue"))
      .orderBy("bucket")

  /** Equi-DEPTH histogram — the quantile-bucket companion to the
    * equi-width [[profileHistogram]], and what ANALYZE actually stores
    * for skewed columns (equal ROW counts per bucket, data-driven
    * edges): 8 buckets over the order-price domain, each holding
    * floor(n/8) or ceil(n/8) rows exactly. The global rank that defines
    * the buckets is [[graft.operators.Ranks.rowNumberByRange]] — the
    * two-phase range scan, never a global NTILE window (a single-task
    * sort of every order at 100 TB); the bucket id is pure integer
    * arithmetic (rn-1)*8 div n replayed verbatim by the oracle, with
    * o_orderkey as the deterministic tie-break inside equal prices. */
  def profileHistogramEqdepth(s: SparkSession, d: String): DataFrame = {
    val o = load(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val n = o.count()
    graft.operators.Ranks.rowNumberByRange(o, 32,
        Seq(col("o_totalprice"), col("o_orderkey")), "rn")
      // rn is INT (rowNumberByRange's output); widen BEFORE the multiply
      // or (rn-1)*8 overflows past ~268M rows (ANSI: a hard error)
      .withColumn("bucket", expr(s"((CAST(rn AS BIGINT) - 1) * 8) div $n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        exactSum(col("o_totalprice")).as("bucket_revenue"))
      .orderBy("bucket")
  }

  /** Outlier detection by z-score with EXACT variance components: sum and
    * sum-of-squares accumulate in decimal (order-independent), the
    * mean/stddev divide once in IEEE doubles — so the flagged set is
    * deterministic, unlike a naive stddev(double) whose partial-sum order
    * differs per engine and partitioning. */
  def statOutliers(s: SparkSession, d: String): DataFrame = {
    val o = load(s, d, "orders")
    val comp = o.agg(
      count(lit(1)).as("n"),
      sum(dec(col("o_totalprice"))).cast(DoubleType).as("sx"),
      sum(dec(col("o_totalprice")) * dec(col("o_totalprice")))
        .cast(DoubleType).as("sxx")).head()
    val (n, sx, sxx) = (comp.getLong(0), comp.getDouble(1), comp.getDouble(2))
    val mean = sx / n
    val sd = math.sqrt(sxx / n - mean * mean)
    o.select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("z", round((col("o_totalprice") - mean) / sd, 6))
      .filter(abs(col("z")) > 1.5)
      .orderBy("o_orderkey")
  }

  /** Pearson correlation from exact component sums (same construction as
    * [[statOutliers]]): five decimal-exact sums, one closed-form double
    * evaluation — engine-exact where corr(double) is not. */
  def statCorr(s: SparkSession, d: String): DataFrame = {
    val li = load(s, d, "lineitem")
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    li.agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum(x * y).cast(DoubleType).as("sxy"),
        sum(x * x).cast(DoubleType).as("sxx"),
        sum(y * y).cast(DoubleType).as("syy"))
      .select(col("n"),
        round((col("sxy") / col("n") - col("sx") / col("n") * (col("sy") / col("n"))) /
          (sqrt(col("sxx") / col("n") -
            (col("sx") / col("n")) * (col("sx") / col("n"))) *
           sqrt(col("syy") / col("n") -
            (col("sy") / col("n")) * (col("sy") / col("n")))), 9)
          .as("pearson_r"))
  }

  /** A/B experiment readout — Welch's t statistic per event type between
    * the two halves of a deterministic user split (variant = user_id mod
    * 2, the hash-split every experimentation platform assigns). All
    * moments (n, Σv, Σv²) are exact decimal sums — v² stays exact
    * decimal(·,4) — cast to double ONCE; means, Welch variances and t
    * are left-associated double arithmetic rounded to 6 (the stat_corr
    * contract), so the verdict flag is decided on identical bits in any
    * engine. Shape: one (type)-keyed aggregate with conditional
    * per-variant measures and map-side combine; the result is |types|
    * rows — nothing corpus-scale moves but the rollup shuffle. */
  /** Experiment-design power analysis — the planning companion to
    * [[statAbWelch]]: for each non-purchase event type as a
    * treatment-exposure cohort, the baseline conversion rate (a
    * purchase by the SAME user within one hour of the exposure — event
    * grain, so the rate is non-degenerate on a corpus where every user
    * eventually purchases) and the required per-arm sample size to
    * detect a 5% relative lift at alpha 0.05 / power 0.8
    * (two-proportion normal approximation,
    * n = (z_a + z_b)^2 (p1 q1 + p2 q2) / (p1 - p2)^2). The z constants
    * are exact double literals — the oracle casts its copies ::DOUBLE
    * so neither engine routes them through decimal arithmetic — and
    * every input moment is an exact long count.
    *
    * 100 TB shape: one user-keyed semi join (equi on user_id, the
    * 1-hour window as a join-condition filter — the attribution
    * pattern), two |types|-row rollups; the closed form runs on the
    * rollup, never the event stream. */
  def statPowerAnalysis(s: SparkSession, d: String): DataFrame = {
    val za = 1.959963984540054 // z_{0.975}
    val zb = 0.8416212335729143 // z_{0.8}
    val ev = load(s, d, "events")
    val exposures = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id"), col("event_type"), col("user_id"),
        col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val converted = exposures.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") > col("ts") &&
          col("p_ts") <= col("ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
      .groupBy("event_type").agg(count(lit(1)).as("n_conv"))
    val st = exposures.groupBy("event_type")
      .agg(count(lit(1)).as("n_exposures"))
      .join(converted, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exposures"),
        coalesce(col("n_conv"), lit(0L)).as("n_conv"))
      // p1 = 0 has no lift to scale; p1 = 1 is saturated (capped p2
      // equals p1, the denominator vanishes). Neither admits an
      // experiment; filter in BOTH engines.
      .filter(col("n_conv") > 0 && col("n_conv") < col("n_exposures"))
    val p1 = col("n_conv").cast("double") / col("n_exposures").cast("double")
    val p2 = least(p1 * lit(1.05), lit(1.0))
    val n = ceil(
      (lit(za + zb) * lit(za + zb) *
        (p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))) /
        ((p1 - p2) * (p1 - p2))).cast("long")
    st.select(col("event_type"), col("n_exposures"),
        round(p1, 9).as("p_base"),
        lit(0.05).as("mde_rel"),
        n.as("n_per_arm"))
      .orderBy("event_type")
  }

  /** Approximate quantiles with a pinned rank-error contract — the
    * order-statistic member of the batch sketch family
    * (`agg_approx_distinct`/`agg_kmv_distinct` cover cardinality;
    * [[aggPercentilesCont]]'s own doc defers 100 TB quantiles to the
    * sketch this key pins). Exact global quantiles at scale need a full
    * sort or the two-phase rank scan; a Greenwald–Khanna summary
    * (Greenwald & Khanna 2001, Spark's
    * `approx_percentile`) carries O(1/eps · log(eps·N)) state through an
    * ordinary partial aggregate instead). The GK VALUE is merge-order
    * sensitive (partials arrive at the final reduce in shuffle-fetch
    * order), so it never reaches the output; what the key emits is
    *   - the EXACT quantile values, computed scale-shaped (r17
    *     optimization round — the agg_quantile_sketch bucket-scan
    *     pattern): a [[graft.functions.QuantileSketchAgg]] histogram
    *     over the cents quantization folds IN THE SAME one-row
    *     aggregate as the GK summary; its exact integer counters
    *     locate each target rank's bucket, and a second scan filtered
    *     to the <= |qs| target bucket ranges recovers the
    *     (rank − cum_before)-th smallest value inside it. round(v·100)
    *     is monotone non-decreasing in v, so cents-buckets partition
    *     the v-order without inversions and the walk is exact even for
    *     values that collide in cents (ordered by raw v inside the
    *     bucket; ExtrasSpec pins exact_value against a driver-side
    *     sort). The former formulation's per-value counts relation was
    *     near-distinct on this data, so its groupBy exchange + Ranks
    *     range exchange + corpus-scale localCheckpoint moved the whole
    *     corpus twice per run; now no corpus-scale exchange exists in
    *     the key at all (ProfKey interleaved same-box A/B, best-of-N:
    *     sf1 2.78 → 2.20, sf10 8.46 → 4.71); and
    *   - the GK error contract AS DATA: the sketch value's exact rank
    *     interval [count(<v)+1, count(<=v)] must come within
    *     ceil(N/accuracy)+1 of the target rank (the published eps·N
    *     bound, +1 for the ceil edge). One scalar crossJoin pass
    *     computes all interval endpoints; the oracle pins TRUE.
    * Targets ceil(q·N) are IEEE-identical in both engines (same double
    * literals, one multiply, one ceil); the driver-side count() is a
    * column-less parquet-footer read (the dedup_semantic pattern). */
  def statApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(0.5, 0.9, 0.99)
    val ACC = 10000 // GK accuracy: rank error <= N/ACC
    val li = load(s, d, "lineitem").select(col("l_extendedprice").as("v"))
    val n = load(s, d, "lineitem").count()
    val slack = math.ceil(n.toDouble / ACC).toLong + 1
    import s.implicits._
    val targets = qs.map(q => (q, math.ceil(q * n).toLong)).toDF("q", "r")
    // ONE corpus pass computes both the GK summary under test and the
    // exact-rank sketch histogram (cents quantization — the sibling
    // agg_quantile_sketch's domain, non-negative by the same contract)
    val cents = round(col("v") * 100).cast("long")
    val pass1 = li.agg(
      expr(s"approx_percentile(v, array(${qs.mkString(", ")}), $ACC)")
        .as("avs"),
      graft.functions.QuantileSketchAgg.quantile_sketch(cents).as("sk"))
      .localCheckpoint() // 1 row, three consumers (buckets + both folds)
    val buckets = pass1
      .select(posexplode(col("sk")).as(Seq("idx", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("width", expr(graft.functions.QuantileSketchAgg.widthSql))
      .withColumn("lo", expr(graft.functions.QuantileSketchAgg.loSql))
      // sketch-sized (<= 1888 rows off a 1-row checkpoint) — post-
      // aggregation safe; the constant partition key keeps the "No
      // Partition Defined" warning out of the bench log without
      // changing the (single-partition) execution
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(lit(0)).orderBy("idx")))
    val tgt = buckets.join(broadcast(targets), col("cum") >= col("r"))
      .groupBy("q", "r")
      .agg(min(struct(col("idx"), col("lo"),
        (col("lo") + col("width") - 1).as("hi"),
        (col("cum") - col("cnt")).as("cumb"))).as("t"))
      .select(col("q"), col("r"), col("t.lo").as("lo"),
        col("t.hi").as("hi"), col("t.cumb").as("cumb"))
    // second scan, filtered to the target bucket ranges by a broadcast
    // <= 3-row range join: the (q, v) aggregate and the per-q window run
    // over bucket-sized row sets, never the corpus
    val inb = li.join(broadcast(tgt),
        cents >= col("lo") && cents <= col("hi"))
      .groupBy("q", "r", "cumb", "v").agg(count(lit(1)).as("c"))
    val exact = inb
      .withColumn("lc",
        sum(col("c")).over(Window.partitionBy("q").orderBy("v")))
      .filter(col("cumb") + col("lc") >= col("r"))
      .groupBy("q", "r").agg(min(col("v")).as("exact_value"))
    // interval endpoints fold over the raw rows (weight 1 per row —
    // long-identical to the former counts-weighted fold)
    val cmps = qs.indices.flatMap(i => Seq(
      sum(when(col("v") < element_at(col("avs"), i + 1), 1L)
        .otherwise(0L)).as(s"lt_$i"),
      sum(when(col("v") <= element_at(col("avs"), i + 1), 1L)
        .otherwise(0L)).as(s"le_$i")))
    val ranks = li.crossJoin(broadcast(pass1.select(col("avs"))))
      .agg(cmps.head, cmps.tail: _*)
    val perQ = ranks.select(expr(
      s"stack(${qs.size}, " + qs.indices.map(i =>
        s"CAST(${qs(i)} AS DOUBLE), lt_$i, le_$i").mkString(", ") +
        ") AS (q, lt, le)"))
    exact.join(perQ, "q")
      .select(col("q"), col("exact_value"),
        (col("lt") + 1 <= col("r") + lit(slack) &&
          col("le") >= col("r") - lit(slack)).as("within_rank_contract"))
      .orderBy("q")
  }

  /** Engine-native mergeable quantile sketch — the fourth member of the
    * native sketch family ([[graft.functions.CmsAgg]] counts,
    * [[graft.functions.TopKAgg]] heavy hitters, MinHashAgg signatures;
    * this one order statistics): per l_returnflag, l_extendedprice cents
    * fold through [[graft.functions.QuantileSketchAgg]] — a log2-bucketed
    * 1888-counter histogram (DDSketch-family relative-error sketch with a
    * pure-integer bucket map) whose merge is element-wise long addition,
    * so the sketch VALUE is bit-deterministic under any merge order —
    * the property Spark's GK summary lacks (see [[statApproxQuantiles]],
    * which keeps the GK value out of its output for exactly that reason).
    *
    * Emitted per (flag, q in {0.5, 0.9, 0.99}): the sketch estimate (the
    * midpoint of the first bucket whose cumulative count reaches rank
    * ceil(q*N)), the exact quantile (per-value counts + the shared
    * [[graft.operators.Ranks]] two-phase range scan — per-flag cumulative
    * counts derived by subtracting a 3-row flag-offset broadcast, no
    * global window), and the sketch's <= 1/64 relative-error contract as
    * data. The oracle replays bucket ids with bin-string length for
    * floor(log2) — every arithmetic step is integer, so est/exact/err
    * hash-match exactly.
    *
    * 100 TB shape (r17 optimization round): the sketch folds in one
    * corpus pass through an ordinary partial aggregate (map-side combine
    * folds each partition into a 15 KiB buffer; the shuffle moves
    * |groups| x 15 KiB, never rows), and the EXACT side now rides the
    * sketch instead of a corpus-scale prefix scan. The former
    * formulation aggregated per-(flag, value) counts — near-distinct on
    * this data (26.7M of 60M rows at the sf10 probe tier), so its
    * groupBy exchange plus the Ranks range exchange + localCheckpoint
    * moved TWO corpus-scale shuffles and a corpus-scale materialization
    * per run. The sketch's counters are exact longs, so each target
    * rank's BUCKET is known exactly from the 1888-row bucket relation;
    * the exact quantile is then the (rank - cum_before)-th smallest
    * value INSIDE that one bucket, recovered by a second corpus scan
    * filtered to the <= |flags| x |qs| target bucket ranges (a broadcast
    * 9-row range join — guide §2.3: shuffle a selected fraction, not the
    * corpus). Measured (ProfQSk/ProfKey, same box session): the old
    * exact side alone read 3.8s at the sf1 probe tier where the whole
    * new key reads ~2.0s; full key sf10 21.5s -> 7.5s. Shuffle volume
    * drops from O(N) (all distinct values, twice) to O(rows in 9
    * buckets' distinct values), and nothing corpus-scale is
    * checkpointed. Every arithmetic step stays integer, so est/exact/
    * err hash-match the unchanged oracle exactly (the within-bucket
    * rank walk is pinned against a brute-force quantile in ExtrasSpec). */
  def aggQuantileSketch(s: SparkSession, d: String): DataFrame =
    aggQuantileSketchOf(s,
      load(s, d, "lineitem").select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("v")))

  /** [[aggQuantileSketch]] over an explicit (flag, v BIGINT) frame — the
    * fixture-testable core (the lineDedupOf / nbClassifierOf pattern). */
  private[graft] def aggQuantileSketchOf(
      s: SparkSession, li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    val targets = broadcast(qs.toDF("q"))
    // the rank base counts what the sketch folds: non-null v only (null
    // v rows would raise n past the sketch's total, so a high quantile's
    // rank could exceed every bucket's cumulative count and drop its row)
    val sk = li.groupBy("flag").agg(
      graft.functions.QuantileSketchAgg.quantile_sketch(col("v")).as("sk"),
      count(col("v")).as("n"))
    val buckets = sk
      .select(col("flag"), col("n"), posexplode(col("sk")).as(Seq("idx", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("width", expr(graft.functions.QuantileSketchAgg.widthSql))
      .withColumn("mid", expr(graft.functions.QuantileSketchAgg.midSql))
      .withColumn("lo", expr(graft.functions.QuantileSketchAgg.loSql))
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy("flag").orderBy("idx")))
      // sketch-sized (<= 1888 rows/flag) with TWO consumers below (est +
      // the target-bucket relation): checkpoint so the corpus fold runs
      // exactly once whatever the planner does with the shared subtree
      .localCheckpoint()
    // bucket midpoints are monotone in idx, so the estimate is the least
    // mid whose cumulative count covers the target rank (3-row broadcast
    // theta join — the statApproxQuantiles pattern)
    val est = buckets.join(targets, col("cum") >= ceil(col("q") * col("n")))
      .groupBy("flag", "q").agg(min(col("mid")).as("est_cents"))
    // exact per-flag quantiles from the sketch's EXACT integer counters:
    // the target bucket for rank r = ceil(q*n) is the least idx with
    // cum >= r (bucket value ranges are disjoint and increasing in idx,
    // so every row in earlier buckets has a smaller v — cum(b-1) < r <=
    // cum(b) puts the r-th smallest v inside b), and within the bucket
    // the quantile is the (r - cum_before)-th smallest value. tgt is
    // <= |flags| x |qs| rows; min(struct(idx, ...)) picks the least
    // covering bucket with its range and exclusive prefix in one pass.
    val tgt = buckets
      .join(targets, col("cum") >= ceil(col("q") * col("n")))
      .withColumn("rank", ceil(col("q") * col("n")).cast("long"))
      .groupBy(col("flag").as("tflag"), col("q"), col("rank"))
      .agg(min(struct(col("idx"), col("lo"),
        (col("lo") + col("width") - 1).as("hi"),
        (col("cum") - col("cnt")).as("cumb"))).as("t"))
      .select(col("tflag"), col("q"), col("rank"),
        col("t.lo").as("lo"), col("t.hi").as("hi"), col("t.cumb").as("cumb"))
    // second corpus scan, filtered to the target bucket ranges by a
    // broadcast range join: only the 9 buckets' rows survive to the
    // (flag, q, v) aggregate, so the exchange is bucket-sized, not
    // corpus-sized; the per-(flag, q) window below runs over <= one
    // bucket's distinct values per group
    val inb = li.join(broadcast(tgt),
        col("flag") === col("tflag") &&
          col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("flag", "q", "rank", "cumb", "v")
      .agg(count(lit(1)).as("c"))
    val exact = inb
      .withColumn("lc",
        sum(col("c")).over(Window.partitionBy("flag", "q").orderBy("v")))
      .filter(col("cumb") + col("lc") >= col("rank"))
      .groupBy("flag", "q").agg(min(col("v")).as("exact_cents"))
    est.join(exact, Seq("flag", "q"))
      .select(col("flag"), col("q"),
        (col("est_cents").cast("double") / 100.0).as("est_value"),
        (col("exact_cents").cast("double") / 100.0).as("exact_value"),
        round(abs(col("est_cents") - col("exact_cents")).cast("double") /
          col("exact_cents").cast("double"), 9).as("rel_err"),
        (abs(col("est_cents") - col("exact_cents")).cast("double") <=
          col("exact_cents").cast("double") / 64.0).as("within_rel_contract"))
      .orderBy("flag", "q")
  }

  def statAbWelch(s: SparkSession, d: String): DataFrame = {
    val v = dec(col("value"))
    val variant = pmod(col("user_id"), lit(2))
    def nD(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    val m = load(s, d, "events")
      .groupBy(col("event_type")).agg(
        sum(when(variant === 0, lit(1L)).otherwise(0L)).as("n_a"),
        sum(when(variant === 0, v)).cast(DoubleType).as("s_a"),
        sum(when(variant === 0, v * v)).cast(DoubleType).as("ssq_a"),
        sum(when(variant === 1, lit(1L)).otherwise(0L)).as("n_b"),
        sum(when(variant === 1, v)).cast(DoubleType).as("s_b"),
        sum(when(variant === 1, v * v)).cast(DoubleType).as("ssq_b"))
      .withColumn("mean_a", col("s_a") / nD(col("n_a")))
      .withColumn("mean_b", col("s_b") / nD(col("n_b")))
      .withColumn("var_a",
        (col("ssq_a") - col("s_a") * col("s_a") / nD(col("n_a"))) /
          (nD(col("n_a")) - lit(1.0)))
      .withColumn("var_b",
        (col("ssq_b") - col("s_b") * col("s_b") / nD(col("n_b"))) /
          (nD(col("n_b")) - lit(1.0)))
      .withColumn("t_welch",
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / nD(col("n_a")) +
            col("var_b") / nD(col("n_b"))), 6))
    m.select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        col("t_welch"),
        (abs(col("t_welch")) > lit(1.96)).as("significant"))
      .orderBy("event_type")
  }

  /** Engine-portable deterministic sampling: keep a row iff the first
    * byte of md5(key) clears the rate threshold. Unlike rand(seed) (RNG
    * stream = partition-order-dependent) or engine-native hash functions
    * (xxhash64 seeds differ across engines), md5 of the decimal key
    * string is bit-identical everywhere, so the same ~10% sample
    * reproduces in Spark, DuckDB, or any engine — the property a 100 TB
    * pipeline needs for resumable, auditable subsampling. Map-side only:
    * no shuffle until the verification aggregate. */
  def sampleHashPortable(s: SparkSession, d: String): DataFrame = {
    val o = load(s, d, "orders")
    val keep =
      md5Bucket(col("o_orderkey"), 2).cast(IntegerType) < 26 // 26/256 ~ 10.2%
    o.filter(keep)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"),
        exactSum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Ordinary least squares y = intercept + slope*x from the same exact
    * component sums as [[statCorr]]: one pass, one shuffle-free global
    * aggregate, closed-form double evaluation — engine-exact where
    * regr_slope(double) is partial-sum-order-dependent. Grouped per
    * returnflag so the key also exercises a keyed component aggregate. */
  def statRegression(s: SparkSession, d: String): DataFrame = {
    val li = load(s, d, "lineitem")
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast(DoubleType).as("sx"),
        sum(y).cast(DoubleType).as("sy"),
        sum(x * y).cast(DoubleType).as("sxy"),
        sum(x * x).cast(DoubleType).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        ((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n"))).as("b"),
        col("sx"), col("sy"))
      .select(col("l_returnflag"), col("n"),
        round(col("b"), 9).as("slope"),
        round((col("sy") - col("b") * col("sx")) / col("n"), 9)
          .as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Mann–Whitney U test per event type between the user_id-mod-2
    * variants — the rank-based (distribution-free) sibling of
    * [[statAbWelch]], the right readout when values are skewed and a
    * mean-based t is misleading. All rank arithmetic is EXACT LONG math:
    * ranks are computed on the per-(type, value) rollup (|distinct
    * values| rows, never the event stream) via one type-keyed window;
    * tie handling uses midranks DOUBLED to stay integral (2·rank =
    * 2·count_below + t + 1), so the variant rank sum is an exact long
    * halved once at the end. The normal-approximation z applies the
    * standard tie correction; doubles appear only in the final
    * closed-form z on identical bits, rounded to 6. Exactness bounds:
    * doubled rank sums reach n², exact below 2^63 → ~2e9 rows per type;
    * the tie term t³ would overflow long at only ~2e6 tied rows per
    * value, so it accumulates in DECIMAL(38,0) (Spark) / HUGEINT-backed
    * DECIMAL (DuckDB) — exact to 10^38. NULL values carry no rank and
    * are excluded in both engines (Spark and DuckDB default NULL sort
    * order differ, so leaving them in would silently shift every rank
    * in the partition). */
  def statMannWhitney(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
      .select(col("event_type"), dec(col("value")).as("v"),
        pmod(col("user_id"), lit(2)).as("variant"))
      .filter(col("v").isNotNull)
    val cells = e.groupBy("event_type", "v").agg(
      count(lit(1)).as("t"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ta"))
    val w = Window.partitionBy("event_type").orderBy("v")
    val ranked = cells
      .withColumn("below", sum(col("t")).over(w) - col("t"))
      // doubled midrank keeps tie averages integral: 2r = 2*below + t + 1
      .withColumn("r2", lit(2) * col("below") + col("t") + lit(1))
    val m = ranked.groupBy("event_type").agg(
        sum(col("ta")).as("n_a"),
        sum(col("t") - col("ta")).as("n_b"),
        sum(col("ta") * col("r2")).as("r2_a"),
        // t³ in decimal BEFORE the multiply: the long product wraps at
        // t ~2e6 tied rows per value
        sum(col("t").cast(DecimalType(38, 0)) * col("t") * col("t") -
          col("t")).as("tie3"))
      .withColumn("u_a",
        col("r2_a").cast(DoubleType) / lit(2.0) -
          col("n_a").cast(DoubleType) * (col("n_a").cast(DoubleType) +
            lit(1.0)) / lit(2.0))
    val nA = col("n_a").cast(DoubleType)
    val nB = col("n_b").cast(DoubleType)
    val n = nA + nB
    val sigma = sqrt(nA * nB / lit(12.0) *
      ((n + lit(1.0)) - col("tie3").cast(DoubleType) / (n * (n - lit(1.0)))))
    val z = round((col("u_a") - nA * nB / lit(2.0)) / sigma, 6)
    m.select(col("event_type"), col("n_a"), col("n_b"), col("u_a"),
        z.as("z"), (abs(z) > lit(1.96)).as("significant"))
      .orderBy("event_type")
  }

  /** Chi-square test of independence over the order-priority × order-
    * status contingency table — the categorical-association readout next
    * to [[statCorr]]'s numeric one. Observed counts are exact longs from
    * one keyed aggregate; marginals are tiny rollups of the cell
    * relation (nothing re-scans the fact); expected counts and per-cell
    * contributions are closed-form double arithmetic on identical bits.
    * The chi2 total folds the ROUNDED per-cell contributions
    * sequentially in (prio, status) order — the [[graph.Dedup
    * graphPagerank]] sorted-fold contract — so both engines sum the
    * same doubles in the same order. Every cell of the full marginal
    * grid is emitted (absent combinations as n=0), so the hash pins the
    * whole decision surface, and chi2/dof ride every row as broadcast
    * constants. */
  def statChiSquare(s: SparkSession, d: String): DataFrame = {
    val o = load(s, d, "orders")
      .select(col("o_orderpriority").as("prio"),
        col("o_orderstatus").as("status"))
    val cells = o.groupBy("prio", "status").agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy("prio").agg(sum(col("n")).as("nr"))
    val colT = cells.groupBy("status").agg(sum(col("n")).as("nc"))
    // grand total from the cell relation, like the marginals — a
    // count(*) over `o` would re-scan the fact a second time
    val tot = cells.agg(sum(col("n")).as("nn"))
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("prio", "status"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
    val e = col("nr").cast(DoubleType) * col("nc").cast(DoubleType) /
      col("nn").cast(DoubleType)
    val dn = col("n").cast(DoubleType)
    val perCell = grid.select(col("prio"), col("status"), col("n"),
      round(e, 6).as("expected"),
      round((dn - e) * (dn - e) / e, 9).as("contrib"))
    val stats = perCell.agg(
      expr("round(aggregate(array_sort(collect_list(" +
        "struct(prio, status, contrib))), CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> acc + x.contrib), 9)").as("chi2"),
      ((countDistinct(col("prio")) - lit(1)) *
        (countDistinct(col("status")) - lit(1))).as("dof"))
    perCell.crossJoin(broadcast(stats))
      .orderBy("prio", "status")
  }

  /** Population-stability-index drift monitor — the check a serving
    * pipeline runs before trusting a new data window: the event value
    * distribution of the LATER half of the observed time range compared
    * to the EARLIER half over 10 fixed-width buckets,
    * PSI = Σ (p_b − q_b)·ln(p_b/q_b), flag at the conventional 0.2.
    * Proportions are Laplace-smoothed ((n+1)/(N+10) — zero buckets stay
    * finite) with each p a single long/long IEEE division; per-bucket
    * contributions are rounded then folded in pinned bucket order (the
    * chi-square sorted-fold contract), so both engines sum identical
    * doubles in identical order. One corpus scan computes every event's
    * (half, bucket); everything after is a 10-row relation. The time
    * midpoint comes from a 1-row min/max aggregate in exact micros
    * (×2 comparison — no division). */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val ev = load(s, d, "events")
      .filter(col("value").isNotNull)
      .select(col("ts"), (dec(col("value")) * 100).cast("long").as("cents"))
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"))
    val halves = ev.crossJoin(broadcast(bounds))
      .select(
        when(unix_micros(col("ts")) * 2 < col("lo") + col("hi"), "old")
          .otherwise("new").as("half"),
        // clamp BOTH ends: a negative cent value would otherwise
        // truncate toward zero here (div) but floor in the oracle (//),
        // and fall outside the 0-9 grid — engine-portable only clamped
        least(greatest(expr("cents div 6000"), lit(0L)), lit(9L))
          .as("bucket"))
    // <=10 rows, TWO consumers (tot, grid): checkpoint so the corpus
    // scan behind it runs once, not once per consumer (the two-consumer
    // rule from dedup_cluster / text_tfidf_cosine)
    val cells = halves.groupBy("bucket").agg(
      sum(when(col("half") === "old", 1L).otherwise(0L)).as("n_old"),
      sum(when(col("half") === "new", 1L).otherwise(0L)).as("n_new"))
      .localCheckpoint()
    val tot = cells.agg(sum("n_old").as("ta"), sum("n_new").as("tb"))
    val grid = s.range(10).select(col("id").as("bucket"))
      .join(cells, Seq("bucket"), "left")
      .withColumn("n_old", coalesce(col("n_old"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .crossJoin(broadcast(tot))
    val p = (col("n_old") + 1).cast(DoubleType) /
      (col("ta") + 10).cast(DoubleType)
    val q = (col("n_new") + 1).cast(DoubleType) /
      (col("tb") + 10).cast(DoubleType)
    val perB = grid.select(col("bucket"), col("n_old"), col("n_new"),
      round(p, 9).as("p_old"), round(q, 9).as("p_new"),
      round((p - q) * log(p / q), 9).as("contrib"))
    val psi = perB.agg(
      expr("round(aggregate(array_sort(collect_list(" +
        "struct(bucket, contrib))), CAST(0.0 AS DOUBLE), " +
        "(acc, x) -> acc + x.contrib), 9)").as("psi"))
    perB.crossJoin(broadcast(psi))
      .withColumn("drift_flag", col("psi") > 0.2)
      .orderBy("bucket")
  }

  /** Kolmogorov–Smirnov two-sample test per event type between the
    * user_id-mod-2 variants — the distribution-SHAPE readout next to
    * [[statAbWelch]] (means) and [[statMannWhitney]] (location shift):
    * D = sup |F_a(x) - F_b(x)| reacts to ANY difference between the two
    * empirical CDFs, variance and tail shifts included. All CDF
    * arithmetic is EXACT LONG math on the per-(type, value) rollup
    * (|distinct values| rows, never the event stream): cumulative
    * variant counts from one type-keyed window, then the sup of the
    * CROSS-MULTIPLIED gap |cum_a·n_b - cum_b·n_a| — an integer, so the
    * max is found on exact values and divided by n_a·n_b once at the
    * end. The α=0.05 asymptotic decision (D > 1.358·sqrt((n_a+n_b)/
    * (n_a·n_b))) is taken with both sides SQUARED and scaled to
    * integers — d_num²·10⁶ > 1844164·(n_a+n_b)·n_a·n_b — in
    * DECIMAL(38,0) / HUGEINT (the scaled square passes 2^63 once
    * n_a·n_b exceeds ~3·10⁶, i.e. ≈2·10³ rows per variant; the decimal
    * form is exact to ~10⁸ rows per variant), so the significance flag
    * is decided on exact integers in both engines. NULL values are
    * excluded for the same cross-engine NULL sort-order reason as
    * [[statMannWhitney]]. */
  def statKsTest(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
      .select(col("event_type"), dec(col("value")).as("v"),
        pmod(col("user_id"), lit(2)).as("variant"))
      .filter(col("v").isNotNull)
    val cells = e.groupBy("event_type", "v").agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy("event_type").orderBy("v")
    val cum = cells.select(col("event_type"),
      sum(col("ca")).over(w).as("cum_a"),
      sum(col("cb")).over(w).as("cum_b"))
    val totals = cum.groupBy("event_type")
      .agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    val m = cum.join(broadcast(totals), "event_type")
      .groupBy("event_type")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .as("d_num"))
    val big = DecimalType(38, 0)
    val d_ = round(col("d_num").cast(DoubleType) /
      (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType)), 6)
    val sig = (col("d_num").cast(big) * col("d_num") * lit(1000000L)) >
      (lit(1844164L).cast(big) * (col("n_a") + col("n_b")) *
        col("n_a") * col("n_b"))
    m.select(col("event_type"), col("n_a"), col("n_b"), col("d_num"),
        d_.as("d"), sig.as("significant"))
      .orderBy("event_type")
  }

  /** 2-D skyline (Pareto frontier) over parts — maximize p_size at
    * minimal p_retailprice; a part is on the frontier iff nothing is
    * simultaneously cheaper-or-equal AND bigger-or-equal with one strict.
    * The naive form is a quadratic NOT EXISTS self-join (the oracle runs
    * exactly that); the distributed form is linear: dominance against
    * all STRICTLY CHEAPER rows collapses to one exclusive prefix max of
    * size in price order — [[graft.operators.Ranks.prefixMaxByRange]]
    * over the per-distinct-price rollup (range exchange + narrow scan,
    * no global window even when every price is distinct) — and
    * dominance within a price tie is the rollup's own per-price max.
    * Every part is emitted with its decision (`on_frontier`), so the
    * hash pins the whole surface, not just the winners. */
  def skylinePareto(s: SparkSession, d: String): DataFrame = {
    val p = load(s, d, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val byPrice = p.groupBy("p_retailprice")
      .agg(max(col("p_size")).cast("long").as("max_sz"))
    val scanned = graft.operators.Ranks.prefixMaxByRange(
      byPrice, 32, Seq(col("p_retailprice")), col("max_sz"),
      "max_sz_cheaper")
    p.join(scanned, Seq("p_retailprice"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"),
        (coalesce(col("max_sz_cheaper"), lit(Long.MinValue)) <
          col("p_size") &&
          col("max_sz") === col("p_size")).as("on_frontier"))
      .orderBy("p_partkey")
  }

  /** PostgreSQL's LATERAL top-n-per-group, run as ACTUAL SQL text — for
    * each customer, its 2 highest-value orders via a correlated ORDER BY
    * ... LIMIT subquery in the FROM clause. Catalyst decorrelates the
    * per-row LIMIT into a keyed WindowGroupLimit (partial top-k BEFORE
    * the shuffle — no per-customer nested-loop execution survives, and
    * no global sort appears), which is exactly the plan a hand-written
    * window rewrite would produce; the SQL-text form proves the API
    * surface. DuckDB runs the same text natively. */
  def joinLateralTopn(s: SparkSession, d: String): DataFrame = {
    load(s, d, "customer").createOrReplaceTempView("customer_lat")
    load(s, d, "orders").createOrReplaceTempView("orders_lat")
    s.sql("""
      SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
      FROM customer_lat c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c.c_custkey, o.o_orderkey""")
  }

  /** Higher-order array functions — transform / filter / exists /
    * aggregate-with-finish / zip_with over the per-order quantity array
    * (built deterministically: sort_array over a collect_list). All
    * lambda arithmetic is integral, so both engines fold identical
    * values; arrays render to CSV for engine-neutral hashing. */
  def fnHigherOrder(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_quantity").cast("long")))
        .as("qtys"))
      .select(col("l_orderkey"),
        expr("array_join(transform(qtys, x -> x * 2), ',')")
          .as("doubled_csv"),
        expr("array_join(filter(qtys, x -> x > 25), ',')")
          .as("large_csv"),
        expr("exists(qtys, x -> x = 1)").as("has_single"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + x)").as("qty_sum"),
        expr("aggregate(qtys, 0L, (acc, x) -> acc + x," +
          " acc -> acc * 10)").as("qty_sum_x10"),
        expr("array_join(zip_with(qtys, reverse(qtys)," +
          " (a, b) -> a + b), ',')").as("palindrome_sum_csv"))
      .orderBy("l_orderkey")

  /** Market-basket association mining: part pairs co-occurring in an
    * order, with support and lift. The pair generation self-joins WITHIN
    * an order (bounded by the ≤7-line order size, so pairs grow linearly
    * with orders — never |parts|²); lift divides exact long counts in one
    * IEEE step. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    val li = load(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nOrders = load(s, d, "lineitem")
      .select(col("l_orderkey")).distinct().count()
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val freq = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    pairs
      .join(freq.as("fa"), col("part_a") === col("fa.l_partkey"))
      .join(freq.as("fb"), col("part_b") === col("fb.l_partkey"))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        round((col("n_ab") * lit(nOrders)).cast(DoubleType) /
          (col("fa.n") * col("fb.n")), 9).as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** Exponentially weighted moving average of each customer's order
    * totals — the sequential recurrence (ewma = 0.3x + 0.7ewma) no
    * window frame expresses. Computed as a per-customer sorted sequential
    * fold (first element seeds the accumulator), which DuckDB's
    * list_reduce replays with the same element order — bit-identical
    * despite being an iterated double recurrence. */
  def windowEwma(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        expr("sort_array(collect_list(struct(o_orderdate, o_orderkey, " +
          "o_totalprice)))").as("xs"))
      .select(col("o_custkey"), col("n_orders"),
        // raw double: the folds are bit-identical, and round() tie rules
        // differ between engines (half-up vs half-even) at any precision
        expr("aggregate(slice(xs, 2, size(xs) - 1), " +
          "CAST(xs[0].o_totalprice AS DOUBLE), " +
          "(acc, x) -> 0.3D * x.o_totalprice + 0.7D * acc)").as("ewma_spend"))
      .orderBy("o_custkey")

  /** min/max over numeric, string, and temporal types. */
  def aggMinMax(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        min(col("o_orderpriority")).as("min_priority"),
        max(col("o_orderpriority")).as("max_priority"))
      .orderBy("o_orderstatus")

  /** ntile quartiles within nation (ranking-window completion). */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    load(s, d, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        ntile(4).over(w).as("balance_quartile"))
      .orderBy("c_nationkey", "c_custkey")
  }

  /** COUNT(DISTINCT) OVER a partition — a window aggregate Spark (and
    * PostgreSQL) reject outright, emulated exactly with the dense_rank
    * maximum: dense_rank over (partition ORDER BY value NULLS FIRST)
    * numbers the distinct values 1..n, so the partition max minus the
    * NULL bucket (NULLs, ranked first, occupy dense_rank 1 when present
    * — SQL COUNT(DISTINCT) excludes them) IS the distinct count, stamped
    * on every row. NULL-correct by construction, not by data: planted
    * NULLs are spec-checked against a groupBy countDistinct
    * (ExtrasSpec). Two WindowExec passes over one partition-keyed
    * exchange — same shuffle shape as any partition window, no
    * distinct-expansion join. DuckDB supports the aggregate natively,
    * making the oracle a direct semantic check of the emulation. */
  def windowCountDistinct(s: SparkSession, d: String): DataFrame =
    distinctCountOver(
      load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority")),
      "o_orderstatus", "o_orderpriority", "n_distinct_priorities")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("n_distinct_priorities"))
      .orderBy("o_orderkey")

  /** The COUNT(DISTINCT value) OVER (PARTITION BY part) emulation behind
    * [[windowCountDistinct]], exposed for direct NULL-handling tests. */
  private[graft] def distinctCountOver(
      df: DataFrame, part: String, value: String, out: String): DataFrame = {
    val w = Window.partitionBy(part)
    df
      .withColumn("__dr", dense_rank().over(
        w.orderBy(col(value).asc_nulls_first)))
      .withColumn(out,
        (max(col("__dr")).over(w) -
          max(when(col(value).isNull, 1).otherwise(0)).over(w)).cast("long"))
      .drop("__dr")
  }

  /** Sliding event-time windows: 1-hour windows every 15 minutes — each
    * event lands in four windows (the streaming-shaped overlap case). */
  def eventsWindowSliding(s: SparkSession, d: String): DataFrame =
    load(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** HyperLogLog++ approximate distinct next to the exact count. Sketch
    * VALUES differ across engines by design, so the oracle-checkable
    * surface is (exact count, error-bound flag): within_bound asserts the
    * HLL estimate lands inside 3x its configured rsd (0.05) of the exact
    * count — a deterministic predicate DuckDB states as `true` from the
    * exact count alone. The raw estimate stays visible to the test suite
    * via [[aggApproxDistinctRaw]]. */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    aggApproxDistinctRaw(s, d)
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.15).as("within_bound"))
      .orderBy("l_returnflag")

  private[graft] def aggApproxDistinctRaw(s: SparkSession, d: String): DataFrame = {
    // split, not agg(countDistinct, approx_count_distinct): the combined
    // form plans as an Expand that doubles every input row through the
    // first exchange to serve the distinct lane (the agg_hll_distinct
    // sf100 OOM lesson); split, the HLL++ pass is pure map-side combine
    // and the exact pass is the proven distinct-then-count shape
    def li = load(s, d, "lineitem").select("l_returnflag", "l_orderkey")
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
    li.distinct().groupBy("l_returnflag")
      .agg(count(lit(1)).as("exact_orders"))
      .join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"), col("approx_orders"))
      .orderBy("l_returnflag")
  }

  /** The batch-side K for `agg_kmv_distinct` — shared between the Spark
    * expression and the interpolated oracle SQL so the two cannot
    * desynchronize (r10 ADVICE). Smaller than the streaming default
    * [[graft.functions.KmvAgg.K]]: the key predates the native aggregate
    * and its oracle's order-statistic cutoff is pinned at 64. */
  private val KMV_BATCH_K = 64

  /** K-minimum-values approximate distinct (Bar-Yossef et al., RANDOM 2002):
    * est = (K-1) * 2^63 / h_(K) over SplitMix64-hashed keys. Unlike the
    * HLL++ sketch it is cross-engine deterministic — the oracle replays the
    * hash and the order statistic exactly. The K smallest distinct hashes
    * per group come from the native [[graft.functions.KmvAgg]] sketch —
    * O(K) heap state per group with map-side partial merge, replacing the
    * r9 rank-window formulation whose per-group sort of ALL distinct
    * hashes ran as one task per group (3 single-task sorts of ~N/3 hashes
    * at 100x — the r10 VERDICT's one structural scale nit). The sketch
    * value is a pure set function, so the oracle is unchanged. */
  def aggKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val K = KMV_BATCH_K
    import graft.functions.KmvAgg
    import graft.functions.Mix64.mix64
    load(s, d, "lineitem")
      .select(col("l_returnflag"),
        shiftrightunsigned(mix64(col("l_orderkey")), 1).as("h"))
      .groupBy("l_returnflag")
      .agg(KmvAgg.kmv_sketch(col("h"), K).as("sk"))
      // the oracle's rn = K row exists only when the group has >= K
      // distinct hashes (the estimator needs a full sketch)
      .filter(size(col("sk")) === K)
      .select(col("l_returnflag"),
        round(lit(KmvAgg.estNumerator(K)) /
          element_at(col("sk"), K).cast("double"), 6).as("approx_distinct"))
      .orderBy("l_returnflag")
  }

  /** HyperLogLog approximate distinct — the max-merge register sketch
    * ([[graft.functions.HllAgg]]) next to [[aggKmvDistinct]]'s
    * union-merge minima: fixed 512 bytes per group at 4.6% std error vs
    * KMV's 2 KiB at 6.3%, the classic 100 TB cardinality sketch. Every
    * register is a pure MAX over the group's hash set, so the sketch is
    * bit-deterministic and the oracle replays each register from the
    * same mix64 hashes with integer bit arithmetic, then the closed-form
    * estimate from the exact DECIMAL register sum. Emitted per flag: the
    * empty-register count, a position-weighted register checksum (pins
    * the full register CONTENT through the gate), the estimate, the
    * exact distinct, and the realized relative error as data — the
    * accuracy contract pattern of `agg_quantile_sketch`. */
  def aggHllDistinct(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HllAgg
    import graft.functions.Mix64.mix64
    def hashed = load(s, d, "lineitem")
      .select(col("l_returnflag"),
        shiftrightunsigned(mix64(col("l_orderkey")), 1).as("h"))
    // the sketch pass and the exact verification pass are SEPARATE
    // aggregations joined on the group key — a combined
    // agg(sketch, countDistinct) plans as an Expand that doubles every
    // input row through the first exchange, which OOM'd the sf100 probe;
    // split, the sketch pass is pure map-side combine and the exact pass
    // is the proven distinct-then-count shape (agg_count_distinct's).
    // mix64 is bijective, so COUNT(DISTINCT h) = COUNT(DISTINCT key):
    // the oracle counts the raw key directly.
    val sk = hashed.groupBy("l_returnflag")
      .agg(HllAgg.hll_sketch(col("h")).as("regs"))
    val ex = hashed.distinct().groupBy("l_returnflag")
      .agg(count(lit(1)).as("exact_distinct"))
    sk.join(ex, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        HllAgg.nZero("regs").as("n_zero"),
        HllAgg.regChecksum("regs").as("reg_checksum"),
        HllAgg.estimate(HllAgg.sRegs("regs"), HllAgg.nZero("regs"))
          .as("est_distinct"),
        col("exact_distinct"))
      .withColumn("rel_err", round(
        abs(col("est_distinct") - col("exact_distinct")) /
          col("exact_distinct"), 6))
      .orderBy("l_returnflag")
  }

  /** As-of join: align each purchase with the same user's most recent click
    * at or before it — composed via [[graft.operators.AsOfJoin]] (one
    * shuffle), oracled against DuckDB's native ASOF JOIN. Clicks are
    * deduplicated per (user, ts) for tie determinism. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    graft.operators.AsOfJoin.asofBackward(
        purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "click_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_click_ts").as("click_ts"), col("click_id"))
      .orderBy("event_id")
  }

  /** As-of with a staleness tolerance — the feature-store contract: a
    * feature value older than the allowed staleness must NOT be served,
    * even if it is the most recent one. Same one-shuffle as-of compose,
    * then the match is nulled (both payload columns together — a
    * half-nulled match would be a corrupt feature row) when the matched
    * click is more than 30 minutes before the purchase. The tolerance is
    * a post-filter on the SINGLE as-of match, not a range join: there is
    * still exactly one candidate per left row. */
  def joinAsofTolerance(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val fresh =
      col("asof_click_ts") >= col("ts") - expr("INTERVAL 30 MINUTES")
    graft.operators.AsOfJoin.asofBackward(
        purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "click_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(fresh, col("asof_click_ts")).as("click_ts"),
        when(fresh, col("click_id")).as("click_id"))
      .orderBy("event_id")
  }

  /** The same as-of semantics through the native custom operator stack
    * (graft.plans.AsOfJoinNative: LogicalPlan + SparkStrategy +
    * BinaryExecNode per-partition merge) — same oracle as the composed
    * form. */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val e = load(s, d, "events")
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    graft.plans.AsOfJoinNative.asofBackward(
        purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "click_ts")
      .select("event_id", "user_id", "ts", "click_ts", "click_id")
      .orderBy("event_id")
  }

  /** Range join through the driver gate: 60 overlapping 14-day promotion
    * windows (spaced 10 days apart, so an order date can fall inside two)
    * matched to orders by date containment via
    * [[graft.operators.RangeJoin]] — an equi-join on date bins plus a
    * residual filter, never a nested loop (the plan shape is pinned in
    * PlanSpec). Reports orders and revenue captured per promotion. */
  // 1996-01-01 is epoch day 9496; windows cover 1996-01 .. 1997-08
  // (orders span 1995-01 .. 2001-08)
  private def promoWindows(s: SparkSession): DataFrame =
    s.range(60).select(col("id").as("promo_id"),
      (col("id") * 10 + 9496L).as("start_day"),
      (col("id") * 10 + 9510L).as("end_day"))

  private def orderDays(s: SparkSession, d: String): DataFrame =
    load(s, d, "orders").select(
      unix_date(col("o_orderdate").cast("date")).cast("long").as("day"),
      col("o_totalprice"))

  def joinRange(s: SparkSession, d: String): DataFrame =
    graft.operators.RangeJoin
      .pointInInterval(orderDays(s, d), "day",
        promoWindows(s), "start_day", "end_day", 14L)
      .groupBy("promo_id")
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("revenue"))
      .orderBy("promo_id")

  /** The same range join written NAIVELY (plain join on the containment
    * condition — stock Spark plans this as a nested loop) with
    * [[graft.plans.RangeJoinRule]] installed: the optimizer rewrites it
    * into the binned equi-join automatically, and the key reports whether
    * the nested loop was actually eliminated from the physical plan. */
  def joinRangeAuto(s: SparkSession, d: String): DataFrame = {
    graft.plans.RangeJoinRule.ensureInstalled(s)
    // Scoped + restored (the joinRangeDates discipline): an unrestored
    // set() leaked binWidth=14 into the session, silently re-binning any
    // LATER naive range join (the rule's default is 16). And the result
    // is MATERIALIZED inside the scope — the returned frame is otherwise
    // lazy and would re-plan under whatever width the session carries at
    // write time, not the width this key reports on its flag column.
    // The post-aggregation result is 60 rows, so the checkpoint is free.
    withConf(s, "spark.graft.rangeJoin.binWidth" -> "14") {
      val naive = orderDays(s, d).join(promoWindows(s),
        col("day") >= col("start_day") && col("day") < col("end_day"))
      val plan = naive.queryExecution.executedPlan.toString
      val rewrote = !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct")
      naive.groupBy("promo_id")
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("revenue"))
        .withColumn("rewrote_to_equi_join", lit(rewrote))
        .localCheckpoint()
        .orderBy("promo_id")
    }
  }

  /** Grouped CMS composition — the property the one-pass [[CmsAgg]]
    * buys: a COMPLETE sketch per group from a single groupBy (mergeable
    * buffers, no per-group re-scan), here one sketch per order status
    * with planted per-group heavy customers (keys 0/1/2 hold ~half of
    * each group's rows). Candidates come from the same deterministic
    * row sample as the ungrouped key; estimates probe each group's own
    * sketch; keys above 5% of their GROUP survive. The oracle replays
    * the chain over distinct keys once and joins it back per group. */
  def aggCmsGrouped(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Mix64.mix64
    val stream = load(s, d, "orders").select(
      col("o_orderstatus").as("grp"),
      when(col("o_orderkey") % 10 < 5, col("o_custkey") % 3)
        .otherwise(col("o_custkey")).as("k"),
      col("o_orderkey").as("rid"))
    val sketches = stream.groupBy("grp").agg(
      graft.functions.CmsAgg.cms(col("k"), CMS_SEEDS.toSeq, CMS_W).as("sk"),
      count(lit(1)).as("total"))
    val thr = (BigDecimal("0.01") * BigDecimal(2).pow(63)).toLong
    val cand = stream
      .filter(shiftrightunsigned(mix64(col("rid"), CMS_SAMPLE_SEED), 1) < thr)
      .select("grp", "k").distinct()
    val est = least(CMS_SEEDS.toIndexedSeq.zipWithIndex.map { case (seed, r) =>
      element_at(col("sk"),
        (pmod(mix64(col("k"), seed), lit(CMS_W)) + lit(r.toLong * CMS_W) +
          lit(1L)).cast("int"))
    }: _*)
    cand.join(broadcast(sketches), "grp")
      .select(col("grp"), col("k"), est.as("est"),
        floor(col("total") / lit(20)).as("thr"))
      .filter(col("est") >= col("thr"))
      .select("grp", "k", "est")
      .orderBy("grp", "k")
  }

  /** CMS heavy hitters over the STREAM — the proof that the engine's
    * custom mergeable sketch aggregate ([[graft.functions.CmsAgg]], a
    * TypedImperativeAggregate) runs inside Structured Streaming state:
    * the event stream arrives as 4 time-ordered micro-batches, each
    * 3-day window's d×w counter buffer lives in the state store and
    * MERGES across batches (the mergeable-partial contract is exactly
    * what streaming state needs), and after the drain each window's
    * sketch is probed for keys above 3% of the window's mass. The key
    * stream folds users < 45 into 7 keys (`user_id mod 7`). At the gate
    * SF (sf0.01, 150 users) those users hold ~30% of events, so the 7
    * keys are hot (~4.3% each) against a uniform 0.67% tail and the
    * sketch must separate the two through collision noise. The hot share
    * is not scale-invariant: at sf0.1 (1,500 users) users < 45 hold 2.9%
    * of events, no key crosses 3%, and the answer is empty. The probe is
    * always the fixed candidate set `range(150)` folded the same way —
    * the whole 112-key domain at sf0.01, and only its first 150 users
    * at larger scales (no sampled candidates as in
    * [[aggCmsHeavyHitters]]). Counters, probes, and estimates replay
    * bit-exactly in the oracle (SplitMix64 chains + power-of-two
    * modulus, per window). */
  def eventsStreamHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Mix64.mix64
    val ev = graft.streaming.StreamingOps.eventsStreamChunked(s, d)
      .select(col("ts"),
        when(col("user_id") < 45, pmod(col("user_id"), lit(7L)))
          .otherwise(col("user_id")).as("k"))
      .withWatermark("ts", "2 hours")
    val agg = ev.groupBy(window(col("ts"), "3 days").as("w"))
      .agg(
        graft.functions.CmsAgg.cms(col("k"), CMS_SEEDS.toSeq, CMS_W).as("sk"),
        count(lit(1)).as("total"))
    val drained = graft.streaming.StreamingOps
      .runToCompletion(s, agg, "verify_stream_hh",
        statePartitions = graft.streaming.StreamingOps.windowStateParts(s),
        noDataBatches = false)
    val cand = s.range(150).select(
        when(col("id") < 45, pmod(col("id"), lit(7L)))
          .otherwise(col("id")).as("k"))
      .distinct()
    val est = least(CMS_SEEDS.toIndexedSeq.zipWithIndex.map { case (seed, r) =>
      element_at(col("sk"),
        (pmod(mix64(col("k"), seed), lit(CMS_W)) + lit(r.toLong * CMS_W) +
          lit(1L)).cast("int"))
    }: _*)
    drained.select(col("w.start").as("win_start"), col("sk"), col("total"))
      .crossJoin(broadcast(cand))
      .select(col("win_start"), col("k"), est.as("est"),
        floor(col("total") / lit(33)).as("thr"))
      .filter(col("est") >= col("thr"))
      .select("win_start", "k", "est")
      .orderBy("win_start", "k")
  }

  /** Streaming windowed quantiles — [[graft.functions.QuantileSketchAgg]]
    * carrying state across micro-batches, the order-statistic companion
    * to [[eventsStreamHeavyHitters]]' CMS: purchase values (cents) fold
    * into one 15 KiB bucket-counter sketch per 3-day event-time window,
    * partial sketches MERGE across the chunked replay's micro-batches
    * (element-wise long adds — exactly commutative/associative, so the
    * drained state is bit-identical to a one-shot batch sketch, which is
    * precisely what the oracle recomputes relationally), and the drained
    * sketches are probed for the {0.5, 0.9, 0.99} bucket-midpoint
    * estimates with the same pure-integer geometry as the batch
    * [[aggQuantileSketch]] key. Watermark bounds state; per window only
    * the sketch + a count live between batches, never rows. */
  def eventsStreamQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val qs = Seq(0.5, 0.9, 0.99)
    val ev = graft.streaming.StreamingOps.eventsStreamChunked(s, d)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("ts"), round(col("value") * 100).cast("long").as("v"))
      .withWatermark("ts", "2 hours")
    val agg = ev.groupBy(window(col("ts"), "3 days").as("w"))
      .agg(graft.functions.QuantileSketchAgg.quantile_sketch(col("v")).as("sk"),
        count(lit(1)).as("n"))
    val drained = graft.streaming.StreamingOps
      .runToCompletion(s, agg, "verify_stream_quantiles",
        statePartitions = graft.streaming.StreamingOps.windowStateParts(s),
        noDataBatches = false)
    val targets = broadcast(qs.toDF("q"))
    val buckets = drained
      .select(col("w.start").as("win_start"), col("n"),
        posexplode(col("sk")).as(Seq("idx", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("width", expr(graft.functions.QuantileSketchAgg.widthSql))
      .withColumn("mid", expr(graft.functions.QuantileSketchAgg.midSql))
      // sketch-sized relation (<= 1888 rows per window): the per-window
      // window function is post-aggregation safe
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy("win_start").orderBy("idx")))
    buckets.join(targets, col("cum") >= ceil(col("q") * col("n")))
      .groupBy("win_start", "q").agg(min(col("mid")).as("est_cents"))
      .select(col("win_start"), col("q"),
        (col("est_cents").cast("double") / 100.0).as("est_value"))
      .orderBy("win_start", "q")
  }

  /** Streaming windowed distinct users — [[graft.functions.KmvAgg]]
    * carrying state across micro-batches: the cardinality companion to
    * [[eventsStreamQuantiles]]' order statistics and
    * `events_stream_heavy_hitters`' CMS, and the streaming-state form of
    * the batch `agg_kmv_distinct` key (same mix64 63-bit hash, same
    * (K-1)*H/h_K estimator). Per 3-day event-time window the K=256
    * smallest distinct user-hashes fold into one 2 KiB sketch; partial
    * sketches merge across the chunked replay's micro-batches by set
    * UNION — commutative, associative, and (unlike the add-merge
    * CMS/quantile counters) IDEMPOTENT, so a replayed micro-batch under
    * an at-least-once sink cannot corrupt the state. Emitted per window:
    * the live slot count, the distinct estimate (EXACT when the sketch
    * never filled — it then IS the hash set — else the order-statistic
    * estimator, identical double formula in both engines), and the
    * xor-fold of the retained hashes, which pins the drained state
    * bit-exactly through the oracle gate.
    *
    * 100 TB shape: watermark bounds state; between batches each window
    * holds 2 KiB, never rows; the drained relation is |windows|-sized. */
  def eventsStreamDistinct(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KmvAgg
    import graft.functions.KmvAgg.K
    import graft.functions.Mix64.mix64
    val ev = graft.streaming.StreamingOps.eventsStreamChunked(s, d)
      // explicit null-key guard on BOTH engines (r10 ADVICE): without it
      // Spark silently skips null hashes while the oracle's mix chain
      // propagates NULL into MAX(rn)/bit_xor — green only because the
      // generator never emits null user_id
      .filter(col("user_id").isNotNull)
      .select(col("ts"),
        shiftrightunsigned(mix64(col("user_id")), 1).as("h"))
      .withWatermark("ts", "2 hours")
    val agg = ev.groupBy(window(col("ts"), "3 days").as("w"))
      .agg(KmvAgg.kmv_sketch(col("h")).as("sk"))
    val drained = graft.streaming.StreamingOps
      .runToCompletion(s, agg, "verify_stream_distinct",
        statePartitions = graft.streaming.StreamingOps.windowStateParts(s),
        noDataBatches = false)
    drained
      .select(col("w.start").as("win_start"), size(col("sk")).as("n_sketch"),
        col("sk"))
      .select(col("win_start"), col("n_sketch"),
        when(col("n_sketch") >= K, round(
          lit(KmvAgg.estNumerator(K)) /
            element_at(col("sk"), K).cast("double"), 6))
          .otherwise(col("n_sketch").cast("double")).as("est_distinct"),
        expr("aggregate(sk, CAST(0 AS BIGINT), (a, x) -> a ^ x)")
          .as("h_checksum"))
      .orderBy("win_start")
  }

  /** Streaming windowed distinct users via [[graft.functions.HllAgg]] —
    * the max-merge register sketch carrying state across micro-batches,
    * next to [[eventsStreamDistinct]]'s KMV: per 3-day window the state
    * is a FIXED 512 bytes regardless of cardinality, and register MAX is
    * commutative, associative and IDEMPOTENT, so (like KMV's set union,
    * unlike the add-merge CMS/quantile counters) a replayed micro-batch
    * under an at-least-once sink cannot corrupt the state — pinned in
    * HllAggSpec. Emitted per window: the empty-register count, the
    * position-weighted register checksum (pins the drained state
    * bit-exactly through the oracle gate), and the estimate (identical
    * branch + double formula in both engines).
    *
    * 100 TB shape: watermark bounds state; between batches each window
    * holds 512 bytes, never rows; the drained relation is
    * |windows|-sized. */
  def eventsStreamHll(s: SparkSession, d: String): DataFrame = {
    import graft.functions.HllAgg
    import graft.functions.Mix64.mix64
    val ev = graft.streaming.StreamingOps.eventsStreamChunked(s, d)
      .filter(col("user_id").isNotNull)
      .select(col("ts"),
        shiftrightunsigned(mix64(col("user_id")), 1).as("h"))
      .withWatermark("ts", "2 hours")
    val agg = ev.groupBy(window(col("ts"), "3 days").as("w"))
      .agg(HllAgg.hll_sketch(col("h")).as("regs"))
    val drained = graft.streaming.StreamingOps
      .runToCompletion(s, agg, "verify_stream_hll",
        statePartitions = graft.streaming.StreamingOps.windowStateParts(s),
        noDataBatches = false)
    drained
      .select(col("w.start").as("win_start"),
        HllAgg.nZero("regs").as("n_zero"),
        HllAgg.regChecksum("regs").as("reg_checksum"),
        HllAgg.estimate(HllAgg.sRegs("regs"), HllAgg.nZero("regs"))
          .as("est_distinct"))
      .orderBy("win_start")
  }

  /** The generalized rule surface: the same promotion windows as DATE
    * columns and the containment written BETWEEN (closed upper bound) —
    * date keys normalize to epoch days inside the rule (UnixDate; a
    * plain date->long cast is an ANSI error), and the closed bound takes
    * the floorDiv(e) bin-coverage path. [start, start+13] closed equals
    * the half-open 14-day [start_day, end_day) of [[joinRangeAuto]], so
    * the per-promo aggregates match that key's; the rewrote flag pins
    * that the nested loop was eliminated for this shape too. */
  def joinRangeDates(s: SparkSession, d: String): DataFrame = {
    graft.plans.RangeJoinRule.ensureInstalled(s)
    // auto: the rule measures the average interval length (14 days here)
    // from the interval side at planning time instead of trusting a
    // hand-picked constant — any derived width is result-identical, so
    // this exercises the statistics path through the oracle gate.
    // Scoped: the previous width is restored so later naive range joins
    // in the session don't silently inherit the planning-time stats job.
    withConf(s, "spark.graft.rangeJoin.binWidth" -> "auto") {
      val promos = s.range(60).select(col("id").as("promo_id"),
        date_add(lit("1996-01-01").cast("date"),
          (col("id") * 10).cast("int")).as("start_date"))
        .withColumn("end_date", date_add(col("start_date"), 13))
      val pts = load(s, d, "orders").select(
        col("o_orderdate").cast("date").as("od"), col("o_totalprice"))
      val naive = pts.join(promos,
        col("od").between(col("start_date"), col("end_date")))
      val plan = naive.queryExecution.executedPlan.toString
      val rewrote = !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct")
      // MATERIALIZED inside the conf scope: the returned DataFrame is
      // otherwise lazy, and Verify's later coalesce+write would re-plan
      // it AFTER the finally restored binWidth — silently optimizing a
      // different width than the auto path this key exists to exercise
      // (and than the flag column reports). localCheckpoint, not a named
      // scratch MV: the previous hashCode-keyed MV name could alias two
      // datasets in one process (the 32-bit collision-clobber class fixed
      // for the stream-dedup scratch), and the 60-row post-aggregation
      // result needs no disk artifact at all.
      naive.groupBy("promo_id")
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("revenue"))
        .withColumn("rewrote_to_equi_join", lit(rewrote))
        .localCheckpoint()
        .orderBy("promo_id")
    }
  }

  /** floor(rate x 2^63): the unsigned-hash acceptance threshold for a
    * sampling rate, computed in exact decimal so the Spark plan and the
    * DuckDB oracle inject the SAME integer literal. */
  private def sampleThreshold(rate: String): Long =
    (BigDecimal(rate) * BigDecimal(2).pow(63)).toLong

  /** Deterministic stratified Bernoulli sample: a row is kept iff
    * mix64(key) >>> 1 < floor(rate(stratum) x 2^63) — a pure map-side
    * filter (no shuffle, no RNG state), reproducible across runs and
    * engines, with per-stratum rates (the keep-more-rare-strata shape a
    * training-data pipeline uses for rebalancing). The oracle replays the
    * hash and thresholds bit-exactly. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Mix64.mix64
    val h = shiftrightunsigned(mix64(col("o_orderkey")), 1)
    val threshold =
      when(col("o_orderpriority") === "1-URGENT",
        sampleThreshold("0.5"))
        .when(col("o_orderpriority") === "2-HIGH",
          sampleThreshold("0.25"))
        .otherwise(sampleThreshold("0.05"))
    load(s, d, "orders")
      .filter(h < threshold)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        exactSum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Array function family: per-order line numbers collected into a
    * deterministically-sorted array, then size / element_at /
    * array_contains / array_max / array_join exercised over it. The
    * emitted columns are scalars (the array itself renders as CSV) so the
    * gate's row-hash sees engine-neutral values. */
  def fnArray(s: SparkSession, d: String): DataFrame =
    load(s, d, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("line_nos"))
      .select(col("l_orderkey"),
        size(col("line_nos")).as("n_lines"),
        element_at(col("line_nos"), 1).as("first_line"),
        expr("array_max(line_nos)").as("max_line"),
        array_contains(col("line_nos"), 3).as("has_line3"),
        array_join(col("line_nos"), ",").as("lines_csv"))
      .orderBy("l_orderkey")

  /** first_value / last_value / nth_value over a full-partition frame:
    * each order annotated with its customer's first, last, and second
    * order price (NULL second for single-order customers). */
  def windowFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    load(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }

  // Count-min sketch geometry: 4 rows x 1024 counters. The modulus is a
  // power of two ON PURPOSE: 2^64 mod 1024 = 0, so Spark's signed pmod and
  // DuckDB's unsigned % agree bit-for-bit on the mixed hash.
  private val CMS_D = 4
  private val CMS_W = 1024
  private val CMS_SEEDS = Array(
    0x243F6A8885A308D3L, 0x13198A2E03707344L,
    0xA4093822299F31D0L, 0x082EFA98EC4E6C89L) // pi digits, nothing hidden
  private val CMS_SAMPLE_SEED = 0x452821E638D01377L

  /** Count-min-sketch heavy hitters (Cormode & Muthukrishnan, 2003) —
    * the third deterministic sketch next to HLL and KMV: per-key point
    * estimates from d=4 x w=1024 counters, no per-key state. The stream
    * plants 7 hot keys (~30% of rows) over the l_orderkey long tail;
    * candidates come from a deterministic 1%-row sample (hot keys are
    * present with certainty at their mass), each candidate's estimate is
    * the min over its 4 counters, and keys above 2% of the stream
    * survive. Counters, sample, and estimates replay bit-exactly in the
    * oracle (SplitMix64 chains + power-of-two modulus). Scale: the
    * counter build is a map-side-combined groupBy over 4096 cells; the
    * stream is never re-scanned per key. */
  def aggCmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Mix64.mix64
    // rid is a unique ROW id: the candidate sample hashes rows, not keys,
    // so a heavy key's mass (not its identity) determines sampling
    val stream = load(s, d, "lineitem").select(
      when(col("l_orderkey") % 100 < 30, col("l_orderkey") % 7)
        .otherwise(col("l_orderkey")).as("k"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"))
    // ONE pass builds all d x w counters AND the stream total: CmsAgg is a
    // mergeable TypedImperativeAggregate (32 KiB buffer), replacing the
    // d-way union + (r, b) groupBy that scanned the stream once per sketch
    // row. The single-row sketch broadcasts to the candidate probe; each
    // candidate's estimate is the min over its d counters, bit-identical
    // to the relational form (same mix64-and-mask bucket function).
    val sketch = stream.agg(
      graft.functions.CmsAgg.cms(col("k"), CMS_SEEDS.toSeq, CMS_W).as("sk"),
      count(lit(1)).as("total"))
    val thr = (BigDecimal("0.01") * BigDecimal(2).pow(63)).toLong
    val cand = stream
      .filter(shiftrightunsigned(mix64(col("rid"), CMS_SAMPLE_SEED), 1) < thr)
      .select("k").distinct()
    val est = least(CMS_SEEDS.toIndexedSeq.zipWithIndex.map { case (seed, r) =>
      element_at(col("sk"),
        (pmod(mix64(col("k"), seed), lit(CMS_W)) + lit(r.toLong * CMS_W) +
          lit(1L)).cast("int"))
    }: _*)
    cand.crossJoin(broadcast(sketch))
      .select(col("k"), est.as("est"),
        floor(col("total") / lit(50)).as("thr"))
      .filter(col("est") >= col("thr"))
      .select("k", "est")
      .orderBy("k")
  }

  val entries: Map[String, Q] = Map(
    "agg_cms_heavy_hitters" -> (aggCmsHeavyHitters _),
    "events_stream_heavy_hitters" -> (eventsStreamHeavyHitters _),
    "events_stream_quantiles" -> (eventsStreamQuantiles _),
    "events_stream_distinct" -> (eventsStreamDistinct _),
    "events_stream_hll"     -> (eventsStreamHll _),
    "agg_cms_grouped"       -> (aggCmsGrouped _),
    "join_range_auto"       -> (joinRangeAuto _),
    "join_range_dates"      -> (joinRangeDates _),
    "fn_array"              -> (fnArray _),
    "window_first_last"     -> (windowFirstLast _),
    "join_range"            -> (joinRange _),
    "sample_stratified"     -> (sampleStratified _),
    "join_asof"             -> (joinAsof _),
    "join_asof_native"      -> (joinAsofNative _),
    "join_asof_tolerance"   -> (joinAsofTolerance _),
    "profile_drift"         -> (profileDrift _),
    "fn_string"             -> (fnString _),
    "fn_math"               -> (fnMath _),
    "expr_null_handling"    -> (exprNullHandling _),
    "agg_cube"              -> (aggCube _),
    "agg_min_max"           -> (aggMinMax _),
    "agg_percentile_cont"   -> (aggPercentileCont _),
    "fn_regex"              -> (fnRegex _),
    "typed_dataset"         -> (typedDataset _),
    "profile_table"         -> (profileTable _),
    "profile_histogram"     -> (profileHistogram _),
    "profile_histogram_eqdepth" -> (profileHistogramEqdepth _),
    "stat_outliers"         -> (statOutliers _),
    "stat_corr"             -> (statCorr _),
    "stat_ab_welch"         -> (statAbWelch _),
    "stat_power_analysis"   -> (statPowerAnalysis _),
    "stat_approx_quantiles" -> (statApproxQuantiles _),
    "agg_quantile_sketch"   -> (aggQuantileSketch _),
    "stat_chi_square"       -> (statChiSquare _),
    "stat_mann_whitney"     -> (statMannWhitney _),
    "stat_regression"       -> (statRegression _),
    "sample_hash_portable"  -> (sampleHashPortable _),
    "assoc_rules"           -> (assocRules _),
    "window_ewma"           -> (windowEwma _),
    "fn_date_arith"         -> (fnDateArith _),
    "orderby_nulls"         -> (orderbyNulls _),
    "window_ntile"          -> (windowNtile _),
    "window_count_distinct" -> (windowCountDistinct _),
    "events_window_sliding" -> (eventsWindowSliding _),
    "agg_approx_distinct"   -> (aggApproxDistinct _),
    "agg_kmv_distinct"      -> (aggKmvDistinct _),
    "agg_hll_distinct"      -> (aggHllDistinct _),
    "agg_pivot"             -> (aggPivot _),
    "agg_grouping_sets"     -> (aggGroupingSets _),
    "agg_unpivot"           -> (aggUnpivot _),
    "agg_median_disc"       -> (aggMedianDisc _),
    "window_range_interval" -> (windowRangeInterval _),
    "join_correlated_scalar" -> (joinCorrelatedScalar _),
    "stat_ks_test"          -> (statKsTest _),
    "skyline_pareto"        -> (skylinePareto _),
    "join_lateral_topn"     -> (joinLateralTopn _),
    "fn_higher_order"       -> (fnHigherOrder _),
  )

  /** DuckDB register-grid replay for the HLL oracles: from a relation
    * `hx(grp, h)` of DISTINCT 63-bit hashes per group, rebuild the full
    * 2^p register grid (bucket = hash prefix, register = MAX rho, empty
    * registers as 0 via the LEFT JOIN against range(m)) and fold the
    * per-group (s, n_zero, reg_checksum) triple the estimate needs —
    * s in HUGEINT because the exact register sum can reach 2^64.
    * Final relation `hagg`. */
  private def hllAggSql: String = {
    import graft.functions.HllAgg.{M, RHO_MAX, WINDOW, rhoSql}
    s"""br AS (SELECT grp, h >> $WINDOW AS b, MAX(${rhoSql("h")}) AS reg
       |  FROM hx GROUP BY 1, 2),
       |grid AS (SELECT g.grp, r.range AS b
       |  FROM (SELECT DISTINCT grp FROM hx) g CROSS JOIN range($M) r),
       |regs AS (SELECT grid.grp, grid.b, COALESCE(br.reg, 0) AS reg
       |  FROM grid LEFT JOIN br ON grid.grp = br.grp AND grid.b = br.b),
       |hagg AS (SELECT grp,
       |  SUM(CAST((CAST(1 AS BIGINT) << ($RHO_MAX - reg)) AS HUGEINT)) AS s,
       |  CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_zero,
       |  CAST(SUM((b + 1) * reg) AS BIGINT) AS reg_checksum
       | FROM regs GROUP BY 1)""".stripMargin
  }

  /** DuckDB CTE chain computing mix64(xor(k, seed)) for every row of
    * `src(k, ...)` — SplitMix64 with wrap-around multiplies in HUGEINT
    * split arithmetic. Final relation `h$tag(k, h)`. */
  private def mixChainSql(tag: String, src: String, seed: Long,
      inCol: String = "k"): String = {
    val s = java.lang.Long.toUnsignedString(seed)
    s"""m${tag}0 AS (SELECT k, CAST(xor($inCol::UBIGINT, $s) AS UBIGINT) AS z0 FROM $src),
       |m${tag}1 AS (SELECT k, CAST((
       |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
       |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
       |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM m${tag}0),
       |m${tag}2 AS (SELECT k, CAST((
       |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
       |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
       |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM m${tag}1),
       |h$tag AS (SELECT k, xor(z2, z2 >> 31) AS h FROM m${tag}2)""".stripMargin
  }

  /** Windowed (streaming) CMS replay: same grouped pattern with the
    * group = the epoch-aligned 3-day window start; the probe domain
    * mirrors the engine's planted-key enumeration. */
  private def cmsStreamHhOracleSql: String = {
    val chains = CMS_SEEDS.zipWithIndex.map { case (seed, r) =>
      mixChainSql(r.toString, "keys", seed) +
        s""",
           |cnt$r AS (SELECT s.grp, h % $CMS_W AS b, COUNT(*) AS c
           |  FROM stream s JOIN h$r ON s.k = h$r.k GROUP BY 1, 2)"""
          .stripMargin
    }.mkString(",\n")
    val bk = CMS_SEEDS.indices.map(r =>
      s"SELECT k, $r AS r, h % $CMS_W AS b FROM h$r")
      .mkString("\n  UNION ALL ")
    val counters = CMS_SEEDS.indices.map(r =>
      s"SELECT grp, $r AS r, b, c FROM cnt$r").mkString("\n  UNION ALL ")
    s"""WITH stream AS (
       |  SELECT make_timestamp(
       |      epoch_us(ts) // 259200000000 * 259200000000) AS grp,
       |    CASE WHEN user_id < 45 THEN user_id % 7
       |         ELSE user_id END AS k
       |  FROM events),
       |keys AS (SELECT DISTINCT CASE WHEN i < 45 THEN i % 7 ELSE i END
       |    AS k FROM range(0, 150) t(i)),
       |totals AS (SELECT grp, COUNT(*) AS t FROM stream GROUP BY 1),
       |$chains,
       |bk AS (
       |  $bk),
       |counters AS (
       |  $counters),
       |grid AS (SELECT totals.grp, bk.k, bk.r, bk.b
       |  FROM totals CROSS JOIN bk),
       |est AS (SELECT grp, k, MIN(COALESCE(c, 0)) AS est
       |  FROM grid LEFT JOIN counters USING (grp, r, b) GROUP BY 1, 2)
       |SELECT grp AS win_start, k, est
       |FROM est JOIN totals USING (grp)
       |WHERE est >= t // 33 ORDER BY win_start, k""".stripMargin
  }

  private def cmsOracleSql: String = {
    val chains = CMS_SEEDS.zipWithIndex.map { case (seed, r) =>
      mixChainSql(r.toString, "stream", seed) +
        s",\ncnt$r AS (SELECT h % $CMS_W AS b, COUNT(*) AS c FROM h$r GROUP BY 1)"
    }.mkString(",\n")
    val thr = (BigDecimal("0.01") * BigDecimal(2).pow(63)).toLong
    val bk = CMS_SEEDS.indices.map(r =>
      s"SELECT DISTINCT k, $r AS r, h % $CMS_W AS b FROM h$r " +
        "WHERE k IN (SELECT k FROM cand)").mkString("\n  UNION ALL ")
    val counters = CMS_SEEDS.indices.map(r =>
      s"SELECT $r AS r, b, c FROM cnt$r").mkString("\n  UNION ALL ")
    s"""WITH stream AS (
       |  SELECT CASE WHEN l_orderkey % 100 < 30 THEN l_orderkey % 7
       |         ELSE l_orderkey END AS k,
       |  l_orderkey * 10 + l_linenumber AS rid FROM lineitem),
       |total AS (SELECT COUNT(*) AS t FROM stream),
       |$chains,
       |${mixChainSql("S", "stream", CMS_SAMPLE_SEED, inCol = "rid")},
       |cand AS (SELECT DISTINCT k FROM hS WHERE (h >> 1) < $thr),
       |bk AS (
       |  $bk),
       |counters AS (
       |  $counters),
       |est AS (SELECT k, MIN(c) AS est FROM bk JOIN counters USING (r, b)
       |        GROUP BY k)
       |SELECT k, est FROM est, total WHERE est >= t // 50 ORDER BY k""".stripMargin
  }

  /** Grouped-CMS replay: mix chains run ONCE over distinct keys / rids,
    * joined back to the grouped stream — counters per (grp, b), point
    * estimates per (grp, k). */
  private def cmsGroupedOracleSql: String = {
    val chains = CMS_SEEDS.zipWithIndex.map { case (seed, r) =>
      mixChainSql(r.toString, "keys", seed) +
        s""",
           |cnt$r AS (SELECT s.grp, h % $CMS_W AS b, COUNT(*) AS c
           |  FROM stream s JOIN h$r ON s.k = h$r.k GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val thr = (BigDecimal("0.01") * BigDecimal(2).pow(63)).toLong
    val bk = CMS_SEEDS.indices.map(r =>
      s"SELECT DISTINCT c.grp, c.k, $r AS r, h % $CMS_W AS b " +
        s"FROM cand c JOIN h$r ON c.k = h$r.k").mkString("\n  UNION ALL ")
    val counters = CMS_SEEDS.indices.map(r =>
      s"SELECT $r AS r, grp, b, c FROM cnt$r").mkString("\n  UNION ALL ")
    s"""WITH stream AS (
       |  SELECT o_orderstatus AS grp,
       |  CASE WHEN o_orderkey % 10 < 5 THEN o_custkey % 3
       |       ELSE o_custkey END AS k,
       |  o_orderkey AS rid FROM orders),
       |keys AS (SELECT DISTINCT k FROM stream),
       |rids AS (SELECT DISTINCT rid AS k FROM stream),
       |tot AS (SELECT grp, COUNT(*) AS t FROM stream GROUP BY 1),
       |$chains,
       |${mixChainSql("S", "rids", CMS_SAMPLE_SEED)},
       |cand AS (SELECT DISTINCT s.grp, s.k FROM stream s
       |  JOIN hS ON s.rid = hS.k WHERE (hS.h >> 1) < $thr),
       |bk AS (
       |  $bk),
       |counters AS (
       |  $counters),
       |est AS (SELECT grp, k, MIN(c) AS est FROM bk
       |        JOIN counters USING (r, grp, b) GROUP BY grp, k)
       |SELECT grp, k, est FROM est JOIN tot USING (grp)
       |WHERE est >= t // 20 ORDER BY grp, k""".stripMargin
  }

  // KMV sketch-size constants for the oracle strings, derived from the
  // one definition in KmvAgg (r10 ADVICE: raw 255.0 / 2^63 literals in
  // three places would silently desynchronize on a K change)
  private val kmvKSql = graft.functions.KmvAgg.kSql
  private val kmvEstNumSql =
    graft.functions.KmvAgg.estNumeratorSql(graft.functions.KmvAgg.K)

  val oracles: Map[String, String] = Map(
    // counters, sample, and point estimates replayed bit-exactly
    "agg_cms_heavy_hitters" -> cmsOracleSql,
    "events_stream_heavy_hitters" -> cmsStreamHhOracleSql,
    // the stream-merged sketch must equal a batch recomputation of the
    // same bucket counters — the mergeability contract through the gate;
    // bucket map + geometry are the agg_quantile_sketch integer replay,
    // the 3-day window the heavy-hitters epoch-floor arithmetic
    "events_stream_quantiles" ->
      """WITH pur AS (SELECT
        |    make_timestamp(epoch_us(ts) // 259200000000 * 259200000000)
        |      AS win_start,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |g AS (SELECT win_start, COUNT(*)::BIGINT AS n FROM pur GROUP BY 1),
        |b AS (SELECT win_start,
        |    CASE WHEN v < 32 THEN v
        |         ELSE 32 + (length(bin(v)) - 1 - 5) * 32
        |           + ((v >> (length(bin(v)) - 1 - 5)) - 32) END AS idx,
        |    COUNT(*)::BIGINT AS cnt
        |  FROM pur GROUP BY 1, 2),
        |geo AS (SELECT win_start, idx, cnt,
        |    CASE WHEN idx < 32 THEN CAST(1 AS BIGINT)
        |         ELSE (CAST(1 AS BIGINT) << CAST((idx - 32) // 32 AS INT))
        |    END AS width,
        |    SUM(cnt) OVER (PARTITION BY win_start ORDER BY idx) AS cum
        |  FROM b),
        |geo2 AS (SELECT win_start, cum,
        |    CASE WHEN idx < 32 THEN CAST(idx AS BIGINT)
        |         ELSE CAST(32 + (idx - 32) % 32 AS BIGINT) * width
        |           + (width - 1) // 2 END AS mid
        |  FROM geo),
        |t AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9), (0.99)) v(q))
        |SELECT g.win_start, t.q,
        |  CAST(MIN(geo2.mid) AS DOUBLE) / 100.0 AS est_value
        |FROM geo2 JOIN g ON geo2.win_start = g.win_start
        |JOIN t ON geo2.cum >= CEIL(t.q * g.n)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the KMV sketch replayed relationally: same 32-bit-limb SplitMix64
    // replay as agg_kmv_distinct's oracle (mix is bijective, so DISTINCT
    // before hashing equals distinct hashes), ranked per window; the
    // sketch = rows with rn <= 256, the estimate branches on whether it
    // filled (below K the sketch IS the set -> exact count), and the
    // xor-fold checksum pins the retained hash set bit-exactly
    "events_stream_distinct" ->
      s"""WITH ev AS (SELECT
        |    make_timestamp(epoch_us(ts) // 259200000000 * 259200000000)
        |      AS win_start,
        |    user_id::UBIGINT AS z0
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT DISTINCT win_start, z0 FROM ev),
        |t1 AS (SELECT win_start, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM d),
        |t2 AS (SELECT win_start, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |hx AS (SELECT DISTINCT win_start,
        |    CAST(xor(z2, z2 >> 31) >> 1 AS BIGINT) AS h FROM t2),
        |r AS (SELECT win_start, h,
        |  ROW_NUMBER() OVER (PARTITION BY win_start ORDER BY h) AS rn FROM hx),
        |g AS (SELECT win_start,
        |  CAST(CASE WHEN MAX(rn) > $kmvKSql THEN $kmvKSql ELSE MAX(rn) END
        |    AS INTEGER) AS n_sketch,
        |  MAX(rn) AS n_distinct,
        |  MAX(CASE WHEN rn = $kmvKSql THEN h END) AS h_k,
        |  bit_xor(CASE WHEN rn <= $kmvKSql THEN h END) AS h_checksum
        | FROM r GROUP BY 1)
        |SELECT win_start, n_sketch,
        |  CASE WHEN n_distinct >= $kmvKSql
        |       THEN round($kmvEstNumSql / CAST(h_k AS DOUBLE), 6)
        |       ELSE CAST(n_sketch AS DOUBLE) END AS est_distinct,
        |  h_checksum
        |FROM g ORDER BY win_start""".stripMargin,
    // the streaming HLL: same per-window hash relation as
    // events_stream_distinct, same register replay as agg_hll_distinct —
    // the drained micro-batch state is provably a pure MAX over the
    // window's hash set, so the batch replay IS the oracle
    "events_stream_hll" ->
      s"""WITH ev AS (SELECT
        |    make_timestamp(epoch_us(ts) // 259200000000 * 259200000000)
        |      AS grp,
        |    user_id::UBIGINT AS z0
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT DISTINCT grp, z0 FROM ev),
        |t1 AS (SELECT grp, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM d),
        |t2 AS (SELECT grp, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |hx AS (SELECT DISTINCT grp,
        |    CAST(xor(z2, z2 >> 31) >> 1 AS BIGINT) AS h FROM t2),
        |$hllAggSql
        |SELECT grp AS win_start, n_zero, reg_checksum,
        |  ${graft.functions.HllAgg.estimateSql("s", "n_zero")}
        |    AS est_distinct
        |FROM hagg ORDER BY 1""".stripMargin,
    "agg_cms_grouped" -> cmsGroupedOracleSql,
    "fn_array" ->
      """WITH g AS (SELECT l_orderkey,
        |  list(l_linenumber ORDER BY l_linenumber) AS line_nos
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |CAST(len(line_nos) AS INTEGER) AS n_lines,
        |line_nos[1] AS first_line,
        |list_max(line_nos) AS max_line,
        |list_contains(line_nos, 3) AS has_line3,
        |array_to_string(line_nos, ',') AS lines_csv
        |FROM g ORDER BY l_orderkey""".stripMargin,
    "window_first_last" ->
      """SELECT o_orderkey, o_custkey,
        |first_value(o_totalprice) OVER w AS first_price,
        |last_value(o_totalprice) OVER w AS last_price,
        |nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "join_range_auto" ->
      """WITH promos AS (SELECT i AS promo_id, i*10 + 9496 AS start_day,
        |  i*10 + 9510 AS end_day FROM range(60) t(i)),
        |pts AS (SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day,
        |  o_totalprice FROM orders)
        |SELECT promo_id, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |true AS rewrote_to_equi_join
        |FROM promos JOIN pts ON day >= start_day AND day < end_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_range_dates" ->
      """WITH promos AS (SELECT i AS promo_id,
        |  DATE '1996-01-01' + INTERVAL (i*10) DAY AS start_date,
        |  DATE '1996-01-01' + INTERVAL (i*10 + 13) DAY AS end_date
        |  FROM range(60) t(i)),
        |pts AS (SELECT CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT promo_id, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |true AS rewrote_to_equi_join
        |FROM promos JOIN pts ON od BETWEEN start_date AND end_date
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_range" ->
      """WITH promos AS (SELECT i AS promo_id, i*10 + 9496 AS start_day,
        |  i*10 + 9510 AS end_day FROM range(60) t(i)),
        |pts AS (SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day,
        |  o_totalprice FROM orders)
        |SELECT promo_id, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM promos JOIN pts ON day >= start_day AND day < end_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // replays mix64(o_orderkey) >>> 1 and the identical integer
    // thresholds, so the sampled set is bit-identical across engines
    "sample_stratified" ->
      s"""WITH z0s AS (SELECT o_orderkey::UBIGINT AS z0, o_orderpriority,
         |  o_totalprice FROM orders),
         |t1 AS (SELECT *, CAST((
         |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
         |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
         |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM z0s),
         |t2 AS (SELECT *, CAST((
         |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
         |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
         |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
         |hx AS (SELECT o_orderpriority, o_totalprice,
         |  xor(z2, z2 >> 31) >> 1 AS h FROM t2)
         |SELECT o_orderpriority, COUNT(*) AS n_sampled,
         |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM hx
         |WHERE h < CASE WHEN o_orderpriority = '1-URGENT'
         |    THEN ${sampleThreshold("0.5")}
         |  WHEN o_orderpriority = '2-HIGH' THEN ${sampleThreshold("0.25")}
         |  ELSE ${sampleThreshold("0.05")} END
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SplitMix64 replay (wrap-around multiplies via HUGEINT split
    // multiplication), then the K-th order statistic of the distinct
    // hashes per group and the closed-form KMV estimate.
    "agg_kmv_distinct" ->
      s"""WITH z0s AS (SELECT DISTINCT l_returnflag, l_orderkey::UBIGINT AS z0 FROM lineitem),
        |t1 AS (SELECT l_returnflag, CAST((
        |   (xor(z0, z0 >> 30) % 4294967296)::HUGEINT * 13787848793156543929 +
        |   ((((xor(z0, z0 >> 30) >> 32)::HUGEINT * 13787848793156543929) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z1 FROM z0s),
        |t2 AS (SELECT l_returnflag, CAST((
        |   (xor(z1, z1 >> 27) % 4294967296)::HUGEINT * 10723151780598845931 +
        |   ((((xor(z1, z1 >> 27) >> 32)::HUGEINT * 10723151780598845931) % 4294967296) << 32)
        |  ) % 18446744073709551616 AS UBIGINT) AS z2 FROM t1),
        |hx AS (SELECT DISTINCT l_returnflag, xor(z2, z2 >> 31) >> 1 AS h FROM t2),
        |r AS (SELECT l_returnflag, h,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM hx)
        |SELECT l_returnflag,
        |round(${graft.functions.KmvAgg.estNumeratorSql(KMV_BATCH_K)} / h, 6)
        |  AS approx_distinct
        |FROM r WHERE rn = $KMV_BATCH_K ORDER BY l_returnflag""".stripMargin,
    // the HLL registers replayed relationally: the same SplitMix64 chain,
    // then per (flag, bucket) the MAX rho from integer bit arithmetic
    // (bin() length — no transcendental), the full register grid with
    // empties as 0, and the closed-form estimate from the exact HUGEINT
    // register sum; the position-weighted checksum pins register content
    "agg_hll_distinct" ->
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
        |$hllAggSql,
        |ex AS (SELECT l_returnflag AS grp,
        |    COUNT(DISTINCT l_orderkey) AS exact_distinct
        |  FROM lineitem GROUP BY 1),
        |est AS (SELECT hagg.grp, n_zero, reg_checksum,
        |    ${graft.functions.HllAgg.estimateSql("s", "n_zero")}
        |      AS est_distinct,
        |    exact_distinct
        |  FROM hagg JOIN ex ON hagg.grp = ex.grp)
        |SELECT grp AS l_returnflag, n_zero, reg_checksum, est_distinct,
        |  exact_distinct,
        |  round(abs(est_distinct - exact_distinct) / exact_distinct, 6)
        |    AS rel_err
        |FROM est ORDER BY 1""".stripMargin,
    "assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
        |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  COUNT(*) AS n_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |freq AS (SELECT l_partkey, COUNT(*) AS n FROM li GROUP BY 1)
        |SELECT part_a, part_b, n_ab,
        |round((n_ab * n_orders)::DOUBLE / (fa.n * fb.n), 9) AS lift
        |FROM pairs, no
        |JOIN freq fa ON part_a = fa.l_partkey
        |JOIN freq fb ON part_b = fb.l_partkey
        |ORDER BY part_a, part_b""".stripMargin,
    "window_ewma" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |list_reduce(
        |  list(o_totalprice ORDER BY o_orderdate, o_orderkey),
        |  (acc, x) -> 0.3::DOUBLE * x + 0.7::DOUBLE * acc) AS ewma_spend
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "profile_table" ->
      """WITH m AS (
        |  SELECT 'o_orderkey' AS column_name, 'count' AS metric,
        |    COUNT(o_orderkey)::VARCHAR AS value FROM orders
        |  UNION ALL SELECT 'o_orderkey', 'n_distinct',
        |    COUNT(DISTINCT o_orderkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderkey', 'min', MIN(o_orderkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderkey', 'max', MAX(o_orderkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_custkey', 'count', COUNT(o_custkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_custkey', 'n_distinct',
        |    COUNT(DISTINCT o_custkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_custkey', 'min', MIN(o_custkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_custkey', 'max', MAX(o_custkey)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderstatus', 'count',
        |    COUNT(o_orderstatus)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderstatus', 'n_distinct',
        |    COUNT(DISTINCT o_orderstatus)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderstatus', 'min', MIN(o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', 'max', MAX(o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_totalprice', 'count',
        |    COUNT(o_totalprice)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_totalprice', 'n_distinct',
        |    COUNT(DISTINCT o_totalprice)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_totalprice', 'min',
        |    MIN(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_totalprice', 'max',
        |    MAX(CAST(o_totalprice AS DECIMAL(18,2)))::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderdate', 'count',
        |    COUNT(o_orderdate)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderdate', 'n_distinct',
        |    COUNT(DISTINCT o_orderdate)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderdate', 'min',
        |    MIN(o_orderdate)::VARCHAR FROM orders
        |  UNION ALL SELECT 'o_orderdate', 'max',
        |    MAX(o_orderdate)::VARCHAR FROM orders)
        |SELECT * FROM m ORDER BY column_name, metric""".stripMargin,
    "profile_histogram" ->
      """SELECT CASE WHEN o_totalprice < 0 THEN 0
        |  WHEN o_totalprice >= 600000 THEN 21
        |  ELSE CAST(floor(o_totalprice / 30000) + 1 AS BIGINT) END AS bucket,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS bucket_revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the global rank + integer bucket arithmetic replayed verbatim
    // (ROW_NUMBER over the same (price, orderkey) total order)
    "profile_histogram_eqdepth" ->
      """WITH r AS (SELECT o_totalprice,
        |    ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM orders)
        |SELECT ((rn - 1) * 8) // n AS bucket,
        |  COUNT(*)::BIGINT AS n_rows,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS bucket_revenue
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "stat_outliers" ->
      """WITH c AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) *
        |    CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM orders),
        |s AS (SELECT sx / n AS mean,
        |  sqrt(sxx / n - (sx / n) * (sx / n)) AS sd FROM c)
        |SELECT o_orderkey, o_totalprice,
        |round((o_totalprice - mean) / sd, 6) AS z
        |FROM orders, s
        |WHERE abs(round((o_totalprice - mean) / sd, 6)) > 1.5
        |ORDER BY o_orderkey""".stripMargin,
    "sample_hash_portable" ->
      """SELECT o_orderstatus, COUNT(*) AS n_sampled,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_price
        |FROM orders
        |WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2))
        |  AS INTEGER) < 26
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stat_regression" ->
      """WITH c AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |    CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |    CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT l_returnflag, n,
        |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b, sx, sy FROM c)
        |SELECT l_returnflag, n, round(b, 9) AS slope,
        |round((sy - b * sx) / n, 9) AS intercept
        |FROM b ORDER BY l_returnflag""".stripMargin,
    // same exact decimal moments (v² exact at scale 4), same left-assoc
    // double chain; the flag is decided on the rounded t in both engines
    // identical closed form on identical doubles: exact-count moments,
    // literal z constants, same operation order; ceil -> exact long
    "stat_power_analysis" ->
      """WITH e AS (SELECT event_id, event_type, user_id, ts FROM events
        |           WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, ts FROM events
        |      WHERE event_type = 'purchase'),
        |conv AS (SELECT e.event_type, count(*)::BIGINT AS n_conv
        |  FROM e WHERE EXISTS (SELECT 1 FROM p
        |    WHERE p.user_id = e.user_id AND p.ts > e.ts
        |      AND p.ts <= e.ts + INTERVAL 1 HOUR)
        |  GROUP BY 1),
        |st AS (SELECT e.event_type, count(*)::BIGINT AS n_exposures,
        |         coalesce(any_value(conv.n_conv), 0)::BIGINT AS n_conv
        |       FROM e LEFT JOIN conv ON e.event_type = conv.event_type
        |       GROUP BY 1
        |       HAVING coalesce(any_value(conv.n_conv), 0) > 0
        |         AND coalesce(any_value(conv.n_conv), 0) < count(*)),
        |f AS (SELECT event_type, n_exposures,
        |        n_conv::DOUBLE / n_exposures::DOUBLE AS p1 FROM st),
        |g AS (SELECT event_type, n_exposures, p1,
        |        least(p1 * 1.05::DOUBLE, 1.0::DOUBLE) AS p2 FROM f)
        |SELECT event_type, n_exposures, round(p1, 9) AS p_base,
        |  0.05::DOUBLE AS mde_rel,
        |  CAST(ceil(
        |    ((1.959963984540054::DOUBLE + 0.8416212335729143::DOUBLE)
        |      * (1.959963984540054::DOUBLE + 0.8416212335729143::DOUBLE)
        |      * (p1 * (1.0::DOUBLE - p1) + p2 * (1.0::DOUBLE - p2)))
        |    / ((p1 - p2) * (p1 - p2))) AS BIGINT) AS n_per_arm
        |FROM g ORDER BY event_type""".stripMargin,
    // exact quantiles replayed by the same rank rule (least v whose
    // cumulative count reaches ceil(q*N) — identical double literals,
    // one multiply, one ceil in both engines); the GK contract is a
    // TRUE literal that hash-fails if Spark's sketch exceeds its
    // published eps*N rank-error bound
    "stat_approx_quantiles" ->
      """WITH t AS (SELECT CAST(q AS DOUBLE) AS q,
        |    CAST(CEIL(CAST(q AS DOUBLE) *
        |      (SELECT COUNT(*) FROM lineitem)) AS BIGINT) AS r
        |  FROM (VALUES (0.5), (0.9), (0.99)) v(q)),
        |c AS (SELECT l_extendedprice AS v, COUNT(*) AS c
        |      FROM lineitem GROUP BY 1),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM c)
        |SELECT t.q, MIN(cum.v) AS exact_value,
        |  true AS within_rank_contract
        |FROM t JOIN cum ON cum.cum >= t.r
        |GROUP BY t.q ORDER BY t.q""".stripMargin,
    // the QuantileSketchAgg bucket map replayed in pure integer SQL:
    // floor(log2 v) = length(bin(v)) - 1 (a string-length read of the
    // binary representation — no float log whose last ULP could differ),
    // then the same shift/subdivide arithmetic as the JVM aggregate; the
    // estimate, the exact quantile, and the relative-error contract all
    // derive from identical BIGINTs, so the key hash-matches exactly
    "agg_quantile_sketch" ->
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |g AS (SELECT flag, COUNT(*)::BIGINT AS n FROM li GROUP BY 1),
        |b AS (SELECT flag,
        |    CASE WHEN v < 32 THEN v
        |         ELSE 32 + (length(bin(v)) - 1 - 5) * 32
        |           + ((v >> (length(bin(v)) - 1 - 5)) - 32) END AS idx,
        |    COUNT(*)::BIGINT AS cnt
        |  FROM li GROUP BY 1, 2),
        |geo AS (SELECT flag, idx, cnt,
        |    CASE WHEN idx < 32 THEN CAST(1 AS BIGINT)
        |         ELSE (CAST(1 AS BIGINT) << CAST((idx - 32) // 32 AS INT))
        |    END AS width,
        |    SUM(cnt) OVER (PARTITION BY flag ORDER BY idx) AS cum
        |  FROM b),
        |geo2 AS (SELECT flag, idx, cnt, cum,
        |    CASE WHEN idx < 32 THEN CAST(idx AS BIGINT)
        |         ELSE CAST(32 + (idx - 32) % 32 AS BIGINT) * width
        |           + (width - 1) // 2 END AS mid
        |  FROM geo),
        |t AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9), (0.99)) v(q)),
        |est AS (SELECT geo2.flag, t.q, MIN(geo2.mid) AS est_cents
        |  FROM geo2 JOIN g ON geo2.flag = g.flag
        |  JOIN t ON geo2.cum >= CEIL(t.q * g.n)
        |  GROUP BY 1, 2),
        |c AS (SELECT flag, v, COUNT(*)::BIGINT AS c FROM li GROUP BY 1, 2),
        |vc AS (SELECT flag, v,
        |    SUM(c) OVER (PARTITION BY flag ORDER BY v) AS cum FROM c),
        |ex AS (SELECT vc.flag, t.q, MIN(vc.v) AS exact_cents
        |  FROM vc JOIN g ON vc.flag = g.flag
        |  JOIN t ON vc.cum >= CEIL(t.q * g.n)
        |  GROUP BY 1, 2)
        |SELECT est.flag, est.q,
        |  CAST(est_cents AS DOUBLE) / 100.0 AS est_value,
        |  CAST(exact_cents AS DOUBLE) / 100.0 AS exact_value,
        |  round(CAST(abs(est_cents - exact_cents) AS DOUBLE)
        |    / CAST(exact_cents AS DOUBLE), 9) AS rel_err,
        |  CAST(abs(est_cents - exact_cents) AS DOUBLE)
        |    <= CAST(exact_cents AS DOUBLE) / 64.0 AS within_rel_contract
        |FROM est JOIN ex ON est.flag = ex.flag AND est.q = ex.q
        |ORDER BY 1, 2""".stripMargin,
    "stat_ab_welch" ->
      """WITH m AS (SELECT event_type,
        |  SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_a,
        |  CAST(SUM(CASE WHEN user_id % 2 = 0
        |    THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |    END) AS DOUBLE) AS ssq_a,
        |  SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |  CAST(SUM(CASE WHEN user_id % 2 = 1
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_b,
        |  CAST(SUM(CASE WHEN user_id % 2 = 1
        |    THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |    END) AS DOUBLE) AS ssq_b
        |  FROM events GROUP BY 1),
        |w AS (SELECT event_type, n_a, n_b,
        |  s_a / CAST(n_a AS DOUBLE) AS mean_a,
        |  s_b / CAST(n_b AS DOUBLE) AS mean_b,
        |  (ssq_a - s_a * s_a / CAST(n_a AS DOUBLE)) /
        |    (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
        |  (ssq_b - s_b * s_b / CAST(n_b AS DOUBLE)) /
        |    (CAST(n_b AS DOUBLE) - 1.0) AS var_b
        |  FROM m),
        |t AS (SELECT event_type, n_a, n_b, mean_a, mean_b,
        |  round((mean_a - mean_b) / sqrt(var_a / CAST(n_a AS DOUBLE) +
        |    var_b / CAST(n_b AS DOUBLE)), 6) AS t_welch
        |  FROM w)
        |SELECT event_type, n_a, n_b, round(mean_a, 6) AS mean_a,
        |  round(mean_b, 6) AS mean_b, t_welch,
        |  abs(t_welch) > 1.96 AS significant
        |FROM t ORDER BY event_type""".stripMargin,
    // doubled midranks (2r = 2*below + t + 1) keep all rank arithmetic
    // in exact BIGINTs; doubles appear only in the final closed-form z
    "stat_mann_whitney" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
        |             user_id % 2 AS variant
        |           FROM events
        |           WHERE value IS NOT NULL),
        |cells AS (SELECT event_type, v, COUNT(*)::BIGINT AS t,
        |            SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT
        |              AS ta
        |          FROM e GROUP BY 1, 2),
        |rk AS (SELECT event_type, t, ta,
        |         SUM(t) OVER (PARTITION BY event_type ORDER BY v) - t
        |           AS below
        |       FROM cells),
        |m AS (SELECT event_type, SUM(ta)::BIGINT AS n_a,
        |        SUM(t - ta)::BIGINT AS n_b,
        |        SUM(ta * (2 * below + t + 1))::BIGINT AS r2_a,
        |        SUM(t::HUGEINT * t * t - t) AS tie3
        |      FROM rk GROUP BY 1),
        |u AS (SELECT *, r2_a::DOUBLE / 2.0 -
        |        n_a::DOUBLE * (n_a::DOUBLE + 1.0) / 2.0 AS u_a
        |      FROM m),
        |z AS (SELECT *, round((u_a - n_a::DOUBLE * n_b::DOUBLE / 2.0) /
        |        sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0 *
        |          ((n_a::DOUBLE + n_b::DOUBLE + 1.0)
        |            - tie3::DOUBLE / ((n_a::DOUBLE + n_b::DOUBLE)
        |              * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))), 6) AS z
        |      FROM u)
        |SELECT event_type, n_a, n_b, u_a, z, abs(z) > 1.96 AS significant
        |FROM z ORDER BY event_type""".stripMargin,
    // chi2 folds the ROUNDED per-cell contributions in (prio, status)
    // order via list_reduce — same doubles, same order as Spark's
    // aggregate(array_sort(collect_list(...))) fold
    "stat_chi_square" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_orderstatus AS status
        |           FROM orders),
        |cells AS (SELECT prio, status, COUNT(*)::BIGINT AS n
        |          FROM o GROUP BY 1, 2),
        |rt AS (SELECT prio, SUM(n)::BIGINT AS nr FROM cells GROUP BY 1),
        |ct AS (SELECT status, SUM(n)::BIGINT AS nc FROM cells GROUP BY 1),
        |tot AS (SELECT SUM(n)::BIGINT AS nn FROM cells),
        |grid AS (SELECT rt.prio, ct.status,
        |           COALESCE(cells.n, 0)::BIGINT AS n, nr, nc, nn
        |         FROM rt CROSS JOIN ct
        |         LEFT JOIN cells ON cells.prio = rt.prio
        |           AND cells.status = ct.status
        |         CROSS JOIN tot),
        |pc AS (SELECT prio, status, n,
        |         round(nr::DOUBLE * nc::DOUBLE / nn::DOUBLE, 6) AS expected,
        |         round((n::DOUBLE - nr::DOUBLE * nc::DOUBLE / nn::DOUBLE)
        |           * (n::DOUBLE - nr::DOUBLE * nc::DOUBLE / nn::DOUBLE)
        |           / (nr::DOUBLE * nc::DOUBLE / nn::DOUBLE), 9) AS contrib
        |       FROM grid),
        |st AS (SELECT round(list_reduce(list_prepend(0.0::DOUBLE,
        |         list(contrib ORDER BY prio, status)),
        |         (a, x) -> a + x), 9) AS chi2,
        |       ((COUNT(DISTINCT prio) - 1)
        |         * (COUNT(DISTINCT status) - 1))::BIGINT AS dof
        |       FROM pc)
        |SELECT prio, status, n, expected, contrib, chi2, dof
        |FROM pc CROSS JOIN st ORDER BY prio, status""".stripMargin,
    "stat_corr" ->
      """WITH c AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |    CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |    CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem)
        |SELECT n,
        |round((sxy / n - sx / n * (sy / n)) /
        |  (sqrt(sxx / n - (sx / n) * (sx / n)) *
        |   sqrt(syy / n - (sy / n) * (sy / n))), 9) AS pearson_r
        |FROM c""".stripMargin,
    "typed_dataset" ->
      """SELECT o_orderstatus, COUNT(*) AS n_big,
        |SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
        |MAX(o_orderkey) AS max_orderkey
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "fn_regex" ->
      """SELECT doc_id,
        |COALESCE(regexp_extract(text, '([0-9]+)', 1), '') AS first_number,
        |regexp_matches(text, 'data') AS mentions_data,
        |CAST(len(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the,
        |COALESCE(array_to_string(regexp_extract_all(text, '[0-9]+'), ','), '')
        |  AS all_numbers
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fn_date_arith" ->
      """SELECT o_orderkey,
        |o_orderdate + INTERVAL 30 DAY AS plus_30d,
        |CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
        |last_day(o_orderdate) AS month_end,
        |date_trunc('month', o_orderdate) AS month_start,
        |CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS INTEGER)
        |  AS epoch_day
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "orderby_nulls" ->
      """SELECT c_custkey,
        |nullif(c_mktsegment, 'BUILDING') AS seg,
        |CAST(ROW_NUMBER() OVER (ORDER BY nullif(c_mktsegment, 'BUILDING')
        |  ASC NULLS LAST, c_custkey) AS BIGINT) AS rn_nulls_last,
        |CAST(ROW_NUMBER() OVER (ORDER BY nullif(c_mktsegment, 'BUILDING')
        |  DESC NULLS FIRST, c_custkey) AS BIGINT) AS rn_nulls_first
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "agg_percentile_cont" ->
      """SELECT o_orderpriority,
        |quantile_cont(o_totalprice, 0.5) AS p50,
        |quantile_cont(o_totalprice, 0.9) AS p90,
        |COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_median_disc" ->
      """SELECT o_orderstatus,
        |quantile_disc(o_totalprice, 0.5) AS median_price,
        |COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "window_range_interval" ->
      """SELECT o_orderkey, o_custkey,
        |epoch_us(o_orderdate) // 86400000000 AS day,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |  PARTITION BY o_custkey
        |  ORDER BY epoch_us(o_orderdate) // 86400000000
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS trailing_7d_spend
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "agg_unpivot" ->
      """WITH p AS (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        |           FROM orders GROUP BY 1, 2)
        |SELECT g.o_orderpriority, s.o_orderstatus,
        |COALESCE(p.cnt, 0)::BIGINT AS n
        |FROM (SELECT DISTINCT o_orderpriority FROM orders) g
        |CROSS JOIN (VALUES ('F'), ('O'), ('P')) s(o_orderstatus)
        |LEFT JOIN p USING (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "join_correlated_scalar" ->
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin,
    // conditional counts == declared pivot (quoted aliases keep case)
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |coalesce(o_orderpriority, 'ALL') AS priority,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY status, priority""".stripMargin,
    "join_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_id
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.click_ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "join_asof_native" ->
      """WITH clicks AS (
        |  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.click_ts, c.click_id
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.click_ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // same smoothed proportions, same single divisions, same rounded
    // contributions folded in pinned bucket order
    "profile_drift" ->
      """WITH ev AS (SELECT ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |bounds AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |  FROM ev),
        |b AS (SELECT CASE WHEN epoch_us(ts) * 2 < lo + hi
        |        THEN 'old' ELSE 'new' END AS half,
        |      least(greatest(cents // 6000, 0), 9)::BIGINT AS bucket
        |  FROM ev CROSS JOIN bounds),
        |cells AS (SELECT bucket,
        |    COUNT(*) FILTER (WHERE half = 'old')::BIGINT AS n_old,
        |    COUNT(*) FILTER (WHERE half = 'new')::BIGINT AS n_new
        |  FROM b GROUP BY 1),
        |grid AS (SELECT r.bucket::BIGINT AS bucket,
        |    COALESCE(n_old, 0)::BIGINT AS n_old,
        |    COALESCE(n_new, 0)::BIGINT AS n_new
        |  FROM range(0, 10) r(bucket) LEFT JOIN cells
        |    ON r.bucket = cells.bucket),
        |tot AS (SELECT SUM(n_old)::BIGINT AS ta, SUM(n_new)::BIGINT AS tb
        |  FROM grid),
        |per AS (SELECT bucket, n_old, n_new,
        |    round((n_old + 1)::DOUBLE / (ta + 10)::DOUBLE, 9) AS p_old,
        |    round((n_new + 1)::DOUBLE / (tb + 10)::DOUBLE, 9) AS p_new,
        |    round(((n_old + 1)::DOUBLE / (ta + 10)::DOUBLE
        |         - (n_new + 1)::DOUBLE / (tb + 10)::DOUBLE)
        |      * ln(((n_old + 1)::DOUBLE / (ta + 10)::DOUBLE)
        |          / ((n_new + 1)::DOUBLE / (tb + 10)::DOUBLE)), 9)
        |      AS contrib
        |  FROM grid CROSS JOIN tot),
        |psi AS (SELECT round(list_reduce(list_prepend(0.0::DOUBLE,
        |    list(contrib ORDER BY bucket)), (a, x) -> a + x), 9) AS psi
        |  FROM per)
        |SELECT bucket, n_old, n_new, p_old, p_new, contrib, psi,
        |  psi > 0.2 AS drift_flag
        |FROM per CROSS JOIN psi ORDER BY bucket""".stripMargin,

    // native ASOF then the staleness CASE — both payload columns null
    // together when the single match is older than the tolerance
    "join_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  CASE WHEN c.click_ts >= p.ts - INTERVAL 30 MINUTE
        |       THEN c.click_ts END AS click_ts,
        |  CASE WHEN c.click_ts >= p.ts - INTERVAL 30 MINUTE
        |       THEN c.click_id END AS click_id
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.click_ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "fn_string" ->
      """SELECT c_custkey,
        |upper(c_name) AS upper_name,
        |lower(c_mktsegment) AS lower_seg,
        |substr(c_name, 1, 8) AS name_prefix,
        |concat_ws('|', c_mktsegment, c_name) AS seg_name,
        |rpad(c_mktsegment, 12, ' ') AS seg_padded,
        |trim(rpad(c_mktsegment, 12, ' ')) AS seg_trimmed,
        |c_name LIKE '%1%' AS has_one,
        |regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
        |translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |abs(l_extendedprice - 50000.0) AS abs_centered,
        |sqrt(l_extendedprice) AS sqrt_price,
        |CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
        |CAST(floor(l_tax * 100) AS BIGINT) AS tax_pct_floor,
        |round(l_extendedprice / 1000, 1) AS price_k,
        |l_quantity * l_quantity AS qty_sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "expr_null_handling" ->
      """WITH t AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg_or_null
        |           FROM customer)
        |SELECT coalesce(seg_or_null, '(defaulted)') AS segment,
        |COUNT(*) AS n_rows,
        |COUNT(seg_or_null) AS n_nonnull,
        |SUM(CAST(seg_or_null IS NULL AS INTEGER))::BIGINT AS n_null
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(CAST(year(o_orderdate) AS INTEGER), -1) AS yr,
        |coalesce(o_orderstatus, 'ALL') AS status,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE(year(o_orderdate), o_orderstatus)
        |ORDER BY yr, status""".stripMargin,
    "agg_min_max" ->
      """SELECT o_orderstatus,
        |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
        |min(o_orderpriority) AS min_priority, max(o_orderpriority) AS max_priority
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "window_ntile" ->
      """SELECT c_nationkey, c_custkey,
        |CAST(NTILE(4) OVER (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS balance_quartile
        |FROM customer ORDER BY c_nationkey, c_custkey""".stripMargin,
    // the NATIVE window aggregate the Spark plan emulates via dense_rank
    "window_count_distinct" ->
      """SELECT o_orderkey, o_orderstatus,
        |COUNT(DISTINCT o_orderpriority)
        |  OVER (PARTITION BY o_orderstatus) AS n_distinct_priorities
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "events_window_sliding" ->
      """WITH w AS (
        |  SELECT e.*, make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000)
        |    AS win_start
        |  FROM events e, unnest(range(0, 4)) AS t(k)
        |  WHERE ((epoch_us(ts) // 900000000) - k) * 900000000
        |        > epoch_us(ts) - 3600000000)
        |SELECT win_start, event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // agg_approx_distinct: sketch values differ across engines by design;
    // the oracle checks the exact counts and the error-bound flag (which
    // must be true — DuckDB derives it from the exact count alone)
    "agg_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
        |true AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // KS: same rollup-window construction; DuckDB's integer SUM widens to
    // HUGEINT, cast back to BIGINT at the seams; the significance
    // comparison runs in HUGEINT exactly as Spark's DECIMAL(38,0)
    "stat_ks_test" ->
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
        |             user_id % 2 AS variant
        |           FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT event_type, v,
        |            SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT
        |              AS ca,
        |            SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT
        |              AS cb
        |          FROM e GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |          SUM(ca) OVER (PARTITION BY event_type ORDER BY v)
        |            AS cum_a,
        |          SUM(cb) OVER (PARTITION BY event_type ORDER BY v)
        |            AS cum_b
        |        FROM cells),
        |t AS (SELECT event_type, MAX(cum_a)::BIGINT AS n_a,
        |        MAX(cum_b)::BIGINT AS n_b
        |      FROM cum GROUP BY 1),
        |m AS (SELECT cum.event_type, MAX(n_a)::BIGINT AS n_a,
        |        MAX(n_b)::BIGINT AS n_b,
        |        MAX(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS d_num
        |      FROM cum JOIN t USING (event_type) GROUP BY 1)
        |SELECT event_type, n_a, n_b, d_num,
        |round(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6) AS d,
        |(d_num::HUGEINT * d_num * 1000000) >
        |  (1844164::HUGEINT * (n_a + n_b) * n_a * n_b) AS significant
        |FROM m ORDER BY event_type""".stripMargin,
    // skyline: the oracle IS the quadratic NOT EXISTS dominance check the
    // distributed prefix-max form replaces
    "skyline_pareto" ->
      """WITH p AS (SELECT p_partkey, p_retailprice, p_size FROM part)
        |SELECT p.p_partkey, p.p_retailprice, p.p_size,
        |NOT EXISTS (SELECT 1 FROM p q
        |            WHERE q.p_retailprice <= p.p_retailprice
        |              AND q.p_size >= p.p_size
        |              AND (q.p_retailprice < p.p_retailprice
        |                   OR q.p_size > p.p_size)) AS on_frontier
        |FROM p ORDER BY p_partkey""".stripMargin,
    "join_lateral_topn" ->
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin,
    // COALESCE around the one array_to_string whose list can be EMPTY
    // (list_filter): duckdb 1.0.0 returns NULL for an empty list where
    // Spark's array_join and newer duckdb return '' — the coalesce is a
    // no-op on the newer engines and makes the oracle version-portable
    // (it removed the one documented local-gate footnote)
    "fn_higher_order" ->
      """WITH g AS (SELECT l_orderkey,
        |  list(l_quantity::BIGINT ORDER BY l_quantity::BIGINT) AS qtys
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |array_to_string(list_transform(qtys, x -> x * 2), ',')
        |  AS doubled_csv,
        |COALESCE(array_to_string(list_filter(qtys, x -> x > 25), ','), '')
        |  AS large_csv,
        |list_contains(qtys, 1) AS has_single,
        |list_reduce(qtys, (acc, x) -> acc + x)::BIGINT AS qty_sum,
        |(list_reduce(qtys, (acc, x) -> acc + x) * 10)::BIGINT
        |  AS qty_sum_x10,
        |array_to_string(list_transform(range(1, len(qtys) + 1),
        |  i -> qtys[i] + qtys[len(qtys) + 1 - i]), ',')
        |  AS palindrome_sum_csv
        |FROM g ORDER BY l_orderkey""".stripMargin,
  )

  /** Encoder row for [[typedDataset]]. */
  final case class OrderRow(
      o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double)
}
