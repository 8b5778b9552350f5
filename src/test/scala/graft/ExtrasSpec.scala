package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Extras

class ExtrasSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  test("mann-whitney ranks satisfy the rank-sum identity per type") {
    val rows = Extras.statMannWhitney(spark, SF).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, ua) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val n = na + nb
      // U_A + U_B = n_a * n_b  (equivalently R_A + R_B = n(n+1)/2);
      // recover U_B from the same construction run on swapped variants
      assert(ua >= 0.0 && ua <= na.toDouble * nb,
        s"${r.getString(0)}: U_A=$ua outside [0, ${na * nb}]")
      assert(n > 0 && !r.getDouble(4).isNaN)
    }
  }

  test("agg_quantile_sketch bucket-scan exact side equals the brute-force " +
      "rank quantile on a gnarly planted distribution (r17 rewrite)") {
    import spark.implicits._
    // heavy ties, octave boundaries, small exact cells, a far outlier —
    // the shapes the target-bucket walk must cut correctly
    val vals: Seq[(String, Long)] =
      (0 until 4000).map { i =>
        val m = graft.functions.Mix64.mix(i.toLong)
        val flag = Seq("A", "B", "C")(i % 3)
        val v = (i % 7) match {
          case 0 => (m & 31L).abs            // exact small cells
          case 1 => 32L + (m & 31L).abs      // first octave
          case 2 => (1L << (5 + (i % 20))) - 1 // octave upper edges
          case 3 => 1L << (5 + (i % 20))     // octave lower edges
          case 4 => 123456789L               // hot tie
          case _ => (m & ((1L << 36) - 1)).abs
        }
        (flag, v)
      }
    val got = Extras.aggQuantileSketchOf(spark, vals.toDF("flag", "v"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val byFlag = vals.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (flag <- Seq("A", "B", "C"); q <- Seq(0.5, 0.9, 0.99)) {
      val sorted = byFlag(flag)
      val exact = sorted((math.ceil(q * sorted.length) - 1).toInt)
      val (est, gotExact) = got((flag, q))
      assert(gotExact == exact / 100.0,
        s"$flag q=$q: exact ${gotExact} != brute-force ${exact / 100.0}")
      // the sketch's documented <=1/64 relative-error contract
      assert(math.abs(est - gotExact) <= gotExact / 64.0 + 1e-9,
        s"$flag q=$q: est $est vs exact $gotExact")
    }
  }

  test("agg_quantile_sketch: null values leave the quantiles of the " +
      "non-null values unchanged") {
    import spark.implicits._
    val vals: Seq[(String, Option[Long])] = (0 until 3000).map { i =>
      val flag = Seq("A", "B")(i % 2)
      // B carries nulls on most rows: counted in the rank base they
      // would push the 0.99 rank past every bucket
      val isNull = if (flag == "A") i % 10 == 0 else i % 4 != 1
      flag -> (if (isNull) None
        else Some((graft.functions.Mix64.mix(i.toLong) & 0xFFFFFL).abs))
    }
    val withNulls = vals.toDF("flag", "v")
    def quantiles(df: org.apache.spark.sql.DataFrame) =
      Extras.aggQuantileSketchOf(spark, df).collect().map(_.toSeq).toSeq
    val expected = quantiles(withNulls.filter(col("v").isNotNull))
    assert(expected.size == 6)
    assert(quantiles(withNulls) == expected)
  }

  test("markov transition probabilities sum to 1 per from_type") {
    val rows = graft.ext.EventOps.eventsMarkovTransitions(spark, SF)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (ft, rs) =>
      val p = rs.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 1e-6, s"$ft: probabilities sum to $p")
    }
  }

  test("stat_approx_quantiles: exact values are true rank-quantiles and " +
      "the GK contract holds") {
    val rows = Extras.statApproxQuantiles(spark, SF).collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.5, 0.9, 0.99))
    // every row's GK rank-error contract must hold (the oracle pins TRUE)
    assert(rows.forall(_.getAs[Boolean]("within_rank_contract")))
    // cross-check the distributed rank scan against a driver-side sort
    val vs = graft.Tables.load(spark, SF, "lineitem")
      .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val q = r.getDouble(0)
      val want = vs(math.ceil(q * vs.length).toInt - 1)
      assert(r.getAs[Double]("exact_value") == want,
        s"q=$q: ${r.getAs[Double]("exact_value")} != $want")
    }
  }

  test("agg_kmv_distinct: native sketch path matches the rank-window " +
      "formulation and plans without Window") {
    import graft.functions.Mix64.mix64
    import org.apache.spark.sql.expressions.Window
    val df = Extras.aggKmvDistinct(spark, SF)
    // the r9 formulation the native KmvAgg replaced: row_number over the
    // distinct hashes per group (3 single-task sorts at 100x — the scale
    // shape this key migrated away from). The sketch is a pure set
    // function, so the two must agree bit-exactly.
    val K = 64
    val w = Window.partitionBy("l_returnflag").orderBy("h")
    val legacy = graft.Tables.load(spark, SF, "lineitem")
      .select(col("l_returnflag"),
        shiftrightunsigned(mix64(col("l_orderkey")), 1).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === K)
      .select(col("l_returnflag"),
        round(lit(graft.functions.KmvAgg.estNumerator(K)) / col("h"), 6)
          .as("approx_distinct"))
    assert(df.collect().toSeq ==
      legacy.orderBy("l_returnflag").collect().toSeq)
    // the point of the migration: no rank window (and no per-group sort
    // feeding one) anywhere in the key's plan — O(K) heap state instead
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window still in plan:\n$plan")
  }

  test("approx_count_distinct within 2 sigma of exact (HLL++ rsd=0.05)") {
    val rows = Extras.aggApproxDistinctRaw(spark, SF).collect()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"${r.getAs[String]("l_returnflag")}: approx=$approx exact=$exact")
    }
    // the registered key reports the bound flag — it must hold
    assert(Extras.aggApproxDistinct(spark, SF).collect()
      .forall(_.getAs[Boolean]("within_bound")))
  }

  test("sliding windows: every event lands in exactly 4 windows") {
    val total = graft.Tables.load(spark, SF, "events").count()
    val windowed = Extras.eventsWindowSliding(spark, SF)
      .agg(sum("n")).collect().head.getLong(0)
    assert(windowed == 4 * total)
  }

  test("cube emits all four grouping-set combinations") {
    val df = Extras.aggCube(spark, SF)
    assert(df.filter(col("yr") === -1 && col("status") === "ALL").count() == 1)
    assert(df.filter(col("yr") === -1 && col("status") =!= "ALL").count() > 0)
    assert(df.filter(col("yr") =!= -1 && col("status") === "ALL").count() > 0)
    // grand total consistency
    val grand = df.filter(col("yr") === -1 && col("status") === "ALL")
      .collect().head.getAs[Long]("n")
    assert(grand == graft.Tables.load(spark, SF, "orders").count())
  }

  test("ntile quartiles are balanced within each nation") {
    val df = Extras.windowNtile(spark, SF)
    val spread = df.groupBy("c_nationkey", "balance_quartile").count()
      .groupBy("c_nationkey")
      .agg((max("count") - min("count")).as("spread"))
      .filter(col("spread") > 1)
    assert(spread.count() == 0)
  }

  test("COUNT(DISTINCT) OVER emulation excludes NULLs like the SQL aggregate") {
    // planted NULLs: partitions with no, some, and all-NULL values — the
    // dense_rank-max emulation must match groupBy countDistinct (which
    // excludes NULLs) on every row
    import spark.implicits._
    val df = Seq(
      ("p1", Some("a")), ("p1", Some("b")), ("p1", Some("a")),
      ("p2", Some("a")), ("p2", None), ("p2", Some("c")), ("p2", None),
      ("p3", None), ("p3", None)
    ).toDF("part", "v")
    val got = Extras.distinctCountOver(df, "part", "v", "n_distinct")
      .select("part", "n_distinct").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = df.groupBy("part").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"emulation $got != countDistinct $want")
    assert(want("p3") == 0L)
  }

  test("seasonal decomposition: identity holds where trend is defined, " +
      "edges emit NULL, and the seasonal component is dow-constant") {
    val rows = graft.ext.EventOps.eventsSeasonalDecompose(spark, SF)
      .collect()
    val n = rows.length
    assert(n >= 14) // a month of generated days
    // first/last 3 days: no full centered window -> NULL trend and resid
    (rows.take(3) ++ rows.takeRight(3)).foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(4), s"edge row not NULL: $r")
    }
    // interior: y = trend + seasonal + resid up to the two 6dp rounds
    rows.drop(3).dropRight(3).foreach { r =>
      val (y, tr, se, re) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(y - (tr + se + re)) < 2e-6, s"identity broke: $r")
    }
    // seasonal is a pure function of day-of-week
    val byDow = rows.filter(!_.isNullAt(3))
      .groupBy(r => r.getDate(0).toLocalDate.toEpochDay % 7)
      .view.mapValues(_.map(_.getDouble(3)).distinct)
    byDow.foreach { case (dow, vs) =>
      assert(vs.size == 1, s"dow $dow has ${vs.size} seasonal values")
    }
  }

  test("changepoint: one row per event type, argmax matches a driver-side " +
      "recompute on a planted step series") {
    val got = graft.ext.EventOps.eventsChangepoint(spark, SF).collect()
    val types = Tables.load(spark, SF, "events")
      .select("event_type").distinct().count()
    assert(got.length == types)
    got.foreach(r => assert(!r.isNullAt(1) && !r.isNullAt(4)))
    // planted step: 10 days at 1.00/day then 10 days at 5.00/day, one
    // event per day -> CUSUM argmax must land exactly on the step
    import spark.implicits._
    val step = (1 to 20).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-03-$i%02d 12:00:00"),
        "probe", if (i <= 10) 1.00 else 5.00)
    }.toDF("ts", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("cptest").toString
    step.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val cp = graft.ext.EventOps.eventsChangepoint(spark, dir).collect()
    assert(cp.length == 1)
    assert(cp.head.getDate(1).toString == "2024-03-10")
    assert(cp.head.getDouble(2) == 1.0 && cp.head.getDouble(3) == 5.0)
    assert(cp.head.getDouble(4) == 4.0)
    graft.streaming.StreamingOps.del(java.nio.file.Paths.get(dir))
  }

  test("forecast backtest: a perfectly weekly-periodic series scores " +
      "MAE 0, a constant-drift series scores bias = drift") {
    import spark.implicits._
    // 28 days: value = dow + 1 (period 7, exact repetition) for type p1;
    // value = day index (drift +1/day -> y - y(-7) = 7) for type p2
    val rows = (1 to 28).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(f"2024-03-$i%02d 12:00:00")
      Seq((ts, "p1", (i % 7 + 1).toDouble), (ts, "p2", i.toDouble))
    }.toDF("ts", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("fctest").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.ext.EventOps.eventsForecastBacktest(spark, dir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("p1") == ((7L, 0.0, 0.0)))
    assert(got("p2") == ((7L, 7.0, 7.0)))
    graft.streaming.StreamingOps.del(java.nio.file.Paths.get(dir))
    // and the real fixture yields a row per type with finite errors
    val real = graft.ext.EventOps.eventsForecastBacktest(spark, SF).collect()
    assert(real.nonEmpty && real.forall(r => r.getLong(1) > 0))
  }

  test("equi-depth histogram: 8 buckets of floor/ceil(n/8) rows with " +
      "non-overlapping, ordered value ranges") {
    val rows = Extras.profileHistogramEqdepth(spark, SF).collect()
    assert(rows.length == 8)
    val n = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(1) == n / 8 || r.getLong(1) == n / 8 + 1,
        s"unbalanced bucket: $r")
    }
    // ranges ordered and non-overlapping (equal edge values can only
    // touch at a shared boundary price)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) <= b.getDouble(2) ||
        a.getDouble(3) == b.getDouble(2),
        s"overlapping buckets: $a / $b")
      assert(a.getDouble(2) <= a.getDouble(3))
    }
  }

  test("events_rfm partitions users into balanced quintiles per dimension") {
    val rows = graft.ext.EventOps.eventsRfm(spark, SF).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
    val users = Tables.load(spark, SF, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(rows.map(_._2).sum == users)
    // the (rn-1)*5 div n cut spreads remainders evenly: every marginal
    // tile holds floor(n/5) or ceil(n/5) users, in each dimension
    for (dim <- 0 to 2) {
      val marginal = rows.groupBy(_._1.productElement(dim))
        .map { case (_, v) => v.map(_._2).sum }
      assert(marginal.size == 5)
      assert(marginal.forall(c => c == users / 5 || c == users / 5 + 1))
    }
  }

  test("events_attribution conserves credited mass across all three models") {
    val out = graft.ext.EventOps.eventsAttribution(spark, SF)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    val models = out.map(_._1).distinct.sorted
    assert(models.toSeq == Seq("first_touch", "last_touch", "linear"))
    val purchases = Tables.load(spark, SF, "events")
      .filter(col("event_type") === "purchase").count()
    // first/last credit each purchase exactly once (incl. `none`)
    for (m <- Seq("first_touch", "last_touch"))
      assert(out.filter(_._1 == m).map(_._3).sum == purchases, m)
    // every model distributes the same total purchase value: linear's
    // per-credit e6 rounding can drift at most 0.5e-6 per credit
    val totals = models.map(m => m -> out.filter(_._1 == m).map(_._4).sum).toMap
    val credits = out.filter(_._1 == "linear").map(_._3).sum
    assert(math.abs(totals("first_touch") - totals("last_touch")) < 1e-6)
    assert(math.abs(totals("linear") - totals("first_touch")) <=
      credits * 0.5e-6 + 1e-6)
  }

  test("attribution `none` rollup: arithmetic remainder equals the " +
      "anti-join ground truth") {
    // r18 round 2: the unattributed rollup is computed as
    // (all purchases − attributed), not as an events-scale anti-join;
    // this rebuilds the anti-join form from first principles and pins
    // count AND credited mass (exact e6 longs) against the shipped key.
    val out = graft.ext.EventOps.eventsAttribution(spark, SF)
      .filter(col("touch_type") === "none")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val e = Tables.load(spark, SF, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
        col("user_id"), col("ts").as("p_ts"),
        Tables.dec(col("value")).cast("double").as("p_value"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts").as("t_ts"))
    val attributedIds = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") <= col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .select("p_id").distinct()
    val truth = purchases.join(attributedIds, Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n"),
        sum(round(col("p_value") * lit(1000000.0)).cast("long")).as("e6"))
      .select(col("n"),
        round(col("e6").cast("double") / lit(1000000.0), 6).as("credited"))
      .collect().head
    val (n, credited) = (truth.getLong(0), truth.getDouble(1))
    if (n == 0) assert(out.isEmpty)
    else {
      assert(out.map(_._1).sorted.toSeq ==
        Seq("first_touch", "last_touch", "linear"))
      out.foreach { case (_, cnt, cr) =>
        assert(cnt == n)
        assert(cr == credited) // exact: same e6 long, same one round()
      }
    }
    assert(n > 0, "SF corpus should leave some purchases unattributed")
  }

  test("attribution packed first/last fold: decimal min/max selects the " +
      "same touch as the struct fold, ties included") {
    // r18 round 2: the per-purchase first/last selector folds as
    // min/max of unix_micros(t_ts)*2e19 + t_id*2 + type_bit instead of
    // min/max(struct(t_ts, t_id, touch_type)). Pin the order
    // equivalence on a tie-heavy planted frame: many touches sharing
    // the same timestamp (where the unique id must decide), adjacent
    // ids with opposite types (where the low bit must not leak into
    // the id comparison), and a spread of distinct timestamps.
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rng = new scala.util.Random(18)
    val rows = (0 until 40).flatMap { g =>
      (0 until 12).map { i =>
        val ts = new java.sql.Timestamp(
          base + (if (i % 3 == 0) 0L else rng.nextInt(5) * 1000L))
        // ids unique per group (the event_id precondition); adjacent
        // ids carry opposite types so a bit leaking into the id
        // comparison would flip a winner
        val id = g * 1000L + i
        val ty = if (i % 2 == 0) "click" else "view"
        (g.toLong, ts, ty, id)
      }
    }
    val df = rows.toDF("grp", "t_ts", "touch_type", "t_id")
    val pk = expr(
      "CAST(unix_micros(CAST(t_ts AS TIMESTAMP)) AS DECIMAL(38,0)) * " +
        "20000000000000000000BD + " +
        "CAST(t_id * 2 + IF(touch_type = 'click', 1, 0) AS DECIMAL(38,0))")
    def ty(p: org.apache.spark.sql.Column) =
      when(p % 2 === 1, "click").otherwise("view")
    val both = df.groupBy("grp").agg(
      min(struct(col("t_ts"), col("t_id"), col("touch_type")))
        .getField("touch_type").as("first_struct"),
      max(struct(col("t_ts"), col("t_id"), col("touch_type")))
        .getField("touch_type").as("last_struct"),
      ty(min(pk)).as("first_pk"), ty(max(pk)).as("last_pk"))
    val bad = both.filter(col("first_struct") =!= col("first_pk") ||
      col("last_struct") =!= col("last_pk"))
    assert(bad.count() == 0, bad.collect().mkString("\n"))
  }

  test("attribution whale guard: day-bucket key bounds per-cell fan-out " +
      "and keeps the pair set identical") {
    import spark.implicits._
    // a planted power-law whale: 2000 touches + 400 purchases spread over
    // 100 days, plus a normal user. user_id-only join = 2000*400 = 800k
    // pairs through ONE hash cell before the window filter even runs.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(hours: Long) = new java.sql.Timestamp(base + hours * 3600000L)
    val touches = ((0 until 2000).map(i => (7L, ts(i * 100 / 83), "view", 10000L + i)) ++
      Seq((9L, ts(5), "click", 90001L)))
      .toDF("user_id", "t_ts", "touch_type", "t_id")
    val purchases = ((0 until 400).map(i => (20000L + i, 7L, ts(i * 6), 5.0)) ++
      Seq((90002L, 9L, ts(30), 7.0)))
      .toDF("p_id", "user_id", "p_ts", "p_value")
    val guarded = graft.ext.EventOps.touchWindowPairs(purchases, touches)
    val naive = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") <= col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("p_id", "t_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = pairSet(guarded)
    assert(g == pairSet(naive), "guarded pair set differs from the naive join")
    assert(g.nonEmpty)
    // the fan-out bound itself: rows entering the exact-window filter.
    // Naive = per-user cross product (800k+ for the whale); guarded = only
    // (purchase, touch) pairs whose day buckets align — the whale's 100
    // active days shrink each cell to ~1 day of touches x the <=8-day
    // probe window, an order of magnitude less pre-filter work.
    val naivePre = purchases.join(touches, Seq("user_id")).count()
    val b = graft.ext.EventOps.ATTR_BUCKET_DAYS
    val guardedPre = purchases
      .withColumn("__bk",
        explode(expr("sequence((unix_timestamp(p_ts) div 86400 - 7) div " +
          s"$b, unix_timestamp(p_ts) div 86400 div $b)")))
      .join(touches.withColumn("__bk",
        expr(s"unix_timestamp(t_ts) div 86400 div $b")), Seq("user_id", "__bk"))
      .count()
    assert(guardedPre * 5 < naivePre,
      s"guard did not bound fan-out: $guardedPre vs naive $naivePre")
  }
}
