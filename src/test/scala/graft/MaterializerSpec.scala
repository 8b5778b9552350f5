package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.matview.Materializer

class MaterializerSpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  private def freshMat(tag: String) =
    new Materializer(spark, s"${TestSpark.scratch}/$tag")

  test("create persists and table() reads back a file scan") {
    val m = freshMat("basic")
    val df = graft.Tables.load(spark, SF, "region")
    m.create("mv_regions", df)
    assert(m.table("mv_regions").count() == df.count())
    // the read-back plans a file scan, not the original in-memory plan
    assert(m.table("mv_regions").queryExecution.executedPlan.toString
      .contains("FileScan parquet"))
  }

  test("refresh overwrites") {
    val m = freshMat("refresh")
    val r = graft.Tables.load(spark, SF, "region")
    m.create("mv_r", r.limit(2))
    assert(m.table("mv_r").count() == 2)
    m.create("mv_r", r)
    assert(m.table("mv_r").count() == r.count())
  }

  test("dropCascade removes dependents first, transitively") {
    val m = freshMat("cascade")
    val r = graft.Tables.load(spark, SF, "region")
    m.create("a", r)
    m.create("b", m.table("a").filter(col("r_regionkey") > 0), Seq("a"))
    m.create("c", m.table("b").limit(1), Seq("b"))
    m.create("unrelated", r.limit(1))
    val order = m.dropCascade("a")
    assert(order == Seq("c", "b", "a"))
    assert(!m.exists("a") && !m.exists("b") && !m.exists("c"))
    assert(m.exists("unrelated"))
  }

  test("create with unknown dependency is rejected") {
    val m = freshMat("unknown-dep")
    val r = graft.Tables.load(spark, SF, "region")
    intercept[IllegalArgumentException] {
      m.create("x", r, Seq("nope"))
    }
  }

  test("refreshIncremental merges deltas; repeated refreshes stay exact") {
    import graft.matview.Materializer.Measure
    import org.apache.spark.sql.functions._
    val m = freshMat("incr")
    val o = graft.Tables.load(spark, SF, "orders")
    // build from one status, merge the others in TWO separate deltas —
    // the second delta introduces brand-new groups
    m.createAggregated("mv_incr", o.filter(col("o_orderstatus") === "F"),
      Seq("o_orderstatus", "o_orderpriority"),
      Seq(Measure.sumOf(graft.Tables.dec(col("o_totalprice")), "rev"),
        Measure.countAll("n"),
        Measure.minOf(col("o_totalprice"), "lo"),
        Measure.maxOf(col("o_totalprice"), "hi")))
    m.refreshIncremental("mv_incr", o.filter(col("o_orderstatus") === "O"))
    m.refreshIncremental("mv_incr", o.filter(col("o_orderstatus") === "P"))
    val got = m.table("mv_incr").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDecimal(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_.toString)
    val want = o.groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum(graft.Tables.dec(col("o_totalprice"))).as("rev"),
        count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDecimal(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).sortBy(_.toString)
    assert(got.map(t => (t._1, t._2, BigDecimal(t._3), t._4, t._5, t._6)).toSeq
      == want.map(t => (t._1, t._2, BigDecimal(t._3), t._4, t._5, t._6)).toSeq)
  }

  test("crash between old-aside and stage-in: the next refresh RESTORES " +
      "__old instead of deleting the only copy") {
    import graft.matview.Materializer.Measure
    val m = freshMat("crashrec")
    val o = graft.Tables.load(spark, SF, "orders")
    m.createAggregated("mv_crash", o.filter(col("o_orderstatus") === "F"),
      Seq("o_orderpriority"),
      Seq(Measure.countAll("n")))
    // simulate the crash window: live dir moved aside, stage never landed
    val p = java.nio.file.Paths.get(
      s"${TestSpark.scratch}/crashrec/mv_crash")
    val old = java.nio.file.Paths.get(p.toString + "__old")
    java.nio.file.Files.move(p, old)
    assert(!java.nio.file.Files.exists(p))
    // the incremental refresh reads current storage — it must recover
    // __old first (pre-fix: deleteRecursively(__old) destroyed the copy
    // and the read of the missing live dir threw)
    m.refreshIncremental("mv_crash", o.filter(col("o_orderstatus") === "O"))
    val got = m.table("mv_crash").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val want = o.filter(col("o_orderstatus").isin("F", "O"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(!java.nio.file.Files.exists(old))
    // dropCascade reclaims crash siblings too, not just the live dir
    val stage = java.nio.file.Paths.get(p.toString + "__stage")
    java.nio.file.Files.createDirectories(old)
    java.nio.file.Files.createDirectories(stage)
    m.dropCascade("mv_crash")
    assert(!java.nio.file.Files.exists(p) &&
      !java.nio.file.Files.exists(old) && !java.nio.file.Files.exists(stage))
  }

  test("re-create is a FULL refresh even under auto-rewrite (no self-scan " +
      "substitution), and stale incremental specs die with the old MV") {
    import spark.implicits._
    val m = freshMat("recreate").enableAutoRewrite()
    try {
      val baseDir = s"${TestSpark.scratch}/recreate_base"
      def rows(n: Int) = (0 until n).map(i => (i.toLong, i.toLong))
        .toDF("k", "v")
      rows(3).write.mode("overwrite").parquet(baseDir)
      def defn = spark.read.parquet(baseDir)
        .groupBy("k").agg(sum(col("v")).as("s"))
      m.create("mv_recreate", defn)
      assert(m.table("mv_recreate").count() == 3)
      // base grows; the re-create must RECOMPUTE — with the rewrite rule
      // still holding the first create's defining plan, an unguarded
      // write would be substituted with a scan of the MV's own storage
      // (a self-copy frozen at 3 rows, or an overwrite-while-reading
      // failure before the staged swap)
      rows(5).write.mode("overwrite").parquet(baseDir)
      m.create("mv_recreate", defn)
      assert(m.table("mv_recreate").count() == 5)
      // a dropped-then-recreated name must NOT accept refreshIncremental
      // against the old declaration's grain
      m.createAggregated("mv_respec", rows(10), Seq("k"),
        Seq(Materializer.Measure.sumOf(col("v"), "s")))
      m.dropCascade("mv_respec")
      m.create("mv_respec", rows(4))
      intercept[IllegalArgumentException] {
        m.refreshIncremental("mv_respec", rows(2))
      }
      m.dropCascade("mv_recreate")
      m.dropCascade("mv_respec")
    } finally m.deregisterAll()
  }

  test("dropCascade survives a dependency cycle built via re-creates " +
      "and never drops an unrelated same-named temp view") {
    import spark.implicits._
    val m = freshMat("cycles")
    val df = Seq((1L, 1L)).toDF("k", "v")
    m.create("mv_cyc_a", df)
    m.create("mv_cyc_b", df, dependsOn = Seq("mv_cyc_a"))
    // re-create a depending on b: a <-> b cycle in the registry
    m.create("mv_cyc_a", df, dependsOn = Seq("mv_cyc_b"))
    val order = m.dropCascade("mv_cyc_b") // must terminate
    assert(order.toSet == Set("mv_cyc_a", "mv_cyc_b"))
    // an unrelated temp view sharing an MV's name is not ours to drop
    df.createOrReplaceTempView("mv_shadow")
    m.create("mv_shadow", df)
    assert(m.table("mv_shadow").queryExecution.executedPlan.toString
      .contains("FileScan parquet"), "table() must read OUR storage, " +
        "not the shadowing view")
    m.dropCascade("mv_shadow")
    assert(spark.catalog.tableExists("mv_shadow"),
      "dropCascade must not drop the user's shadowing view")
    spark.catalog.dropTempView("mv_shadow")
  }

  test("createAll builds a DAG in declaration order, runs definitions " +
      "with the caller's local properties, and checks the declared order") {
    import graft.matview.Materializer.View
    val m = freshMat("dag")
    val r = graft.Tables.load(spark, SF, "region")
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def probe(name: String)(df: => org.apache.spark.sql.DataFrame) =
      () => {
        seen.put(name, String.valueOf(sc.getLocalProperty("graft.spec.tag")))
        df
      }
    val views = Seq(
      View("d_root", Nil, probe("d_root")(r)),
      View("d_left", Seq("d_root"),
        probe("d_left")(m.table("d_root").filter(col("r_regionkey") < 2))),
      View("d_right", Seq("d_root"),
        probe("d_right")(m.table("d_root").filter(col("r_regionkey") >= 2))),
      View("d_side", Nil, probe("d_side")(r.limit(1))),
      View("d_both", Seq("d_left", "d_right"), probe("d_both")(
        m.table("d_left").unionByName(m.table("d_right")))))
    sc.setLocalProperty("graft.spec.tag", "caller")
    val built = try m.createAll(views)
      finally sc.setLocalProperty("graft.spec.tag", null)
    assert(built.map(_.count()) == Seq(5L, 2L, 3L, 1L, 5L))
    assert(views.forall(v => seen.get(v.name) == "caller"))
    assert(m.rows("d_both") == 5L)
    // the registry keeps declaration order whatever order views finished in
    assert(m.dropCascade("d_root") == Seq("d_both", "d_left", "d_right", "d_root"))
    // a dependency declared after its dependent is refused up front
    intercept[IllegalArgumentException] {
      m.createAll(Seq(View("x_late", Seq("x_early"), () => r),
        View("x_early", Nil, () => r)))
    }
    assert(!m.exists("x_early") && !m.exists("x_late"))
  }

  test("createAll rethrows the first failure and starts no dependent " +
      "of the failed view") {
    import graft.matview.Materializer.View
    val m = freshMat("dag-fail")
    val r = graft.Tables.load(spark, SF, "region")
    val boom = new IllegalStateException("definition failed")
    val thrown = intercept[IllegalStateException] {
      m.createAll(Seq(
        View("f_ok", Nil, () => r),
        View("f_bad", Nil, () => throw boom),
        View("f_after", Seq("f_bad"), () => m.table("f_bad")),
        View("f_ok_child", Seq("f_ok"), () => m.table("f_ok"))))
    }
    assert(thrown eq boom)
    assert(!m.exists("f_bad") && !m.exists("f_after"))
  }

  test("default scratch sits under the working directory; " +
      "-Dgraft.scratch still wins") {
    val wd = "/some/checkout"
    assert(Materializer.scratchOf(Map("user.dir" -> wd)) ==
      "/some/checkout/target/scratch")
    assert(Materializer.scratchOf(
      Map("user.dir" -> wd, "graft.scratch" -> "/elsewhere")) == "/elsewhere")
  }
}
