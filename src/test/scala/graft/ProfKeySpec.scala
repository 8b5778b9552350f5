package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ProfKey

/** ProfKey's core: interleaved conf variants of one key, the layer
  * readout, the row comparison and variant parsing. */
class ProfKeySpec extends AnyFunSuite {
  import TestSpark.{spark, SF}

  private def known(k: String) = SparkEntry.queries.contains(k)

  test("two AQE variants of one key: identical rows, jobs seen, reps " +
      "timed, every conf restored") {
    val variants = Seq("agg_sum_group3",
      "agg_sum_group3@spark.sql.adaptive.enabled=false")
      .map(ProfKey.parseVariant(_, known))
    // the test session leaves adaptive.enabled unset: the variant's
    // override must be undone by an unset, not pinned to a default
    val before = spark.conf.getAll
    val planDir = Paths.get(TestSpark.scratch, "profkey")
    val r = ProfKey.profile(spark, SF, 2, variants, planDir)
    assert(spark.conf.getAll == before)
    assert(r.rowsDiff.contains(0L))
    r.results.foreach { res =>
      assert(res.times.size == 2, res.variant.label)
      assert(res.last.jobs >= 1, res.variant.label)
      assert(res.last.stages.nonEmpty, res.variant.label)
      assert(res.last.operators.exists(_._1 == "HashAggregate"),
        res.last.operators)
      assert(Files.exists(planDir.resolve(ProfKey.planFile(res.variant))))
    }
    // the conf reaches the run: only the AQE variant's final plan is adaptive
    assert(r.results(0).plan.contains("AdaptiveSparkPlan"))
    assert(!r.results(1).plan.contains("AdaptiveSparkPlan"))
    assert(ProfKey.render(r, planDir).contains("[profkey] rows: identical"))
  }

  test("rowDiff: order is ignored, one changed row is reported") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("k", "v")
    assert(ProfKey.rowDiff(a, a.orderBy($"k".desc)) == 0L)
    val b = Seq((1L, "x"), (2L, "y"), (2L, "z")).toDF("k", "v")
    assert(ProfKey.rowDiff(a, b) == 2L) // one row missing, one extra
  }

  test("malformed variants and unknown keys are rejected") {
    assert(ProfKey.parseVariant("agg_sum_group3@a.b=1,c=x=y", known).confs ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    Seq("agg_sum_group3@", "agg_sum_group3@spark.x", "agg_sum_group3@=1",
      "agg_sum_group3@a=1,", "no_such_key", "@a=1", "no_such_key@a=1")
      .foreach { v =>
        intercept[IllegalArgumentException](ProfKey.parseVariant(v, known))
      }
  }
}
