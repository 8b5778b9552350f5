package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: recall@5 of every ANN path vs exact brute force at an
  * arbitrary dir — the per-round recall scoreboard runs at the bench SF
  * (sf0.1); this probes the SCALE tiers, where fixed shortlist widths
  * and geometries show their true colors (the r15 PQ-rerank find).
  *
  *   sbt "Test/runMain graft.tools.ProfAnnRecall [dir]"
  */
object ProfAnnRecall {
  def main(args: Array[String]): Unit = {
    val d = args.lift(0).getOrElse("target/scratch/sf1")
    val spark = ProfKey.session()
    import graft.ext.Similarity._

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(similarityTopkBruteforce(spark, d))
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "ann_lsh" -> (similarityAnnLsh _),
      "ivf" -> (similarityIvf _),
      "ivf_scaled" -> (similarityIvfScaled _),
      "ivf_pq" -> (similarityIvfPq _),
      "quantized" -> (similarityAnnQuantized _)
    ).foreach { case (name, f) =>
      val t0 = System.nanoTime()
      val got = pairs(f(spark, d))
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = exact.count(got.contains).toDouble / exact.size
      println(f"[profannrecall] dir=$d $name recall@5=$recall%.3f ($sec%.2f s)")
    }
    spark.stop()
  }
}
