package graft.tools

/** Dev-only: dumps the ENGINE's MinHash lane signature elements
  * (doc_id, i, s) and band keys (doc_id, bh) at a dataset dir to parquet,
  * plus the DuckDB banding-replay SQL for the same two relations, so the
  * driver-side python can diff them bit-for-bit. This is the validation
  * the r13 'band keys bit-equal' claim needed and did not have: the r13
  * replay minimized lanes in unsigned (UBIGINT) order while the engine's
  * MinHashAgg.fold minimizes in signed Long order, so the two sides ran
  * different — individually valid — bandings and the gate stayed green
  * (planted pairs at j >= 0.9 survive any valid banding).
  *
  * Usage: Test/runMain graft.tools.BandCheck <sfDir> <outDir>
  * Then (driver-side):
  *   python3 - reads <outDir>/{lanes,bands}.parquet and runs
  *   <outDir>/{lanes,bands}.sql in duckdb over <sfDir>/documents.parquet.
  */
object BandCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = ProfKey.session()

    val (lanes, bands) = graft.ext.Dedup.bandCheckEngine(spark, sfDir)
    lanes.write.mode("overwrite").parquet(s"$outDir/lanes.parquet")
    bands.write.mode("overwrite").parquet(s"$outDir/bands.parquet")

    val (lanesSql, bandsSql) = graft.ext.Dedup.bandCheckReplaySql
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/lanes.sql"),
      lanesSql.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/bands.sql"),
      bandsSql.getBytes("UTF-8"))
    println(s"BANDCHECK_OK out=$outDir")
    spark.stop()
  }
}
