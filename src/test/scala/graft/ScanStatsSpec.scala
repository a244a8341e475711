package graft

import graft.store.ScanStats

/** ScanStats reads scan metrics only from a scan that has run: an
  * unexecuted frame, or a plan with no file scan, throws instead of
  * reporting zero files (which would pass any `files <= n` check). */
class ScanStatsSpec extends SparkSpec {

  private lazy val path = {
    val p = tmpDir("scanstats") + "/t.parquet"
    spark.range(100).write.parquet(p)
    p
  }

  test("an executed scan reports its files and bytes") {
    val df = spark.read.parquet(path)
    df.collect()
    val (files, bytes) = ScanStats.totals(df)
    assert(files > 0 && bytes > 0)
  }

  test("an unexecuted frame throws instead of reporting zero files") {
    val df = spark.read.parquet(path)
    val e = intercept[IllegalStateException](ScanStats.totals(df))
    assert(e.getMessage.contains("has not run"))
    intercept[IllegalStateException](ScanStats.of(df))
  }

  test("a plan with no file scan (a cached view) throws in totals") {
    spark.read.parquet(path).createOrReplaceTempView("scanstats_t")
    spark.catalog.cacheTable("scanstats_t")
    try {
      val cached = spark.table("scanstats_t")
      cached.collect()
      assert(ScanStats.of(cached).isEmpty)
      val e = intercept[IllegalStateException](ScanStats.totals(cached))
      assert(e.getMessage.contains("no file scan"))
    } finally {
      spark.catalog.uncacheTable("scanstats_t")
      spark.catalog.dropTempView("scanstats_t")
    }
  }
}
