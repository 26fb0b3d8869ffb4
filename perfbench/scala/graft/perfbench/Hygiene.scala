package graft.perfbench

/** Between-operation reset, as `graft.Bench` does it. It lives in the
  * `graft` package only because `Sources.sweepNonceRoots` is
  * `private[graft]`. */
object Hygiene {
  def reset(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.CacheScope.release()
    spark.catalog.clearCache()
    graft.etl.Sources.sweepNonceRoots()
  }
}
