package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs on: Verify, Bench,
  * ScaleCheck, the test suites and the dev tools differ only in `cpus`.
  *
  *  - `nanosAsLong` + UTC: `Tables.load` rebuilds the events parquet's
  *    TIMESTAMP(NANOS) column and pins TIMESTAMP_NTZ to the session zone.
  *  - heartbeat 60 s / network timeout 600 s: on a CPU-starved host the
  *    local executor's heartbeat RPC timed out at 10 s and killed a whole
  *    run; a starved heartbeat now waits instead.
  *  - log level ERROR: WindowExec's per-query "single partition" WARNs
  *    (the deliberate tiny-frame windows) once crowded Bench's summary
  *    line out of the short stdout tail its reader parses.
  *  - AQE's coalescing knobs stay at Spark defaults: byte-targeted
  *    coalescing (parallelismFirst=false) measured 191.8 s vs 185.6 s
  *    over the full Bench suite, stripping parallelism from compute-heavy
  *    small-byte stages, and minPartitionSize 1m→64k measured flat.
  *  - a fresh warehouse dir: `Sources.bucketedTables` calls `saveAsTable`,
  *    which must not write into, or collide in, the working directory. */
object GraftSession {

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
