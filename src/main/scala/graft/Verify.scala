package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Write the oracle map BEFORE running any query: if the host is so
    // overloaded that an external timeout kills this JVM mid-dump, the
    // checker can still grade every query whose parquet made it out —
    // partial correctness beats round 5's empty artifact.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // dev-only isolation knob (unset in the driver's run = full dump)
    val only = sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Staleness-first dump order: round 6's storm-truncated run re-graded
    // the same sorted 37-query prefix and produced zero new information
    // about the other 69. Queries ABSENT from the newest committed
    // CORRECTNESS_r*.json artifact (cwd = repo root in the driver's run)
    // dump first, so a truncated run always grades the least-recently-
    // graded surface; within each group the order stays sorted/stable.
    val graded: Set[String] = {
      val arts = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
      if (arts.isEmpty) Set.empty
      else {
        val latest = arts.maxBy(f =>
          "\\d+".r.findFirstIn(f.getName).fold(0)(_.toInt))
        val txt = scala.util.Try(Files.readString(latest.toPath)).getOrElse("")
        "\"([qx]\\d+[a-z0-9_]*)\"\\s*:\\s*\\{".r
          .findAllMatchIn(txt).map(_.group(1)).toSet
      }
    }
    // Degrade-don't-die (mirrors Bench): a per-query watchdog cancels the
    // query's job group at the cap so one storm-hit query can't starve
    // the tail, and an overall deadline skips (and names) the rest.
    val capSec = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_VERIFY_QUERY_CAP_SEC", "150").toDouble).getOrElse(150.0)
    val deadlineSec = scala.util.Try(sys.env.getOrElse(
      "SPARK_GRAFT_VERIFY_DEADLINE_SEC", "1800").toDouble).getOrElse(1800.0)
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    val timer = new java.util.Timer("verify-watchdog", true)
    // Kill-safe progress ledger: one JSON line per query, appended as it
    // finishes, so ANY truncation (OOM-kill, external timeout, storm)
    // leaves an exact record of what ran, what failed, and what it cost
    // — the round-6/7 artifacts left the driver guessing at all three.
    // named .json so every checker's "*.json is not a query dump"
    // exclusion (tools/check.py:84) applies; content is JSON-per-line
    val manifest = Paths.get(s"$outDir/manifest.json")
    // `rows` (r17 verdict task 8): the dumped result's row count rides
    // the ledger, so comparing two SFs' manifests surfaces any query
    // whose result collapses to a trivially-green 0-1 rows at the gate
    // volume (footer-only count of the just-written parquet — no
    // recompute)
    def note(name: String, status: String, secs: Double, rows: Long = -1L): Unit =
      scala.util.Try(Files.writeString(manifest,
        s"""{"query":${q(name)},"status":${q(status)},"secs":${math.round(secs * 1000) / 1000.0},"rows":$rows}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .sortBy { case (name, _) => graded(name) } // stable: false (stale) first
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      if (elapsed() > deadlineSec) {
        System.err.println(s"[verify] $name skipped: suite deadline ${deadlineSec}s exceeded")
        note(name, "skipped_deadline", 0.0)
      } else {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        val watchdog = new java.util.TimerTask {
          def run(): Unit = spark.sparkContext.cancelJobGroup(name)
        }
        // repeating: cancelJobGroup only kills jobs running at that instant,
        // so a multi-job query (or one still in planning at the cap) needs
        // the cancel re-asserted until the dump call returns
        timer.scheduleAtFixedRate(watchdog, (capSec * 1000).toLong, 1000L)
        val qT0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // pull the deferred no-silent-caps report while the query's
          // cached lineage is still warm (see Dedup.drainCapLossReports)
          ext.Dedup.drainCapLossReports()
          val rows = scala.util.Try(
            spark.read.parquet(s"$outDir/$name").count()).getOrElse(-1L)
          note(name, "ok", (System.nanoTime() - qT0) / 1e9, rows)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          note(name, "failed", (System.nanoTime() - qT0) / 1e9)
        } finally {
          // free the query's scoped caches — 143 queries' sketched
          // frames would otherwise accrete in this one session (runs
          // after the drain above, which wants the warm lineage)
          CacheScope.release()
          // the parquet sink consumed the frame — the query's manifest
          // scratch (if any) is dead; reclaim instead of accreting one
          // table copy per manifest query for the session's life
          etl.Sources.sweepNonceRoots()
          watchdog.cancel()
          spark.sparkContext.clearJobGroup()
        }
      }
    }
    spark.stop()
  }
}
