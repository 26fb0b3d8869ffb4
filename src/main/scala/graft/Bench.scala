package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // warmup: absorb session/codegen/JIT startup so the first timed
    // query isn't charged for it
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // deterministic order + cache isolation: several queries cache
    // sketched frames internally; dropping them between queries keeps
    // each timing independent of what ran before
    // min of N cold runs per query: this VM swings identical self-join
    // queries 2-8× run-to-run (PERF.md), and the minimum is the standard
    // low-noise estimator for a deterministic workload
    val reps = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt).getOrElse(3))
    // optional comma-separated allowlist for isolated re-measurement of
    // a flagged query (empty/unset = the full suite)
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // Degrade-don't-die budget: a healthy full suite finishes in ~3-6 min,
    // so the deadline only bites when the host is badly oversubscribed.
    // Past 40% of it remaining queries drop to 1 rep; past 100% they are
    // skipped (and named in the JSON) — partial data beats an rc=124.
    val deadlineSec = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1200").toDouble).getOrElse(1200.0)
    val suiteT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - suiteT0) / 1e9

    // Host-weather sentinel: a FIXED CPU-bound workload (4e9 codegen
    // xxhash64 folds over range, no IO, no SF dependence), min-of-3,
    // measured before and after the suite and published in the
    // artifact. Identical code on an idle host reads a stable constant;
    // a loaded/throttled host inflates it by the same factor it
    // inflates every query — so cross-round drift self-adjudicates
    // (headline ratio ÷ sentinel ratio ≈ code effect) instead of
    // needing a manual idle re-stamp each round (the r11→r12→r13
    // ±16-25% sagas, all eventually ruled weather by hand).
    def sentinelRun(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 4000000000L, 1L, cpus)
          .select(org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id))"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    @volatile var sentinelBefore: Double = -1.0
    @volatile var sentinelAfter: Double = -1.0

    // Rep-major accumulators: per query, the list of (ok, seconds) runs
    // so far. Populated pass-by-pass; reads are snapshot-safe for the
    // shutdown hook (synchronized on `acc`).
    val acc = new scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[(Boolean, Double)]]()
    val skipped = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val printed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emit(partial: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      import scala.jdk.CollectionConverters._
      val results = acc.synchronized {
        acc.toSeq.map { case (k, ts) =>
          // a failed rep finishes fast — stats over SUCCESSFUL reps only, so
          // a transient failure can't masquerade as a great time; if every
          // rep failed, report the max elapsed (visibly odd, never flattering)
          val succ = ts.collect { case (true, dt) => dt }
          val pool = if (succ.nonEmpty) succ.toSeq else Seq(ts.map(_._2).max)
          (k, pool.min, pool.max, ts.length)
        }
      }
      // "queries" stays min-of-N (the low-noise estimator for deterministic
      // work on a noisy VM); "spreads" publishes each query's [min, max]
      // across reps and "reps_done" the per-query rep count, so a reader
      // can tell VM weather (and deadline degradation) from a real
      // regression without re-running (PERF.md documents 2-8x swings).
      val qs = results.map { case (k, mn, _, _) => "\"" + k + "\":" + mn }
        .mkString("{", ",", "}")
      val spreads = results.map { case (k, mn, mx, _) => "\"" + k + "\":[" + mn + "," + mx + "]" }
        .mkString("{", ",", "}")
      val repsDone = results.map { case (k, _, _, n) => "\"" + k + "\":" + n }
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      val skippedJson = skipped.asScala.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // provenance (round-7/8 ADVICE): the artifact names the commit
      // and date that produced it — best-effort, never fails the bench
      val commit = scala.util.Try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        p.waitFor(); if (out.matches("[0-9a-f]{6,}")) out else "unknown"
      }.getOrElse("unknown")
      val date = java.time.LocalDate.now().toString
      val meta = s"""{"commit":"$commit","date":"$date","generator":"graft.Bench"}"""
      // Isolated SPARK_GRAFT_BENCH_ONLY re-measurements default to their
      // own file: a round-10 adjudication run clobbered the committed
      // full-suite bench_out.json with a single-query record, destroying
      // the only durable per-query evidence for that round. The full
      // suite keeps the canonical name; allowlisted runs never touch it
      // unless SPARK_GRAFT_BENCH_OUT explicitly says so.
      val defaultOut = if (only.isEmpty) "bench_out.json" else "bench_adjudication.json"
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
      // Full per-query record goes to the FILE; stdout carries only
      // totals + meta + a pointer. The 143-query stdout line (~12 KB)
      // exceeded the driver's 2000-char captured tail two rounds running
      // (BENCH_r09/r10 "parsed": null), losing the per-query record when
      // the file was later clobbered — the compact line below always fits.
      val sentinelJson =
        s"""{"before":$sentinelBefore,"after":$sentinelAfter}"""
      val fileLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"partial":$partial,"skipped":$skippedJson,"sentinel":$sentinelJson,"queries":$qs,"spreads":$spreads,"reps_done":$repsDone,"sf":"$sfDir","meta":$meta}"""
      // the canonical full-suite record replaces its file; adjudication
      // records APPEND — isolated re-measures accumulate as history
      // lines instead of clobbering earlier evidence (the round-10
      // clobber, and the automatic-outlier lines land in the same file)
      scala.util.Try {
        if (isCanonicalStamp(outPath))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outPath), fileLine + "\n")
        else
          java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
            (fileLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
      }
      val minReps = if (results.isEmpty) 0 else results.map(_._4).min
      // Driver contract (restated round 20): the bench prints ONE JSON
      // line carrying the per-query map — `"queries": {"name": sec,...}`.
      // Rounds 17-19 moved that map to the detail FILE out of caution
      // about stdout-tail truncation, and PERF_r19.json shows the cost:
      // per_query empty, n_common 0, bench_ok false — the driver could
      // compute neither per-query speedups nor the 8-vs-32-core scaling.
      // The driver's own contract line is ~5 KB for 183 queries, so its
      // parser must read the full stdout (the 2000-char `tail` field in
      // BENCH_r*.json is archival); restoring the map inline is a
      // measurement-bug fix, documented in OPTIMIZATION_r20.md. Values
      // print at millisecond precision to keep the line compact; the
      // detail file keeps full precision and the [min,max] spreads.
      val qsRounded = results.map { case (k, mn, _, _) =>
        "\"" + k + "\":" + BigDecimal(mn).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
      val stdoutLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"min_reps_done":$minReps,"n_queries":${results.length},"partial":$partial,"skipped":$skippedJson,"sentinel":$sentinelJson,"queries":$qsRounded,"detail":"$outPath","sf":"$sfDir","meta":$meta}"""
      println(stdoutLine)
      System.out.flush()
    }
    // If an external `timeout` TERMs the JVM mid-suite, shutdown hooks
    // still run — publish whatever finished so the driver parses a
    // partial line instead of nothing (round-5 failure mode).
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(partial = true)))

    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val byName = suite.toMap
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      // noop sink: materializes EVERY output column (count() would let
      // Catalyst prune the projections we're trying to measure)
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // several queries cache sketched frames internally (scoped via
      // CacheScope); a BLOCKING release keeps each rep (and each query)
      // independent of what ran before — the old async clearCache left
      // x109's blocks draining into x110's timing. clearCache stays as
      // the backstop for anything cached outside the scope.
      graft.CacheScope.release()
      spark.catalog.clearCache()
      // the noop sink above fully consumed the frame, so the query's
      // manifest scratch (if any) is dead — reclaim it now instead of
      // letting reps accumulate a table copy each until JVM exit
      graft.etl.Sources.sweepNonceRoots()
      acc.synchronized {
        acc.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]) += ((ok, dt))
      }
    }
    sentinelBefore = scala.util.Try(sentinelRun()).getOrElse(-1.0)
    repMajorLoop(suite.map(_._1), reps, deadlineSec, elapsed,
      recordedMin = name => acc.synchronized(
        acc.get(name).map(ts => ts.map(_._2).min)),
      runOne = name => runOnce(name, byName(name)),
      skip = name => { skipped.add(name); () })
    sentinelAfter = scala.util.Try(sentinelRun()).getOrElse(-1.0)

    // SELF-SELECTING OUTLIER ADJUDICATION (r17 verdict task 1): after a
    // FULL suite pass, any query whose in-suite min exceeds the
    // COMMITTED stamp's min by the selection rule is automatically
    // re-measured in isolation (5 back-to-back reps, nothing else
    // running) and the result APPENDED to bench_adjudication.json — no
    // more hand-picked adjudication lists that miss the round's largest
    // regressor (x98/x99 in BENCH_r17). Bounded: at most
    // [[AdjudicateCap]] queries (worst-first) and only while the run is
    // under 1.5× its deadline; anything dropped is named in the record.
    if (only.isEmpty) {
      val committed = committedStampQueries()
      val inSuite = acc.synchronized {
        acc.toSeq.flatMap { case (k, ts) =>
          val succ = ts.collect { case (true, dt) => dt }
          if (succ.isEmpty) None else Some(k -> succ.min)
        }.toMap
      }
      val targets = adjudicationTargets(committed, inSuite)
      if (targets.nonEmpty) {
        val isolated = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
        val dropped = scala.collection.mutable.ArrayBuffer[String]()
        // worst regression first, so a deadline cut keeps the queries
        // most in need of adjudication
        val ordered = targets.sortBy(q => -(inSuite(q) / committed(q)))
          .take(AdjudicateCap)
        dropped ++= targets.filterNot(ordered.contains)
        ordered.foreach { name =>
          if (elapsed() > deadlineSec * 1.5) dropped += name
          else {
            val ts = (1 to 5).map { _ =>
              val t0 = System.nanoTime()
              scala.util.Try(byName(name)(spark, sfDir)
                .write.format("noop").mode("overwrite").save())
              graft.CacheScope.release(); spark.catalog.clearCache()
              graft.etl.Sources.sweepNonceRoots()
              (System.nanoTime() - t0) / 1e9
            }
            isolated(name) = ts
          }
        }
        val isoJson = isolated.map { case (q, ts) =>
          "\"" + q + "\":{\"min\":" + ts.min + ",\"max\":" + ts.max +
            ",\"committed_min\":" + committed(q) + ",\"suite_min\":" + inSuite(q) + "}"
        }.mkString("{", ",", "}")
        val droppedJson = dropped.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val line = s"""{"auto":true,"rule":"suite_min > ${AdjudicateRatio}x committed_min && delta > ${AdjudicateMinDelta}s","date":"${java.time.LocalDate.now()}","isolated":$isoJson,"dropped":$droppedJson}"""
        scala.util.Try(java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_adjudication.json"),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND))
      }
    }
    emit(partial = false)
    spark.stop()
  }

  /** Selection rule constants for the automatic outlier adjudication:
    * a query joins the isolated re-measure when its in-suite min is
    * more than [[AdjudicateRatio]]× its committed-stamp min AND the
    * absolute delta exceeds [[AdjudicateMinDelta]] (so sub-second
    * jitter on tiny queries doesn't spend the adjudication budget the
    * real regressors need). */
  private[graft] val AdjudicateRatio = 2.0
  private[graft] val AdjudicateMinDelta = 0.3
  private[graft] val AdjudicateCap = 10

  /** The rule itself, pure so the spec can seed a fake slow stamp and
    * assert it is picked up (r17 verdict: done = code + spec'd). */
  private[graft] def adjudicationTargets(
      committed: Map[String, Double], inSuite: Map[String, Double],
      ratio: Double = AdjudicateRatio,
      minDelta: Double = AdjudicateMinDelta): Seq[String] =
    inSuite.collect { case (q, t) if committed.get(q).exists(c =>
      c > 0 && t > ratio * c && t - c > minDelta) => q }.toSeq.sorted

  /** Canonical-stamp decision by FILENAME, not exact-string match:
    * './bench_out.json' or an absolute path must still be treated as
    * the canonical full-suite record (overwrite), never flipped to
    * append mode by spelling (ADVICE r18). */
  private[graft] def isCanonicalStamp(outPath: String): Boolean =
    scala.util.Try(java.nio.file.Paths.get(outPath).getFileName.toString)
      .getOrElse(outPath) == "bench_out.json"

  /** The repo root, resolved from where THIS class was loaded (walk up
    * from the compiled-classes dir to the dir holding `.git`), falling
    * back to the JVM cwd. The bench may be launched from any directory
    * (ADVICE r18: an inherited-cwd `git show` silently returned empty
    * elsewhere, disarming the self-selecting adjudication), so the
    * stamp read must not depend on the launcher's cwd. */
  private[graft] def repoRoot(): Option[java.io.File] = {
    def walkUp(start: java.io.File): Option[java.io.File] = {
      var d = start
      while (d != null) {
        if (new java.io.File(d, ".git").exists()) return Some(d)
        d = d.getParentFile
      }
      None
    }
    scala.util.Try(walkUp(new java.io.File(
      Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)))
      .toOption.flatten
      .orElse(scala.util.Try(
        walkUp(new java.io.File(".").getCanonicalFile)).toOption.flatten)
  }

  /** Per-query min map of the COMMITTED bench_out.json (HEAD, via
    * `git show` run AT THE REPO ROOT — the working-tree file is this
    * run's own output slot, not the stamp of record). Empty on any
    * failure — first round, no committed stamp, no git — and LOGGED,
    * so a disarmed adjudication pass is visible in the run output
    * instead of silently never firing. */
  private[graft] def committedStampQueries(): Map[String, Double] = {
    val res = scala.util.Try {
      val pb = new ProcessBuilder("git", "show", "HEAD:bench_out.json")
        .redirectErrorStream(false)
      repoRoot().foreach(pb.directory)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      p.waitFor()
      parseStampQueries(out)
    }.getOrElse(Map.empty)
    if (res.isEmpty)
      System.err.println(
        "[bench] no committed bench_out.json stamp readable " +
          s"(repoRoot=${repoRoot().map(_.toString).getOrElse("unresolved")}) " +
          "— automatic adjudication disabled this run")
    res
  }

  /** Extract the `"queries"` map from a bench stamp line (jackson —
    * already on the Spark classpath; the stamp is machine-written JSON). */
  private[graft] def parseStampQueries(json: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    root.path("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  /** REP-MAJOR scheduling policy (round-9/10 verdict), factored out of
    * `main` so the degradation behavior is unit-tested without Spark
    * (BenchSchedulerSpec): pass 1 runs every query once, then passes
    * 2..reps re-run the whole suite as budget allows. Deadline pressure
    * therefore costs extra REPS roughly uniformly, never the pass-1
    * MEASUREMENT of the lexicographic tail — the query-major version
    * zeroed exactly that tail on a slow host and manufactured the 301 s
    * round-9 artifact. Per-run cap: a query whose recorded minimum
    * already exceeds deadline/10 keeps its measurement and is excluded
    * from later passes, so one weather-hit query can't eat the budget
    * of the remaining suite (the round-6 failure mode).
    *
    * @param recordedMin the query's best recorded seconds so far, None
    *                    if it never ran (supplied by the caller's
    *                    accumulator so the shutdown hook sees live state)
    * @param skip        called (pass 1 only) for queries the deadline
    *                    prevented from EVER running */
  private[graft] def repMajorLoop(
      names: Seq[String], reps: Int, deadlineSec: Double,
      elapsed: () => Double,
      recordedMin: String => Option[Double],
      runOne: String => Unit,
      skip: String => Unit): Unit = {
    val queryCapSec = deadlineSec / 10
    var pass = 0
    while (pass < reps && elapsed() < deadlineSec) {
      names.foreach { name =>
        if (pass == 0) {
          if (elapsed() > deadlineSec) skip(name) else runOne(name)
        } else if (recordedMin(name).exists(_ < queryCapSec) &&
                   elapsed() < deadlineSec) {
          runOne(name)
        }
      }
      pass += 1
    }
  }
}
