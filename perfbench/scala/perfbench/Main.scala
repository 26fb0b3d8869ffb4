package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: builds the seeded inputs, runs the warm-up
  * (check) pass and the timed passes of one workload, optionally a traced
  * pass, and writes everything to `--out` as JSON. `perfbench/run.py`
  * launches it, checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file> */
/** Counters taken around each operation, outside its time. */
final class OpCounters {
  var capLossRows = 0L
  var cachePeakBytes = 0L
  var cacheFrames = 0L
  var analysisMs = 0L
}

object Main {

  final case class OpRec(pass: Int, name: String, layer: String, kind: String, lazyCall: Boolean,
                         build_s: Double, sink_s: Double, ok: Boolean, error: String) {
    def total: Double = build_s + sink_s
  }

  /** Sizes: each run pays a JVM and session start, three input
    * generations, one cold (warm-up + check) pass and one or more warm
    * passes, and all runs of all workloads share one time budget, so the
    * inputs are small and the query lists are samples of the lists the
    * workloads stand for (see perfbench/README.md). */
  val EtlOrders = 10000L
  val ReportScale = 0.25
  val CorpusMult = 0.5
  val GenReps = 3

  /** ROADMAP's dedup/ANN targets x03, x115, x43 and x08 and the
    * token-kernel queries x125 and x140. */
  val CorpusQueries = Seq("x03_dedup_minhash", "x115_span_dedup", "x43_dup_clusters",
    "x08_sim_topk_lsh", "x125_perplexity_filter", "x140_bm25_retrieval")

  /** The one stream replay: x105 checkpoints under java.io.tmpdir; the
    * memory-sink replays (EventStreams.runToMemory) checkpoint to
    * /dev/shm, outside the benchmark's checkout, and are left out. */
  val StreamQueries = Seq("x105_stream_incremental_agg")

  /** Every fourth query of the sorted analytics + event-analytics union,
    * plus the stream replay. */
  def reportQueries: Seq[String] =
    (graft.analytics.Analytics.queries.keySet ++ graft.analytics.EventAnalytics.queries.keySet)
      .toSeq.sorted.grouped(4).map(_.head).toSeq ++ StreamQueries

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl: Workload = wlName match {
      case "etl_load" => new EtlLoad(EtlOrders, seed, work)
      case "report_queries" => new QueryWorkload(wlName, reportQueries, seed,
        QueryWorkload.reportSlice(ReportScale), Seq("events", "customer", "orders", "lineitem",
          "part", "supplier", "nation", "region"))
      case "corpus_curation" => new QueryWorkload(wlName, CorpusQueries, seed,
        QueryWorkload.corpusSlice(CorpusMult), Seq("documents", "embeddings"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, part 1: input generation, repeated; the last copy is used
    val genS = (1 to GenReps).map { i =>
      val dir = s"$work/input_$i"
      val t0 = System.nanoTime()
      wl.generate(spark, dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i > 1) Workload.rmTree(new File(s"$work/input_${i - 1}"))
      dt
    }

    val recs = ArrayBuffer[OpRec]()
    var counters = new OpCounters
    var spans: Option[Spans] = None
    def span[T](name: String, layer: String)(f: => T): T = spans match {
      case Some(s) => s(name, layer)(f)
      case None => f
    }

    def runOp(pass: Int, op: Op, sink: (String, DataFrame) => Unit): OpRec = {
      var build = 0.0; var sinkS = 0.0
      val r = try {
        span(op.name, op.layer) {
          val t0 = System.nanoTime()
          val frames = span("call", op.layer)(op.call())
          val t1 = System.nanoTime()
          // the returned frames were analyzed while the call built them
          // (read now: a later re-entry would stretch the phase's span)
          counters.analysisMs += frames.map(_._2.queryExecution.tracker.phases
            .get("analysis").map(_.durationMs).getOrElse(0L)).sum
          span("sink", op.layer)(frames.foreach { case (n, df) => sink(n, df) })
          val t2 = System.nanoTime()
          build = (t1 - t0) / 1e9; sinkS = (t2 - t1) / 1e9
        }
        OpRec(pass, op.name, op.layer, op.kind, op.lazyCall, build, sinkS, ok = true, "")
      } catch {
        case e: Throwable =>
          OpRec(pass, op.name, op.layer, op.kind, op.lazyCall, build, sinkS, ok = false,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      // outside the operation's time: recall-loss report, scoped-cache
      // census, then the reset graft.Bench does between queries
      counters.capLossRows += graft.ext.Dedup.drainCapLossReports()
        .flatMap(m => "\\((\\d+) bucketed rows\\)".r.findFirstMatchIn(m).map(_.group(1).toLong)).sum
      val persisted = spark.sparkContext.getRDDStorageInfo
      counters.cachePeakBytes =
        math.max(counters.cachePeakBytes, persisted.map(i => i.memSize + i.diskSize).sum)
      counters.cacheFrames += spark.sparkContext.getPersistentRDDs.size
      graft.perfbench.Hygiene.reset(spark)
      r
    }

    def runPass(pass: Int, sink: (String, DataFrame) => Unit): Seq[OpRec] = {
      val rs = span(s"pass $pass", "driver")(wl.ops(spark, pass).map(op => runOp(pass, op, sink)))
      wl.afterPass(pass)
      recs ++= rs
      rs
    }

    // set-up, part 2: the warm-up pass, which is also the check pass: its
    // results go to parquet for the checker
    val checkDir = s"$work/check"
    val w0 = System.nanoTime()
    runPass(-1, (n, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n"))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // timed passes: a closed loop, one operation at a time, for `seconds`
    def timedPasses(budget: Double, first: Int): Seq[Seq[OpRec]] = {
      val out = ArrayBuffer[Seq[OpRec]]()
      val t0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < budget)
        out += runPass(first + out.size, (_, df) => Workload.noop(df))
      out.toSeq
    }
    val timed = ArrayBuffer[Seq[OpRec]]()
    timed ++= timedPasses(if (trace) seconds / 2 else seconds, 0)
    val hwm = peakRssMb()

    // traced run: untraced passes on both sides of the traced ones, so the
    // tracing overhead is not confounded with warm-up
    val traceOut: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val out = Traced.run(spark, wl, cores, (first: Int) => {
          val s = new Spans(spark, java.util.UUID.randomUUID().toString)
          spans = Some(s)
          counters = new OpCounters
          val ps = timedPasses(seconds / 2, first)
          spans = None
          (s, ps, counters)
        }, work, timed.size)
        timed ++= timedPasses(seconds / 2, 100)
        out.finish(timed.toSeq)
      }

    val result = ListMap[String, Any](
      "workload" -> wlName, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_version" -> spark.version,
      "input_dir" -> wl.inputDir, "input_tables" -> wl.loadedTables,
      "session_s" -> sessionS, "gen_s" -> genS, "warmup_s" -> warmupS, "warmup_passes" -> 1,
      "passes" -> timed.map(_.map(r => ListMap(
        "name" -> r.name, "layer" -> r.layer, "kind" -> r.kind, "build_s" -> r.build_s,
        "sink_s" -> r.sink_s, "ok" -> r.ok, "error" -> r.error))),
      "failed_ops" -> recs.filter(!_.ok).map(r => ListMap("pass" -> r.pass, "name" -> r.name,
        "error" -> r.error)),
      "attempted_ops" -> recs.size,
      "peak_rss_mb" -> hwm,
      "checks" -> wl.checkInfo,
      "layers" -> traceOut)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  /** Peak resident set of this JVM so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
