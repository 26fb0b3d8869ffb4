package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Main.OpRec

/** The traced run: the same passes with spans and listeners on, the
  * per-layer metrics derived from them, and the kernel/transform/table
  * micro-spans. Every per-layer metric is always present; a layer the
  * workload does not exercise reads 0. Times and counts are per pass
  * (the mean over the traced passes). */
object Traced {

  /** Every layer a job or an operation can be charged to. */
  val AccountLayers = Seq("etl.Sources", "etl.Quality", "etl.Pipeline", "etl.Rules",
    "analytics", "streaming", "ext", "ops")

  /** Call-stack frame → method-level metric (seconds of job time). */
  private val methodMetrics = Seq(
    "graft.etl.Sources$.appendTable(" -> "etl.Sources.append_s",
    "graft.etl.Sources$.checksum(" -> "etl.Sources.checksum_s",
    "graft.etl.Sources$.appendMetadata(" -> "etl.Sources.metadata_s",
    "graft.etl.Quality$.profile(" -> "etl.Quality.profile_s",
    "graft.etl.Pipeline$.updateCustomerTotals(" -> "etl.Pipeline.refresh_s",
    "graft.etl.Rules$.validate(" -> "etl.Rules.validate_s")

  val Kernels = Seq("tokens", "shingleHashes", "tokenCounts", "bigramCounts", "simhash64",
    "minhashSignature", "cosineSim")

  def metricNames: Seq[String] =
    Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "catalyst.executions", "driver.build_s", "driver.gap_s",
      "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.core_busy_ratio",
      "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
      "exec.peak_exec_mem_bytes",
      "etl.Sources.csv_scans_per_row", "etl.Sources.append_s", "etl.Sources.checksum_s",
      "etl.Sources.metadata_s", "etl.Sources.bytes_written", "etl.Sources.files_written",
      "etl.Transforms.self_s", "etl.Quality.profile_s", "etl.Quality.shuffle_write_bytes",
      "etl.Pipeline.refresh_s", "etl.Pipeline.analyticsReport_s", "etl.Pipeline.pipelineStatus_s",
      "etl.Rules.validate_s", "tables.load_ms", "analytics.wall_s", "streaming.wall_s",
      "streaming.catalyst_ms") ++
      Main.CorpusQueries.map(q => s"query.$q.wall_s") ++
      Seq("ext.Dedup.cap_loss_rows") ++
      Kernels.map(k => s"functions.$k.ns_per_row") ++
      Seq("CacheScope.peak_bytes", "CacheScope.frames") ++
      AccountLayers.map(l => s"layer.$l.busy_s") ++
      Seq("trace.run_s", "trace.untraced_run_s", "trace.overhead_s", "trace.remainder_s")

  type TracedPasses = Int => (Spans, Seq[Seq[OpRec]], OpCounters)

  /** Per-layer metrics of a traced run, completed by [[finish]] once the
    * untraced passes that follow it are done. */
  final class Out(m: mutable.LinkedHashMap[String, Double], extra: ListMap[String, Any]) {
    def finish(untraced: Seq[Seq[OpRec]]): Map[String, Any] = {
      m("trace.untraced_run_s") = Stats.median(untraced.map(_.map(_.total).sum))
      m("trace.overhead_s") = m("trace.run_s") - m("trace.untraced_run_s")
      extra + ("metrics" -> m)
    }
  }

  def run(spark: SparkSession, wl: Workload, cores: Int, tracedPasses: TracedPasses,
          work: String, firstPass: Int): Out = {
    val rec = new Recorder(spark)
    rec.clear()
    rec.open()
    val (spans, passes, counters) = tracedPasses(firstPass)
    rec.drain()
    val n = passes.size.toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    metricNames.foreach(m(_) = 0.0)
    def add(k: String, v: Double): Unit = m(k) = m(k) + v / n

    val passIds = spans.all.filter(_.layer == "driver").map(_.id).toSet
    val opSpans = spans.all.filter(s => passIds(s.parent)).sortBy(_.start).toSeq
    val recsByOp = passes.flatten
    val attributed = opSpans.map(op => op -> Attribution(rec, spans, op))
    val jobs = attributed.flatMap(_._2.jobs)
    val siteOf = jobs.map(j => j.id -> rec.site(j)).toMap

    // accounting: per-layer busy time + driver gap + remainder = run_s
    val runMs = opSpans.map(_.ms).sum
    var gapMs = 0.0; var layerSum = 0.0
    attributed.foreach { case (_, r) =>
      gapMs += r.gapMs
      r.layerMs.foreach { case (l, ms) => add(s"layer.$l.busy_s", ms / 1e3); layerSum += ms }
    }
    add("trace.run_s", runMs / 1e3)
    add("driver.gap_s", gapMs / 1e3)
    add("trace.remainder_s", (runMs - layerSum - gapMs) / 1e3)

    // jobs, stages, tasks and their metrics
    add("exec.jobs", jobs.size)
    add("exec.stages", jobs.map(_.stages).sum.toDouble)
    add("exec.tasks", jobs.map(_.tasks).sum.toDouble)
    val taskS = jobs.map(_.taskMs).sum / 1e3
    add("exec.task_s", taskS)
    m("exec.core_busy_ratio") = if (runMs > 0) taskS / (cores * runMs / 1e3) else 0.0
    add("exec.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
    add("exec.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble)
    add("exec.spill_bytes", jobs.map(_.spill).sum.toDouble)
    m("exec.peak_exec_mem_bytes") = (jobs.map(_.peakMem) :+ 0L).max.toDouble

    // method-level job time, from the call-site stack of each job
    attributed.foreach { case (_, r) =>
      r.jobs.foreach { j =>
        val site = siteOf(j.id)
        methodMetrics.foreach { case (frame, k) =>
          if (site.contains(frame)) add(k, r.jobShareMs.getOrElse(j.id, 0.0) / 1e3)
        }
        if (site.contains("graft.etl.Quality$.profile("))
          add("etl.Quality.shuffle_write_bytes", j.shuffleWrite.toDouble)
      }
    }

    // planning phases, attributed to the operation span they started in
    val phases = rec.phases.asScala.toSeq
    def inSpans(t: Long, ss: Seq[Span]) = ss.exists(s => t >= s.start - 1 && t <= s.end + 1)
    val opPhases = phases.filter(p => inSpans(p._1, opSpans))
    add("catalyst.executions", opPhases.size)
    add("catalyst.analysis_ms", opPhases.map(_._2).sum.toDouble + counters.analysisMs)
    add("catalyst.optimization_ms", opPhases.map(_._3).sum.toDouble)
    add("catalyst.planning_ms", opPhases.map(_._4).sum.toDouble)
    val streamSpans = opSpans.filter(_.layer == "streaming")
    add("streaming.catalyst_ms",
      phases.filter(p => inSpans(p._1, streamSpans)).map(p => p._2 + p._3 + p._4).sum.toDouble +
        rec.streamPlanningMs.asScala.map(_.longValue()).sum)

    // per-operation wall times
    recsByOp.foreach { r =>
      if (r.lazyCall) add("driver.build_s", r.build_s)
      if (r.layer == "analytics") add("analytics.wall_s", r.total)
      if (r.layer == "streaming") add("streaming.wall_s", r.total)
      if (Main.CorpusQueries.contains(r.name)) add(s"query.${r.name}.wall_s", r.total)
      if (r.name == "etl.Pipeline.analyticsReport") add("etl.Pipeline.analyticsReport_s", r.total)
      if (r.name == "etl.Pipeline.pipelineStatus") add("etl.Pipeline.pipelineStatus_s", r.total)
    }
    add("ext.Dedup.cap_loss_rows", counters.capLossRows.toDouble)
    m("CacheScope.peak_bytes") = counters.cachePeakBytes.toDouble
    add("CacheScope.frames", counters.cacheFrames.toDouble)
    rec.close()

    // divided by the CSV input rows outside, where they are counted
    val csvRecords = attributed.filter(_._1.name == "etl.Pipeline.run").flatMap(_._2.jobs)
      .map(_.csvRecords).sum / n

    // micro-spans, with the listeners off
    wl match {
      case e: EtlLoad =>
        val files = listFiles(new File(e.loadDir)).filter(f => f.getName.startsWith("part-"))
        m("etl.Sources.files_written") = files.size.toDouble
        m("etl.Sources.bytes_written") = files.map(_.length()).sum.toDouble
        m("etl.Transforms.self_s") = spans("micro:etl.Transforms", "etl.Transforms")(
          e.transformsSelfS(spark, 3))
      case q: QueryWorkload =>
        m("tables.load_ms") = spans("micro:tables.load", "Tables")(
          Stats.median(q.loadedTables.flatMap(t => (1 to 5).map { _ =>
            val t0 = System.nanoTime(); graft.Tables.load(spark, q.inputDir, t)
            (System.nanoTime() - t0) / 1e6
          })))
        if (q.name == "corpus_curation")
          spans("micro:functions", "functions")(
            perfbench.Kernels.nsPerRow(spark, q.inputDir, 200000L, 3))
            .foreach { case (k, v) => m(s"functions.$k.ns_per_row") = v }
    }

    // spans go out once the run is over
    Files.write(Paths.get(s"$work/spans.jsonl"), spans.all.map(s => Json(ListMap(
      "run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> spans.selfMs(s)))).asJava)
    new Out(m, ListMap("csv_records_read" -> csvRecords, "traced_passes" -> passes.size,
      "run_id" -> spans.run))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).toSeq.flatMap(listFiles) else Seq(f)
}
