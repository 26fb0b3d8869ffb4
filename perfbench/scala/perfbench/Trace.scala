package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer. Times are epoch milliseconds (fractional), the
  * clock Spark stamps its listener events with. */
final case class Span(run: String, id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder. Each span also becomes the `perfbench.span`
  * local property while it is open, so every Spark job it causes (AQE's
  * asynchronously submitted ones too, which inherit local properties)
  * carries the id of the innermost open span. */
final class Spans(spark: SparkSession, val run: String) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val all = mutable.ArrayBuffer[Span]()
  private var open = List(0)
  private var next = 1

  def apply[T](name: String, layer: String)(f: => T): T = {
    val id = next; next += 1
    val parent = open.head
    val sc = spark.sparkContext
    open = id :: open
    sc.setLocalProperty(Spans.Key, id.toString)
    val t0 = now()
    try f
    finally {
      all += Span(run, id, parent, name, layer, t0, now())
      open = open.tail
      sc.setLocalProperty(Spans.Key, if (parent == 0) null else parent.toString)
    }
  }

  /** Duration minus the part covered by direct children. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0; var reach = s.start
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach); val hi = math.min(b, s.end)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    s.ms - covered
  }

  def descendants(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    all.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    ids.toSet
  }
}

object Spans { val Key = "perfbench.span" }

/** A Spark job as the listeners saw it, with the task metrics of its
  * stages folded in. `site` is the call-site stack (long form) of the
  * SQL execution the job belongs to, or of the job itself when it has no
  * execution. */
final class JobRec(val id: Int, val start: Long, val execId: Long, val span: Int,
                   val ownSite: String) {
  @volatile var end: Long = -1L
  var stages = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  var csvRecords = 0L
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener, all
  * registered from outside the engine and removed again by [[close]]. */
final class Recorder(spark: SparkSession) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val csvStage = ConcurrentHashMap.newKeySet[Int]()
  val execSite = new ConcurrentHashMap[Long, String]()
  /** (phase start ms, analysis ms, optimization ms, planning ms) per execution. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  val streamPlanningMs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val span = prop(Spans.Key).map(_.toInt).getOrElse(0)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, exec, span, site))
    e.stageInfos.foreach { si =>
      stageJob.put(si.stageId, e.jobId)
      if (si.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.startsWith("scan csv"))))
        csvStage.add(si.stageId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        if (csvStage.contains(e.stageId)) j.csvRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ =>
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      phases.add((start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(e.progress.durationMs.get("queryPlanning"))
        .foreach(v => streamPlanningMs.add(v.longValue()))
  }

  def site(j: JobRec): String =
    if (j.execId >= 0) Option(execSite.get(j.execId)).getOrElse(j.ownSite) else j.ownSite

  def open(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(this)
  }

  def clear(): Unit = {
    drain()
    jobs.clear(); stageJob.clear(); csvStage.clear(); execSite.clear()
    phases.clear(); streamPlanningMs.clear()
  }
}

/** Splits each operation span's wall time between the layers whose Spark
  * jobs ran in it and the driver time when no job ran (the gap). Where
  * jobs overlap, the overlap is shared equally, so layer times plus gap
  * equal the span time; the caller reports any difference as the
  * remainder. */
object Attribution {

  /** Engine source file of the innermost `graft.` frame → the layer a
    * job is charged to; jobs whose innermost frame is elsewhere (the
    * benchmark's sinks, query modules) go to the operation's layer. */
  private val fileLayer = Seq(
    "(Sources.scala:" -> "etl.Sources",
    "(Quality.scala:" -> "etl.Quality",
    "(Pipeline.scala:" -> "etl.Pipeline",
    "(Rules.scala:" -> "etl.Rules")

  def layerOf(site: String, opLayer: String): String =
    site.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .flatMap(l => fileLayer.collectFirst { case (f, layer) if l.contains(f) => layer })
      .getOrElse(opLayer)

  final case class Result(layerMs: Map[String, Double], gapMs: Double,
                          jobShareMs: Map[Int, Double], jobs: Seq[JobRec])

  def apply(rec: Recorder, spans: Spans, op: Span): Result = {
    val ids = spans.descendants(op)
    val js = rec.jobs.values.asScala.toSeq.filter(j => ids(j.span)).sortBy(_.id)
    val ivals = js.map { j =>
      val lo = math.max(j.start.toDouble, op.start)
      val hi = math.min(if (j.end < 0) op.end else j.end.toDouble, op.end)
      (j, lo, math.max(lo, hi), layerOf(rec.site(j), op.layer))
    }
    val cuts = (ivals.flatMap(i => Seq(i._2, i._3)) ++ Seq(op.start, op.end)).distinct.sorted
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    val share = mutable.Map[Int, Double]().withDefaultValue(0.0)
    var gap = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = ivals.filter(i => i._2 <= a && i._3 >= b)
        if (live.isEmpty) gap += b - a
        else live.foreach { i =>
          layer(i._4) += (b - a) / live.size
          share(i._1.id) += (b - a) / live.size
        }
      case _ =>
    }
    Result(layer.toMap, gap, share.toMap, js)
  }
}
