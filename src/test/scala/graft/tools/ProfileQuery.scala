package graft.tools

import org.apache.spark.scheduler._

/** Dev profiler for the optimization rounds:
  * `Test/runMain graft.tools.ProfileQuery <query> [sfDir] [cpus]`
  * runs one SparkEntry query (noop sink) with a listener that records
  * every job's wall-clock, task-time sum, and first-stage name, printing
  * a per-job breakdown — shows WHERE a many-job query (publish paths,
  * streaming replays, iterative builds) spends its time, which the
  * per-query bench total cannot. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = graft.GraftSession.local(cpus)

    case class Job(id: Int, desc: String, start: Long,
                   var end: Long = -1L, var taskMs: Long = 0L, var nTasks: Int = 0)
    case class Stage(id: Int, name: String, details: String,
                     var taskMs: Long = 0L, var nTasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(e.stageInfos.map(_.name).mkString(" | ").take(160))
        jobs.put(e.jobId, Job(e.jobId, desc, e.time))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        // first non-Spark frame of the stage callsite — names the
        // OPERATOR (query-source line) the stage computes for
        e.stageInfos.foreach { si =>
          val graftLine = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("tools.Profile"))
            .getOrElse("").trim.take(90)
          stages.put(si.stageId, Stage(si.stageId, si.name.take(60), graftLine))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { j =>
            j.taskMs += e.taskMetrics.executorRunTime
            j.nTasks += 1
          }
        Option(stages.get(e.stageId)).foreach { s =>
          s.taskMs += e.taskMetrics.executorRunTime
          s.nTasks += 1
        }
      }
    })

    // stack sampler over the query-runner thread: attributes driver-side
    // gaps (planning, codegen compile, cache normalization) per §7.3
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = mainThread.getStackTrace
          val interesting = st.find { f =>
            val c = f.getClassName
            c.contains("catalyst") || c.contains("codegen") ||
            c.contains("janino") || c.contains("QueryExecution") ||
            c.contains("CacheManager") || c.contains("Optimizer") ||
            c.contains("RuleExecutor") || c.contains("AdaptiveSparkPlan") ||
            c.contains("TreeNode")
          }.orElse(st.drop(2).headOption)
          interesting.foreach { f =>
            samples.merge(s"${f.getClassName.split("\\.").takeRight(2).mkString(".")}.${f.getMethodName}",
              1, (a, b) => a + b)
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true); sampler.start()

    // one warm rep first (JIT/codegen), then the profiled rep
    val reps = 2
    var t0 = 0L
    (1 to reps).foreach { r =>
      jobs.clear(); stages.clear(); stageToJob.clear(); samples.clear()
      sampling = r == reps
      t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      sampling = false
      graft.CacheScope.release(); spark.catalog.clearCache()
      graft.etl.Sources.sweepNonceRoots()
      println(f"rep $r: $dt%.2f s")
    }
    println("main-thread samples (20ms) during final rep, top frames:")
    import scala.jdk.CollectionConverters._
    samples.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, n) =>
      println(f"  $n%5d  $k")
    }
    Thread.sleep(1500) // let the async listener bus drain
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(_.start)
    val runStart = js.headOption.map(_.start).getOrElse(0L)
    println(f"%%8s %%9s %%9s %%9s %%6s  desc")
    println("   jobId   t0(ms)   wall(ms)  task(ms) ntask  ----")
    js.foreach { j =>
      val wall = if (j.end > 0) j.end - j.start else -1
      println(f"${j.id}%8d ${j.start - runStart}%9d $wall%9d ${j.taskMs}%9d ${j.nTasks}%6d  ${j.desc.take(100)}")
    }
    val gaps = js.sliding(2).collect {
      case Seq(a, b) if b.start - math.max(a.end, a.start) > 50 =>
        (a.id, b.id, b.start - a.end)
    }.toSeq
    println("gaps >50ms between jobs (driver-side work): " +
      gaps.map { case (a, b, g) => s"$a->$b:${g}ms" }.mkString(", "))
    println("top stages by task time (stageId, taskMs, ntask, operator line):")
    stages.values.asScala.toSeq.sortBy(-_.taskMs).take(20).foreach { s =>
      println(f"  ${s.id}%6d ${s.taskMs}%8d ${s.nTasks}%5d  ${s.details}")
    }
    spark.stop()
  }
}
