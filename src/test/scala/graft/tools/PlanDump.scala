package graft.tools

/** Dev tool for the optimization rounds: dump `.explain("formatted")`
  * for a set of SparkEntry queries to files —
  * `Test/runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all> [sfDir]`.
  * Writes `<outDir>/<query>_<suffix>.txt` per query, each containing the
  * pre-execution formatted plan plus (after a noop-sink run) the
  * AQE-finalized executed plan, so exchange counts / join strategies /
  * PushedFilters claims in OPTIMIZATION_*.md are checkable offline. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.GraftSession.local(8)
    names.foreach { name =>
      val res = scala.util.Try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val qe = df.queryExecution
        val formatted = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // drive THIS QueryExecution (not a separate write command) so
        // its AdaptiveSparkPlan finalizes and the printed executed plan
        // shows the REAL runtime join strategies / AQEShuffleReads
        qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        val executed = qe.executedPlan.toString
        s"== Formatted (pre-execution) ==\n$formatted\n\n== Executed (AQE-final) ==\n$executed\n"
      }.recover { case e => s"FAILED: $e\n" }.get
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), res)
      graft.CacheScope.release()
      spark.catalog.clearCache()
      graft.etl.Sources.sweepNonceRoots()
      println(s"dumped $name")
    }
    spark.stop()
  }
}
