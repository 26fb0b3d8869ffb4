package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{DataGen, Pipeline, Rules, Sources}

/** One operation of a pass. `call` invokes a public entry point and
  * returns the frames it leaves to materialize, labelled; eager entry
  * points return frames that are already computed or none at all.
  * `kind` says which end-to-end figure the operation feeds: `load`,
  * `report` or `query`. */
final case class Op(name: String, layer: String, kind: String, lazyCall: Boolean,
                    call: () => Seq[(String, DataFrame)])

trait Workload {
  def name: String
  /** Write the seeded inputs under `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** The operations of pass `pass` (passes < 0 are warm-up passes). */
  def ops(spark: SparkSession, pass: Int): Seq[Op]
  /** Called once a pass is done and before the next starts. */
  def afterPass(pass: Int): Unit = ()
  /** What the outside checker needs besides the inputs and the warm-up
    * pass's results. */
  def checkInfo: Map[String, Any]
  /** The parquet tables the workload's operations load. */
  def loadedTables: Seq[String] = Nil
  def inputDir: String
}

object Workload {
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A seed-derived id offset: the generators draw every value from a
    * hash of the row id, so rows `off+1 .. off+n` re-keyed to `1 .. n`
    * are a fresh sample with the same distributions and key ranges. */
  def offset(seed: Long, n: Long): Long = (math.floorMod(seed, 1000L) + 1L) * n

  def rekey(df: DataFrame, key: String, off: Long, base: Long): DataFrame =
    df.where(col(key) >= off + base).withColumn(key, col(key) - off)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's own E→T→L pipeline over the reference four-table CSVs. */
final class EtlLoad(nOrders: Long, seed: Long, work: String) extends Workload {
  import Workload._
  val name = "etl_load"
  var inputDir = ""
  private val nCustomers = nOrders / 5
  private val nProducts = nOrders / 50

  def inputs: Seq[(String, String)] = Pipeline.loadOrder.map(t => (s"$inputDir/sample_$t", t))

  def generate(spark: SparkSession, dir: String): Unit = {
    val oc = offset(seed, nCustomers); val op = offset(seed, nProducts); val oo = offset(seed, nOrders)
    val frames = Seq(
      "customers" -> rekey(DataGen.customers(spark, oc + nCustomers), "customer_id", oc, 1),
      "products" -> rekey(DataGen.products(spark, op + nProducts), "product_id", op, 1),
      "orders" -> rekey(DataGen.orders(spark, oo + nOrders, nCustomers), "order_id", oo, 1),
      "order_items" -> DataGen.orderItems(spark, nOrders, nProducts))
    frames.foreach { case (t, df) => Sources.writeCsv(df, s"$dir/sample_$t") }
    inputDir = dir
  }

  private def readAll(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Seq("customers", "products", "orders").map(t => t -> Sources.readTable(spark, dir, t)).toMap

  val tablesFailed = scala.collection.mutable.ArrayBuffer[Int]()
  private def passDir(pass: Int): String = s"$work/etl_out/pass_${pass + 1}"
  /** The warm-up pass's output, which the checker reads. */
  def checkedDir: String = passDir(-1)
  /** The newest pass's output. */
  var loadDir = ""

  def ops(spark: SparkSession, pass: Int): Seq[Op] = {
    val out = passDir(pass)
    loadDir = out
    Seq(
      Op("etl.Pipeline.run", "etl.Pipeline", "load", lazyCall = false, () => {
        val m = Pipeline.run(spark, inputs, out)
        tablesFailed += m.tablesFailed
        Nil
      }),
      Op("etl.Rules.report", "etl.Rules", "report", lazyCall = false,
        () => Seq("rules_report" -> Rules.report(spark, readAll(spark, out)))),
      Op("etl.Pipeline.analyticsReport", "etl.Pipeline", "report", lazyCall = true,
        () => Pipeline.analyticsReport(spark, out).toSeq.sortBy(_._1)),
      Op("etl.Pipeline.pipelineStatus", "etl.Pipeline", "report", lazyCall = true,
        () => Pipeline.pipelineStatus(spark, out).toSeq.sortBy(_._1)))
  }

  /** Every pass loads into a fresh directory; a timed pass's output is
    * dropped once the pass is over (the traced run still reads the
    * newest one), the warm-up pass's output is kept for the checker. */
  override def afterPass(pass: Int): Unit =
    Option(new File(s"$work/etl_out").listFiles()).getOrElse(Array())
      .filter(f => f.getPath != checkedDir && f.getPath != loadDir).foreach(rmTree)

  def checkInfo: Map[String, Any] =
    Map("tables_failed" -> tablesFailed.toSeq, "load_dir" -> checkedDir)

  /** `Transforms.apply` alone: CSV scan + transform into the noop sink
    * minus the bare CSV scan, summed over the four tables. */
  def transformsSelfS(spark: SparkSession, reps: Int): Double = inputs.map { case (path, t) =>
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val with_ = Stats.median((1 to reps).map(_ =>
      time(noop(graft.etl.Transforms(t, Sources.readCsv(spark, path, t))))))
    val bare = Stats.median((1 to reps).map(_ => time(noop(Sources.readCsv(spark, path, t)))))
    with_ - bare
  }.sum
}

/** Registry queries materialized one at a time through the noop sink. */
class QueryWorkload(val name: String, queries: Seq[String], seed: Long,
                    slice: (SparkSession, String, Long) => Unit, tables: Seq[String])
    extends Workload {
  var inputDir = ""
  override def loadedTables: Seq[String] = tables

  def generate(spark: SparkSession, dir: String): Unit = {
    slice(spark, dir, seed)
    inputDir = dir
  }

  /** Seed-permuted order, a fresh permutation per pass. */
  def ops(spark: SparkSession, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries).map { q =>
      val fn = graft.SparkEntry.queries(q)
      Op(q, QueryWorkload.moduleOf(q), "query", lazyCall = true,
        () => Seq(q -> fn(spark, inputDir)))
    }

  def checkInfo: Map[String, Any] = Map(
    "oracles" -> queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
    "queries" -> queries)
}

object QueryWorkload {
  private lazy val modules: Seq[(String, Set[String])] = Seq(
    "analytics" -> (graft.analytics.Analytics.queries.keySet ++
      graft.analytics.EventAnalytics.queries.keySet),
    "streaming" -> graft.streaming.EventStreams.queries.keySet,
    "ops" -> (graft.ops.ConnectedComponents.queries.keySet ++ graft.ops.GlobalOrder.queries.keySet ++
      graft.ops.RangeJoin.queries.keySet ++ graft.ops.Skew.queries.keySet ++
      graft.ops.SnapshotDiff.queries.keySet ++ graft.ops.ZOrder.queries.keySet))

  def moduleOf(q: String): String =
    modules.collectFirst { case (m, ks) if ks(q) => m }.getOrElse("ext")

  /** Relational + event tables shaped like the sf0.1 test data, at
    * `scale` × its volumes, in its layout: one parquet file per table,
    * `<dir>/<table>.parquet` (the event stream sources glob for it). */
  def reportSlice(scale: Double)(spark: SparkSession, dir: String, seed: Long): Unit = {
    def n(x: Long): Long = math.max(10L, math.round(x * scale))
    writeFile(DataGen.eventsLike(spark, n(100000), n(1500)), dir, "events")
    writeFile(DataGen.customersLike(spark, n(1500)), dir, "customer")
    writeFile(DataGen.ordersLike(spark, n(15000), n(1500)), dir, "orders")
    writeFile(DataGen.regionsLike(spark), dir, "region")
    writeFile(DataGen.nationsLike(spark), dir, "nation")
    writeFile(DataGen.suppliersLike(spark, n(100)), dir, "supplier")
    writeFile(DataGen.partsLike(spark, n(2000)), dir, "part")
    writeFile(DataGen.lineitemLike(spark, n(60000), nOrders = n(15000), nParts = n(2000),
      nSuppliers = n(100)), dir, "lineitem")
  }

  /** Documents + embeddings at `mult` × the sf0.1 volumes, drawn from a
    * seed-offset id range and re-keyed to start at 0. The offset is a
    * whole number of the generator's 100-row duplicate blocks, and small:
    * the document generator computes every row below it. */
  def corpusSlice(mult: Double)(spark: SparkSession, dir: String, seed: Long): Unit = {
    val nd = math.round(5000 * mult); val ne = math.round(2000 * mult)
    val off = 100L * math.floorMod(seed, 16L)
    writeFile(Workload.rekey(DataGen.documentsLike(spark, off + nd), "doc_id", off, 0), dir, "documents")
    writeFile(Workload.rekey(DataGen.embeddingsLike(spark, off + ne), "vec_id", off, 0), dir, "embeddings")
  }

  /** Write `df` as the single file `<dir>/<table>.parquet`. */
  def writeFile(df: DataFrame, dir: String, table: String): Unit = {
    val tmp = new File(s"$dir/.$table")
    df.repartition(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, new File(s"$dir/$table.parquet").toPath)
    Workload.rmTree(tmp)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Per-row cost of the `graft.functions` kernels: each kernel as one
  * projection over a cached column into the noop sink, minus a
  * projection that reads the kernel's input and returns its length. */
object Kernels {
  import graft.functions.{Sketches, TextExpressions, TextFunctions, VectorExpressions}

  def nsPerRow(spark: SparkSession, dir: String, targetRows: Long, reps: Int): Map[String, Double] = {
    def replicated(df: DataFrame): DataFrame = {
      val n = math.max(1L, df.count())
      val k = math.max(1L, (targetRows + n - 1) / n).toInt
      val r = df.withColumn("__r", explode(sequence(lit(1), lit(k)))).drop("__r")
        .repartition(spark.sparkContext.defaultParallelism).cache()
      r.count(); r
    }
    val text = replicated(graft.Tables.load(spark, dir, "documents").select(col("text")))
    val emb = replicated(graft.Tables.load(spark, dir, "embeddings").select(col("embedding")))
    def time(df: DataFrame, c: Column): Double = Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); Workload.noop(df.select(c.as("k"))); (System.nanoTime() - t0).toDouble
    })
    val t = col("text"); val e = col("embedding")
    val toks = TextFunctions.tokens(t); val sh = TextFunctions.shingleHashes(t, 5)
    val cases: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("tokens", text, toks, length(t)),
      ("shingleHashes", text, sh, length(t)),
      ("tokenCounts", text, TextExpressions.tokenCounts(t), length(t)),
      ("bigramCounts", text, TextExpressions.bigramCounts(t), length(t)),
      ("simhash64", text, Sketches.simhash64(toks), size(toks)),
      ("minhashSignature", text, Sketches.minhashSignature(sh, 64), size(sh)),
      ("cosineSim", emb, VectorExpressions.cosineSim(e, e), size(e)))
    val out = cases.map { case (k, df, kernel, base) =>
      k -> (time(df, kernel) - time(df, base)) / df.count()
    }.toMap
    text.unpersist(true); emb.unpersist(true)
    out
  }
}
