package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{Sketches, TextExpressions, VectorExpressions}

/** SQL surface for the engine's custom expressions, installed via the
  * standard extension mechanism — the session config
  * `spark.sql.extensions=graft.ext.GraftExtensions`, which
  * [[graft.GraftSession]] sets:
  *
  * {{{
  * spark.sql("SELECT graft_dot(a, b), graft_lang_id(text) FROM t")
  * }}}
  *
  * Each function maps 1:1 onto the codegen expressions in
  * graft.functions — DataFrame DSL users call those directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom physical operator: AsOfJoinPlan → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    // hash-first COUNT(DISTINCT <string>) — the x01 identity contract
    // as an automatic optimization (see HashFirstDistinctRule)
    ext.injectOptimizerRule(_ => graft.plans.HashFirstDistinctRule)

    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VectorExpressions.DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => VectorExpressions.DotProduct(args(0), args(1))))

    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[VectorExpressions.DotProduct].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        // raw catalyst nodes (a Column round-trip would embed unresolved
        // ColumnNode wrappers that the function injection path never
        // re-analyzes)
        import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
        val (a, b) = (args(0), args(1))
        Divide(VectorExpressions.DotProduct(a, b),
          Multiply(Sqrt(VectorExpressions.DotProduct(a, a)),
                   Sqrt(VectorExpressions.DotProduct(b, b))))
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[TextExpressions.WordShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) =>
        TextExpressions.WordShingleHashes(args(0), intArg(args(1), "shingle width"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_lang_id"),
      new ExpressionInfo(classOf[TextExpressions.LangId].getName, "graft_lang_id"),
      (args: Seq[Expression]) => TextExpressions.LangId(args(0))))

    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[TextExpressions.WordShingleStrings].getName, "graft_shingles"),
      (args: Seq[Expression]) =>
        TextExpressions.WordShingleStrings(args(0), intArg(args(1), "shingle width"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_top_token_share"),
      new ExpressionInfo(classOf[TextExpressions.TopTokenShare].getName, "graft_top_token_share"),
      (args: Seq[Expression]) => TextExpressions.TopTokenShare(args(0))))

    ext.injectFunction((
      new FunctionIdentifier("graft_quality"),
      new ExpressionInfo(classOf[TextExpressions.QualitySignals].getName, "graft_quality"),
      (args: Seq[Expression]) => TextExpressions.QualitySignals(args(0))))

    ext.injectFunction((
      new FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[TextExpressions.FingerprintSketch].getName, "graft_fingerprint"),
      (args: Seq[Expression]) => TextExpressions.FingerprintSketch(args(0),
        intArg(args(1), "gram width"), intArg(args(2), "sketch size"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[VectorExpressions.MinHashSignature].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.graftshim.{toColumn, toExpression}
        toExpression(Sketches.minhashSignature(
          toColumn(args(0)), intArg(args(1), "k"),
          if (args.size > 2) intArg(args(2), "seed").toLong else 42L))
      }))
  }
}

/** Driver-checked query for the SQL surface itself: a pure
  * `spark.sql(...)` pipeline over the registered temp views using the
  * extension-injected functions (graft_lang_id, graft_quality,
  * graft_shingles) — proving a SQL-only user of the library gets the
  * same hash-checked results as the DataFrame DSL. The oracle reuses
  * the x27/x11 CTE fragments, so the SQL surface, the DSL, and DuckDB
  * are pinned to one semantics. */
object SqlSurface {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  def sqlSurfaceQuery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql("""
      SELECT doc_id,
             graft_lang_id(text) AS predicted_lang,
             graft_quality(text).quality AS quality,
             CAST(size(graft_shingles(text, 8)) AS BIGINT) AS n_grams
      FROM documents ORDER BY doc_id""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x80_sql_surface" -> (sqlSurfaceQuery _))

  val oracles: Map[String, String] = Map(
    "x80_sql_surface" -> s"""
      WITH ${TextAnalysis.CurationGateSql},
      idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t)-7, 1)+1)) AS i FROM toks),
      ng AS (SELECT doc_id,
          CAST(COUNT(DISTINCT array_to_string(t[i:i+7], ' ')) AS BIGINT) AS n_grams
        FROM idx GROUP BY 1)
      SELECT d.doc_id, lp.predicted AS predicted_lang, qu.q AS quality, ng.n_grams
      FROM documents d
      JOIN lang_pred lp ON d.doc_id = lp.doc_id AND lp.rn = 1
      JOIN quality qu ON d.doc_id = qu.doc_id
      JOIN ng ON d.doc_id = ng.doc_id
      ORDER BY d.doc_id""")
}
