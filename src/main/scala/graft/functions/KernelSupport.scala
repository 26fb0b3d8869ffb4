package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The pieces the compiled text kernels share: one tokenizer, one
  * n-gram builder and one md5 hash, so every kernel tokenizes, joins
  * and hashes exactly like the Column forms in [[TextFunctions]]. */
object KernelSupport {

  /** Java regex `\s` = [ \t\n\x0B\f\r]: ASCII only, so it can be tested
    * on single UTF-8 bytes (none of these occurs inside a multi-byte
    * sequence) or on codepoints alike. */
  def isWs(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** `split(lower(trim(text)), "\\s+")`, as UTF8String slices.
    *
    * `UTF8String.trim`/`toLowerCase` are Spark's own trim() (ASCII space
    * only) and lower() (locale-independent); Java `String.trim` also
    * strips \t/\n and `String.toLowerCase` follows the JVM default locale
    * (Turkish 'I'), either of which would diverge from the Column forms
    * and the DuckDB oracles. The byte scan over `\s` runs then yields
    * exactly Java's `split("\\s+", -1)`: leading/trailing empty tokens
    * are kept and "" gives [""].
    *
    * The slices share the lowered string's bytes. `toLowerCase` always
    * returns a fresh buffer, never the input row's, so a token may be
    * emitted as an output value or kept as a map key. */
  def tokens(text: UTF8String): Array[UTF8String] = {
    val s = text.trim.toLowerCase
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def ws(i: Int): Boolean = isWs(s.getByte(i))
    val out = new java.util.ArrayList[UTF8String]()
    var start = 0
    var i = 0
    while (i < n) {
      if (ws(i)) {
        out.add(UTF8String.fromAddress(base, off + start, i - start))
        while (i < n && ws(i)) i += 1
        start = i
      } else i += 1
    }
    out.add(UTF8String.fromAddress(base, off + start, n - start))
    out.toArray(new Array[UTF8String](out.size))
  }

  private val Space = UTF8String.fromString(" ")

  /** Word n-grams: the space-joined window of `n` tokens at every start
    * position, max(len − n, 0) + 1 of them — a text shorter than `n`
    * tokens yields one gram, the whole text. Same as the
    * `transform(sequence(0, greatest(size − n, 0)), concat_ws(slice))`
    * spelling of [[TextFunctions.wordShingles]], before its distinct. */
  def grams(toks: Array[UTF8String], n: Int): Array[UTF8String] =
    Array.tabulate(math.max(toks.length - n, 0) + 1) { i =>
      UTF8String.concatWs(Space, toks.slice(i, math.min(i + n, toks.length)): _*)
    }

  private val md5Digest =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** MD5 of the string's raw UTF-8 bytes, as Spark's and DuckDB's md5(). */
  def md5(s: UTF8String): Array[Byte] = {
    val d = md5Digest.get()
    d.reset()
    s.getBaseObject match {
      case a: Array[Byte] =>
        d.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => d.update(s.getBytes)
    }
    d.digest()
  }

  /** Portable 60-bit hash: the first 15 hex chars of the md5 parsed as a
    * long (the first 8 digest bytes big-endian, shifted right 4), equal
    * to `CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)` in Spark
    * and `CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)` in DuckDB,
    * and positive in a signed 64-bit int in every engine. */
  def md5Prefix60(s: UTF8String): Long = {
    val d = md5(s)
    var l = 0L
    var i = 0
    while (i < 8) { l = (l << 8) | (d(i) & 0xffL); i += 1 }
    l >>> 4
  }

  /** Generated code that calls the kernel's compiled `nullSafeEval` on a
    * reference to the expression — one virtual call per row — and casts
    * the result to the kernel's data type. The hosting Project stays
    * inside whole-stage codegen, which a CodegenFallback expression
    * would evict. */
  private[functions] def callback(
      e: Expression, ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val ref = ctx.addReferenceObj("kernel", e, e.getClass.getName)
    val cast = CodeGenerator.boxedType(e.dataType)
    s"${ev.value} = ($cast) $ref.nullSafeEval(${args.mkString(", ")});"
  }
}

/** A one-input kernel compiled by [[KernelSupport.callback]]. */
trait UnaryKernel extends UnaryExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => KernelSupport.callback(this, ctx, ev, v))
}

/** A two-input kernel compiled by [[KernelSupport.callback]]. */
trait BinaryKernel extends BinaryExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelSupport.callback(this, ctx, ev, a, b))
}

/** A kernel over one string column. A non-string child fails analysis
  * instead of a ClassCastException inside `nullSafeEval` at run time. */
trait StringKernel extends UnaryKernel {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.catalogString}")
  }
}
