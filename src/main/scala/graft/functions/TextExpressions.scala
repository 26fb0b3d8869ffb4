package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import KernelSupport.{grams, isWs, md5, md5Prefix60, tokens}

/** Single-pass compiled expressions for the text hot paths. The Column
  * HOF formulations in [[TextFunctions]] re-tokenize per derived value
  * (langId alone splits the text 10×); these tokenize ONCE per row with
  * [[KernelSupport.tokens]], in compiled JVM code the generated code
  * calls back into ([[UnaryKernel]]), so the hosting Project stays
  * inside whole-stage codegen.
  */
object TextExpressions {

  /** The distinct word n-grams of a text, first-seen order. */
  private def distinctGrams(text: Any, n: Int): Array[UTF8String] = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    grams(tokens(text.asInstanceOf[UTF8String]), n).foreach(seen.add)
    seen.toArray(new Array[UTF8String](seen.size))
  }

  /** xxhash64 of each distinct word n-gram, bit-identical to
    * `transform(array_distinct(shingles), xxhash64)` in
    * [[TextFunctions.shingleHashes]]: same tokenization
    * (split(lower(trim(text)), "\\s+")), same seed-42 XXH64 over UTF-8
    * bytes, same ≤1-shingle behavior for short docs. */
  case class WordShingleHashes(child: Expression, n: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(v, n).map(g =>
        XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The distinct word n-grams themselves (strings), bit-identical to
    * [[TextFunctions.wordShingles]] but one compiled pass: tokenize once,
    * build each gram once, no interpreted HOF lambda per element. Used
    * where the gram must survive as a join key an external engine can
    * reproduce (e.g. decontamination); prefer [[WordShingleHashes]] when
    * only identity matters. */
  case class WordShingleStrings(child: Expression, n: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(v, n).asInstanceOf[Array[Any]])

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-grams WITH their 0-based starting token position — the
    * positional variant of [[WordShingleStrings]], and deliberately NOT
    * distinct: a gram occurring twice occupies two spans. Output
    * array<struct<pos:int, gram:string>>, one compiled pass. Feeds
    * span-cover operators that need to know WHERE a gram sits (e.g.
    * boilerplate masking), where the distinct variants only answer
    * whether it occurs. */
  case class WordShinglePositional(child: Expression, n: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val gs = grams(tokens(v.asInstanceOf[UTF8String]), n)
      new GenericArrayData(Array.tabulate[Any](gs.length)(i =>
        new GenericInternalRow(Array[Any](i, gs(i)))))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The k lexicographically-smallest MD5 hex digests of the distinct
    * word n-gram shingles, ascending — a winnowing-style fingerprint
    * sketch in an engine-portable encoding: MD5-over-UTF-8 produces the
    * identical lowercase hex string in Spark, DuckDB, and pandas, so an
    * external oracle can rebuild the selection (xxhash64 seeds are
    * Spark-internal and cannot). One compiled pass per row: tokenize,
    * build grams, digest, keep the k smallest — scan speed, no shuffle. */
  case class FingerprintSketch(child: Expression, n: Int, k: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(v, n)
        .map(g => org.apache.commons.codec.binary.Hex.encodeHexString(md5(g)))
        .sorted.take(k).map[Any](UTF8String.fromString))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit hash of each distinct word n-gram: the first 15 hex
    * chars of the gram's MD5, parsed as a long
    * ([[KernelSupport.md5Prefix60]]). Same shingling as
    * [[WordShingleHashes]] (tokenize once, LinkedHashSet-distinct), but
    * the hash is reproducible in ANY engine — md5 + hex prefix + integer
    * parse — which is what lets DuckDB rebuild the entire
    * MinHash/LSH/Jaccard pipeline for the correctness gate (xxhash64's
    * seed/spec is Spark-internal). Production deployments that don't need
    * an external oracle swap back to [[WordShingleHashes]] in one line —
    * every downstream shape (signature, banding, caps, verify) is
    * hash-agnostic. */
  case class WordShinglePortableHashes(child: Expression, n: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(distinctGrams(v, n).map(md5Prefix60))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable 60-bit SimHash over a token MULTISET: per-bit majority
    * vote of each token's md5-prefix hash (15 hex chars = 60 bits, the
    * same engine-portable construction as [[WordShinglePortableHashes]]).
    * 4×15-bit pigeonhole bands preserve the hamming ≤ 3 guarantee.
    * Repeated tokens vote repeatedly — SimHash weighs by term frequency
    * (that's what distinguishes it from a set sketch). */
  case class SimHashPortable(child: Expression) extends UnaryKernel {

    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](60)
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        val h = md5Prefix60(arr.getUTF8String(t))
        var i = 0
        while (i < 60) { counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
        t += 1
      }
      var out = 0L
      var i = 0
      while (i < 60) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Non-`\s` codepoints of `s` — Spark's length() counts codepoints, and
    * `regexp_replace(trim(text), "\\s", "")` drops the ASCII `\s` class. */
  private def nonWsChars(s: String): Int = {
    var nonWs = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isWs(cp)) nonWs += 1
      i += Character.charCount(cp)
    }
    nonWs
  }

  /** All text-quality signals in ONE tokenization pass, bit-identical to
    * the Column formulations in [[TextFunctions]] (same IEEE op order, so
    * the DuckDB oracles keep hash-matching):
    *
    *   punct_ratio    = punct chars / max(chars, 1)
    *   stopword_ratio = EN-stopword tokens / max(tokens, 1)
    *   avg_token_len  = non-whitespace chars of trim(text) / max(tokens, 1)
    *   n_tokens       = whitespace token count
    *   quality        = the Gopher-style composite in [0, 100]
    *
    * Replaces the interpreted `filter(tokens, ...)` HOF the x12 hot path
    * used to evaluate twice per row (measured 7.1 s at sf0.1; per-token
    * interpreted lambdas are the 100× scan-path trap — see
    * [[TopTokenShare]]'s 60 s → 0.44 s history). */
  case class QualitySignals(child: Expression) extends StringKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("punct_ratio", DoubleType, nullable = false),
      StructField("stopword_ratio", DoubleType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("quality", DoubleType, nullable = false)))

    private val stopSet: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      TextFunctions.stopwords("en").foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

    // the same set the Column form's regex [^.,;:!?'"()-] keeps
    private def isPunct(cp: Int): Boolean = cp match {
      case '.' | ',' | ';' | ':' | '!' | '?' | '\'' | '"' | '(' | ')' | '-' => true
      case _ => false
    }

    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      val str = u.toString
      // codepoint counts — Spark's length() counts codepoints, not chars
      var charLen = 0
      var punct = 0
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        charLen += 1
        if (isPunct(cp)) punct += 1
        i += Character.charCount(cp)
      }
      val nonWs = nonWsChars(u.trim.toString)
      val toks = tokens(u)
      var stops = 0
      i = 0
      while (i < toks.length) {
        if (stopSet.contains(toks(i))) stops += 1
        i += 1
      }
      val nTokens = math.max(toks.length, 1)
      val punctRatio = punct.toDouble / math.max(charLen, 1).toDouble
      val stopRatio = stops.toDouble / nTokens.toDouble
      val avgTokenLen = nonWs.toDouble / nTokens.toDouble
      val lengthScore = math.min(charLen.toDouble / 500.0, 1.0)
      val punctScore = 1.0 - math.min(punctRatio * 5.0, 1.0)
      val stopScore = math.min(stopRatio * 4.0, 1.0)
      val wordLenScore = if (avgTokenLen >= 3.0 && avgTokenLen <= 10.0) 1.0 else 0.5
      val quality = lengthScore * 25.0 + punctScore * 25.0 +
        stopScore * 25.0 + wordLenScore * 25.0
      new GenericInternalRow(
        Array[Any](punctRatio, stopRatio, avgTokenLen, toks.length.toLong, quality))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Token statistics in ONE tokenization pass, bit-identical to the
    * three Column formulations x10 used to evaluate separately (each of
    * which re-walked the text through its own regex and materialized
    * arrays just to count them):
    *
    *   n_tokens      = size(split(lower(trim(text)), "\\s+"))
    *   n_bpe_tokens  = size(regexp_extract_all(lower(trim(text)),
    *                     "[a-z]+|[0-9]+|[^a-z0-9\\s]")) — the alternation
    *                   is leftmost-greedy, so it counts letter RUNS,
    *                   digit RUNS, and every other non-ws codepoint
    *                   individually; a run never crosses a token boundary,
    *                   so a per-token state machine reproduces it
    *   avg_token_len = non-ws codepoints of trim(text) / max(n_tokens, 1)
    *
    * The regex formulation measured 25.8× at the 100× ScaleCheck volume
    * (7.0 s for 55 MB of text on 32 cores — ~2 µs/char, all regex engine
    * and UTF8String→String→array churn); this is the QualitySignals fix
    * applied to the x10/x45 scan path. */
  case class TokenStats(child: Expression) extends StringKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("avg_token_len", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      val toks = tokens(u)
      // the lowered tokens are valid UTF-8 (toLowerCase either maps ASCII
      // bytes or re-encodes a Java String), so codepoints start at every
      // non-continuation byte; a non-ASCII codepoint is "other"
      var bpe = 0L
      var t = 0
      while (t < toks.length) {
        val tok = toks(t)
        var prev = 0 // 1 = letter run, 2 = digit run, 3 = other
        var i = 0
        while (i < tok.numBytes) {
          val b = tok.getByte(i)
          if ((b & 0xc0) != 0x80) {
            val cls = if (b >= 'a' && b <= 'z') 1 else if (b >= '0' && b <= '9') 2 else 3
            if (cls == 3 || cls != prev) bpe += 1
            prev = cls
          }
          i += 1
        }
        t += 1
      }
      // avg_token_len's numerator counts the TRIMMED original (the Column
      // form regex_replaces trim(text), not the lowered string —
      // toLowerCase can change the codepoint count)
      val avg = nonWsChars(u.trim.toString).toDouble / toks.length.toDouble
      new GenericInternalRow(Array[Any](toks.length.toLong, bpe, avg))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** x37's PII redaction signals in one compiled pass, bit-identical to
    * the four Column expressions it replaces:
    *
    *   n_emails     = size(regexp_extract_all(t, emailRe, 0))
    *   n_phones     = size(regexp_extract_all(t, phoneRe, 0))   (on t,
    *                  not the email-redacted text — count semantics)
    *   len_raw      = length(t)                       (codepoints)
    *   len_redacted = length(regexp_replace(
    *                    regexp_replace(t, emailRe, "<EMAIL>"),
    *                    phoneRe, "<PHONE>"))
    *
    * Same java.util.regex engine and non-overlapping leftmost match
    * semantics Spark's regexp_* use; the literal sentinels contain no
    * $/\\ so replaceAll processes them identically. The Column form ran
    * FOUR regex passes per document and materialized two match arrays
    * just to size() them — plus a UTF8String→String conversion per
    * expression; this runs three matcher passes (email count+replace
    * fused) on one converted String. */
  case class PiiRedactionStats(child: Expression, emailRe: String, phoneRe: String)
      extends StringKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("n_emails", LongType, nullable = false),
      StructField("n_phones", LongType, nullable = false),
      StructField("len_raw", LongType, nullable = false),
      StructField("len_redacted", LongType, nullable = false)))

    @transient private lazy val emailP = java.util.regex.Pattern.compile(emailRe)
    @transient private lazy val phoneP = java.util.regex.Pattern.compile(phoneRe)

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val lenRaw = s.codePointCount(0, s.length).toLong
      // email pass: count and replace in one matcher sweep
      var nEmails = 0L
      val em = emailP.matcher(s)
      val sb = new java.lang.StringBuilder()
      while (em.find()) { nEmails += 1; em.appendReplacement(sb, "<EMAIL>") }
      em.appendTail(sb)
      val redE = sb.toString
      // phone count on the ORIGINAL text (the Column form's semantics)
      var nPhones = 0L
      val pm = phoneP.matcher(s)
      while (pm.find()) nPhones += 1
      // phone replace on the email-redacted text (nested regexp_replace)
      val red = phoneP.matcher(redE).replaceAll("<PHONE>")
      val lenRed = red.codePointCount(0, red.length).toLong
      new GenericInternalRow(Array[Any](nEmails, nPhones, lenRaw, lenRed))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Number of distinct token positions covered by the union of the
    * intervals [pos, min(pos+span-1, nTokens-1)] — the x73 boilerplate
    * span coverage, computed DOC-LOCALLY over the (small, ≤ tokens-per-
    * doc) position list instead of exploding every hot-gram occurrence
    * into `span` rows and running a corpus-wide distinct: that plan
    * shuffled 8× the gram-occurrence mass through one exchange and the
    * deduped positions through a second; this one shuffles each
    * occurrence once (into the doc-keyed collect_list) and does integer
    * set algebra per doc. Identical count by construction (interval
    * union ≡ distinct of the exploded positions). */
  case class CoveredTokenCount(left: Expression, right: Expression, span: Int)
      extends BinaryKernel {

    override def dataType: DataType = LongType

    override def nullSafeEval(posv: Any, ntok: Any): Any = {
      val arr = posv.asInstanceOf[ArrayData]
      val n = ntok.asInstanceOf[Long]
      val m = arr.numElements()
      val ps = new Array[Long](m)
      var i = 0
      while (i < m) { ps(i) = arr.getLong(i); i += 1 }
      java.util.Arrays.sort(ps)
      var covered = 0L
      var prevEnd = 0L // exclusive end of the union swept so far
      i = 0
      while (i < m) {
        val start = math.max(ps(i), prevEnd)
        val end = math.min(ps(i) + span, n) // exclusive
        if (end > start) covered += end - start
        if (end > prevEnd) prevEnd = end
        i += 1
      }
      java.lang.Long.valueOf(covered)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** (number of distinct tokens, occurrences of the most frequent one) */
  private def distinctAndTop(toks: Array[UTF8String]): (Int, Int) = {
    val counts = new java.util.HashMap[UTF8String, Int](toks.length * 2)
    var top = 0
    toks.foreach(t => top = math.max(top, counts.merge(t, 1, (a, b) => a + b)))
    (counts.size, top)
  }

  /** All repetition signals in ONE tokenize+hash-count pass,
    * bit-identical to the x38 Column forms:
    *
    *   n_tokens        = size(split(lower(trim(text)), "\\s+"))
    *   dup_token_ratio = 1.0 − distinct/max(n, 1)
    *   top_token_ratio = maxCount/max(n, 1)   (≡ [[TopTokenShare]])
    *
    * The per-signal spelling walked the text three times (two splits +
    * an array_distinct allocation per row just to count unique tokens);
    * the hash map already knows both the distinct count (its size) and
    * the top count (its max). */
  case class RepetitionStats(child: Expression) extends StringKernel {

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("dup_token_ratio", DoubleType, nullable = false),
      StructField("top_token_ratio", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val (distinct, top) = distinctAndTop(toks)
      val n = toks.length.toLong
      val denom = math.max(n, 1L).toDouble
      new GenericInternalRow(Array[Any](n,
        1.0 - distinct.toDouble / denom,
        top.toDouble / denom))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Frequency share of the most common token: tokenize once, count in
    * a hash map, return max/n. The Column-HOF formulation (fold over the
    * sorted array with element_at) evaluates its lambda interpreted per
    * element — measured 60 s for 5k docs at sf0.1 vs sub-second here. */
  case class TopTokenShare(child: Expression) extends StringKernel {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      distinctAndTop(toks)._2.toDouble / math.max(toks.length, 1)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Heuristic language ID in one tokenization pass: per-language
    * stopword hit counts, argmax with the same tie-break as
    * `greatest(struct(score, lang))` in [[TextFunctions.langId]] —
    * equal scores → lexicographically larger language code wins. */
  case class LangId(child: Expression) extends StringKernel {

    override def dataType: DataType = StringType

    // langs sorted ascending; token → bitmask of matching langs
    private val langs: Array[String] = TextFunctions.stopwords.keys.toArray.sorted
    private val mask: java.util.HashMap[UTF8String, Int] = {
      val m = new java.util.HashMap[UTF8String, Int]()
      langs.zipWithIndex.foreach { case (l, i) =>
        TextFunctions.stopwords(l).foreach { w =>
          m.merge(UTF8String.fromString(w), 1 << i, (a, b) => a | b)
        }
      }
      m
    }

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new Array[Int](langs.length)
      var i = 0
      while (i < toks.length) {
        val m = mask.getOrDefault(toks(i), 0)
        if (m != 0) {
          var l = 0
          while (l < langs.length) {
            if ((m & (1 << l)) != 0) counts(l) += 1
            l += 1
          }
        }
        i += 1
      }
      // argmax; ties → larger lang code (scan ascending, >= keeps later)
      var best = 0
      var l = 1
      while (l < langs.length) {
        if (counts(l) >= counts(best)) best = l
        l += 1
      }
      UTF8String.fromString(langs(best))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash of a token array: per-bit majority vote over each
    * token's 128-bit (2×Murmur3) hash. Bit-identical to the previous
    * UDF formulation (same MurmurHash3 seeds), but a native expression:
    * no UDF serialization boundary, stays inside whole-stage codegen. */
  case class SimHash64(child: Expression) extends UnaryKernel {

    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var t = 0
      while (t < n) {
        val tok = arr.getUTF8String(t).toString
        val h1 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x9747b28c)
        val h2 = scala.util.hashing.MurmurHash3.stringHash(tok, 0x85ebca6b)
        val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
        var i = 0
        while (i < 64) { counts(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
        t += 1
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** WINNOWED positional word n-grams — the standard winnowing
    * reduction (Schleimer et al., SIGMOD 2003: the MOSS fingerprint
    * selection) applied doc-locally in one compiled pass: build every
    * positional n-gram like [[WordShinglePositional]], hash each gram
    * with the engine-portable 60-bit md5 prefix (the
    * [[WordShinglePortableHashes]] encoding, so a DuckDB oracle can
    * replay the SELECTION bit-for-bit), then slide a window of `w`
    * consecutive gram positions and keep, per window, the position
    * with the smallest hash (ties to the RIGHTMOST — the paper's
    * robust-winnowing tie-break). Output is the selected subset in
    * ascending position, same struct as the unwinnowed variant.
    *
    * Why: span-cover operators shuffle every gram occurrence; at the
    * 100x ScaleCheck volume that shuffle is the whole cost. Winnowing
    * cuts the shuffled mass to ~2/(w+1) of the occurrences BEFORE the
    * exchange, with the published guarantee that any shared span of at
    * least w+n-1 tokens still shares a selected fingerprint — so
    * boilerplate SPANS (which are long by definition) survive while
    * incidental single-gram overlaps may not. Selection is per
    * document and hash-deterministic: the same text selects the same
    * positions in every engine. */
  case class WinnowedPositional(child: Expression, n: Int, w: Int) extends StringKernel {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val gs = grams(tokens(v.asInstanceOf[UTF8String]), n)
      val hs = gs.map(md5Prefix60)
      val m = gs.length
      // windows j..j+w-1 (clamped); ascending scan with <= keeps the
      // rightmost minimum — selections accumulate in a sorted set
      // because a later window can select an earlier position than a
      // previous window's rightmost-tie pick
      val numWin = math.max(m - w + 1, 1)
      val sel = new java.util.TreeSet[Integer]()
      var j = 0
      while (j < numWin) {
        var best = j
        var k = j + 1
        val end = math.min(j + w, m)
        while (k < end) { if (hs(k) <= hs(best)) best = k; k += 1 }
        sel.add(best)
        j += 1
      }
      val out = new Array[Any](sel.size)
      val it = sel.iterator()
      var o = 0
      while (it.hasNext) {
        val p = it.next().intValue()
        out(o) = new GenericInternalRow(Array[Any](p, gs(p)))
        o += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document token frequencies in ONE compiled pass:
    * array<struct<token, tf>> with one entry per DISTINCT token of
    * `split(lower(trim(text)), "\\s+")` (first-seen order) and tf its
    * occurrence count — value-identical, after explode, to the
    * `explode(tokens(text)) → groupBy(doc, token) → count` chain every
    * postings build spelled (guide §2.3 "aggregate before you
    * shuffle", taken to its limit: the per-doc aggregation happens
    * inside the scan task, so the explode emits ALREADY-UNIQUE
    * (doc, token, tf) rows and the downstream groupBy vanishes — no
    * 1M-row explode feeding a hash aggregate, no exchange of raw token
    * mass). Empty text yields the [""] token exactly like the split
    * chain; callers keep their length>0 filters.
    *
    * Precondition: the doc key is unique per row. The kernel counts per
    * ROW, so two rows sharing a doc_id emit two (doc, token, tf) rows
    * where the groupBy chain emits one with the summed tf. */
  case class TokenCounts(child: Expression) extends StringKernel {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new java.util.LinkedHashMap[UTF8String, Long](toks.length * 2)
      toks.foreach(t => counts.merge(t, 1L, (a, b) => a + b))
      val out = new Array[Any](counts.size)
      var j = 0
      counts.forEach { (tok, tf) => out(j) = new GenericInternalRow(Array[Any](tok, tf)); j += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document ADJACENT-BIGRAM frequencies in one compiled pass:
    * array<struct<w1, w2, m>> with one entry per distinct ordered token
    * pair (t[i], t[i+1]) of `split(lower(trim(text)), "\\s+")` and m
    * its occurrence count — value-identical, after explode, to the
    * `slice/arrays_zip/explode → groupBy(doc, w1, w2) → count` chain
    * the bigram-LM family spelled (same rationale as [[TokenCounts]]:
    * the per-doc aggregation happens inside the scan task, so the
    * corpus-mass hash aggregate and the two slice copies + zip-struct
    * allocation per token vanish). Texts with < 2 tokens yield an
    * empty array, exactly like slice(t, 1, max(size-1, 0)).
    *
    * Precondition: the doc key is unique per row, as for [[TokenCounts]]
    * — a doc_id on two rows gets two rows per pair instead of one. */
  case class BigramCounts(child: Expression) extends StringKernel {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("m", LongType, nullable = false))), containsNull = false)

    override def nullSafeEval(v: Any): Any = {
      val toks = tokens(v.asInstanceOf[UTF8String])
      val counts = new java.util.LinkedHashMap[(UTF8String, UTF8String), Long](toks.length * 2)
      var i = 0
      while (i < toks.length - 1) {
        counts.merge((toks(i), toks(i + 1)), 1L, (a, b) => a + b)
        i += 1
      }
      val out = new Array[Any](counts.size)
      var j = 0
      counts.forEach { (pair, m) =>
        out(j) = new GenericInternalRow(Array[Any](pair._1, pair._2, m)); j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.{toColumn => column, toExpression => expression}

  def tokenCounts(text: Column): Column =
    column(TokenCounts(expression(text)))

  def bigramCounts(text: Column): Column =
    column(BigramCounts(expression(text)))

  def wordShingleHashes(text: Column, n: Int): Column =
    column(WordShingleHashes(expression(text), n))

  def wordShingleStrings(text: Column, n: Int): Column =
    column(WordShingleStrings(expression(text), n))

  def wordShinglePortableHashes(text: Column, n: Int): Column =
    column(WordShinglePortableHashes(expression(text), n))

  def wordShinglePositional(text: Column, n: Int): Column =
    column(WordShinglePositional(expression(text), n))

  def winnowedPositional(text: Column, n: Int, w: Int): Column =
    column(WinnowedPositional(expression(text), n, w))

  def simHashPortable(tokens: Column): Column =
    column(SimHashPortable(expression(tokens)))

  def topTokenShare(text: Column): Column = column(TopTokenShare(expression(text)))

  def fingerprintSketch(text: Column, n: Int, k: Int): Column =
    column(FingerprintSketch(expression(text), n, k))

  def qualitySignals(text: Column): Column = column(QualitySignals(expression(text)))

  def tokenStats(text: Column): Column = column(TokenStats(expression(text)))

  def coveredTokenCount(positions: Column, nTokens: Column, span: Int): Column =
    column(CoveredTokenCount(expression(positions), expression(nTokens), span))

  def repetitionStats(text: Column): Column = column(RepetitionStats(expression(text)))

  def piiRedactionStats(text: Column, emailRe: String, phoneRe: String): Column =
    column(PiiRedactionStats(expression(text), emailRe, phoneRe))

  def langId(text: Column): Column = column(LangId(expression(text)))

  def simHash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
}
