package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Imperative kernels for the hot text-analysis scalars, exposed as
  * codegen-friendly Catalyst expressions. Each is value-identical to a
  * composable regexp formulation (which the DuckDB oracles still use) but
  * one pass instead of several regex scans per document.
  */
object TextKernelOps {

  /** trim + lowercase + collapse runs of whitespace to single spaces.
    * Identical to regexp_replace(lower(trim(s)), '\s+', ' ') for the
    * Java/RE2 common ASCII whitespace class. */
  def normText(s: UTF8String): UTF8String = {
    val in = s.toString
    val sb = new java.lang.StringBuilder(in.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < in.length) {
      val ch = in.charAt(i)
      val isWs = ch == ' ' || ch == '\t' || ch == '\n' || ch == '\u000B' ||
        ch == '\f' || ch == '\r'
      if (isWs) {
        if (started) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(Character.toLowerCase(ch))
        started = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit SimHash of a document in ONE local pass: normalize, split on
    * spaces, md5 each token (first 15 hex chars → 60-bit value), ±1 vote
    * per bit, sign → bit. Value-identical to the explode+groupBy vote
    * formulation the DuckDB oracle still derives — same md5 windows,
    * same votes — but no explode, no shuffle, codegen-friendly. */
  def simhash60(s: UTF8String): Long = {
    val norm = normText(s).toString
    val votes = new Array[Int](60)
    val md = md5Local.get()
    var start = 0
    while (start <= norm.length) {
      val end0 = norm.indexOf(' ', start)
      val end = if (end0 < 0) norm.length else end0
      if (end > start) {
        md.reset()
        val d = md.digest(norm.substring(start, end).getBytes("UTF-8"))
        // first 15 hex chars of the digest = the first 7.5 bytes, read
        // straight off the digest (value-identical to parsing
        // substr(md5(tok), 1, 15) as the engines do)
        var th = 0L
        var bi = 0
        while (bi < 7) { th = (th << 8) | (d(bi) & 0xff); bi += 1 }
        th = (th << 4) | ((d(7) & 0xff) >> 4)
        var i = 0
        while (i < 60) {
          votes(i) += (if (((th >> i) & 1) == 1) 1 else -1)
          i += 1
        }
      }
      start = end + 1
    }
    var sig = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }

  /** One-pass repetition statistics over the normalized text — the
    * integer numerators/denominators of Gopher-style (Rae et al. 2021,
    * public) repetition quality rules, left as exact longs so the
    * fraction arithmetic (and its rounding) happens once, identically,
    * in both engines:
    *
    *   [0] word count
    *   [1] distinct word count
    *   [2] total word chars (= chars of text minus spaces)
    *   [3] chars covered by occurrences of the most frequent word bigram
    *       (ties: highest count, then lexicographically smallest gram)
    *   [4] total chars over all bigram occurrences (gram length includes
    *       the joining space)
    *   [5] chars over occurrences of word trigrams that appear >1 time
    *   [6] total chars over all trigram occurrences
    *
    * Value-identical to the explode + groupBy + window formulation the
    * DuckDB oracle derives, but a single narrow pass: no explode, no
    * shuffle, codegen-friendly. */
  /** Split on single spaces (the normText separator), skipping empties —
    * the one word-splitting loop every text kernel shares. */
  private[functions] def splitWords(str: String): scala.collection.mutable.ArrayBuffer[String] = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    while (start <= str.length) {
      val end0 = str.indexOf(' ', start)
      val end = if (end0 < 0) str.length else end0
      if (end > start) words += str.substring(start, end)
      start = end + 1
    }
    words
  }

  /** Space-joined run of `n` consecutive words starting at `j`. */
  private[functions] def joinGram(words: scala.collection.mutable.ArrayBuffer[String],
                                  j: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(words(j))
    var k = 1
    while (k < n) { sb.append(' ').append(words(j + k)); k += 1 }
    sb.toString
  }

  /** (n_chars, n_tokens, punct, len_nospace) of the NORMALIZED text in
    * one pass. Value-identical to the regexp formulation the text_quality
    * oracle derives: n_chars = length(norm), n_tokens = 0 for empty else
    * spaces+1 (normText collapses runs, so split size = spaces+1), punct
    * counts Java `\p{Punct}` = POSIX punct = the 32 ASCII chars
    * !-/ :-@ [-` {-~, len_nospace = n_chars − spaces. */
  def textStats(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val t = normText(s).toString
    var spaces = 0
    var punct = 0
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (c == ' ') spaces += 1
      else if ((c >= 33 && c <= 47) || (c >= 58 && c <= 64) ||
               (c >= 91 && c <= 96) || (c >= 123 && c <= 126)) punct += 1
      i += 1
    }
    val n = t.length
    val nTokens = if (n == 0) 0 else spaces + 1
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array[Long](n, nTokens, punct, n - spaces))
  }

  /** Best-scoring language over marker-word hit sums; value-identical to
    * the greatest + foldRight(when) Column formulation (and the oracle's
    * CASE chain): langs come pre-sorted, strict `>` keeps the earliest
    * lang on ties, zero total hits → "und". */
  def langId(s: UTF8String, m: LangModel): UTF8String = {
    val norm = normText(s)
    var best = -1
    var bestScore = 0
    var i = 0
    while (i < m.langs.length) {
      var sc = 0
      var j = 0
      while (j < m.markers(i).length) {
        sc += countWord(norm, m.markers(i)(j))
        j += 1
      }
      if (sc > bestScore) { bestScore = sc; best = i }
      i += 1
    }
    UTF8String.fromString(if (best < 0) "und" else m.langs(best))
  }

  def repStats(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val norm = normText(s).toString
    val words = splitWords(norm)
    val nWords = words.length
    val distinct = new java.util.HashSet[String]()
    var totalWordChars = 0L
    var i = 0
    while (i < nWords) { distinct.add(words(i)); totalWordChars += words(i).length; i += 1 }
    def gramCounts(n: Int): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int]()
      var j = 0
      while (j + n <= nWords) {
        m.merge(joinGram(words, j, n), 1, Integer.sum)
        j += 1
      }
      m
    }
    val bi = gramCounts(2)
    var topBigramChars = 0L
    var totalBigramChars = 0L
    var topGram: String = null
    var topCnt = 0
    val bit = bi.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      totalBigramChars += e.getValue.toLong * e.getKey.length
      if (e.getValue > topCnt ||
          (e.getValue == topCnt && (topGram == null || e.getKey.compareTo(topGram) < 0))) {
        topCnt = e.getValue; topGram = e.getKey
      }
    }
    if (topGram != null) topBigramChars = topCnt.toLong * topGram.length
    val tri = gramCounts(3)
    var dupTrigramChars = 0L
    var totalTrigramChars = 0L
    val tit = tri.entrySet().iterator()
    while (tit.hasNext) {
      val e = tit.next()
      val chars = e.getValue.toLong * e.getKey.length
      totalTrigramChars += chars
      if (e.getValue > 1) dupTrigramChars += chars
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
      nWords.toLong, distinct.size.toLong, totalWordChars,
      topBigramChars, totalBigramChars, dupTrigramChars, totalTrigramChars))
  }

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** [[countWord]] summed over `words`. */
  def countWords(s: UTF8String, words: Array[String]): Int = {
    var n = 0; var i = 0
    while (i < words.length) { n += countWord(s, words(i)); i += 1 }
    n
  }

  /** Count non-overlapping occurrences of `word` bounded by \b on both
    * sides — the integer regexp_replace('\bword\b')-length-difference
    * formula computes. */
  def countWord(s: UTF8String, word: String): Int = {
    val in = s.toString
    val wlen = word.length
    if (wlen == 0) return 0
    var count = 0
    var i = 0
    while (i + wlen <= in.length) {
      if (in.startsWith(word, i) &&
          (i == 0 || !isWordChar(in.charAt(i - 1))) &&
          (i + wlen == in.length || !isWordChar(in.charAt(i + wlen)))) {
        count += 1
        i += wlen
      } else i += 1
    }
    count
  }
}

/** `norm_text(s)` — canonical lowercased whitespace-collapsed text. */
case class NormText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.normText(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.normText($c)")
  override protected def withNewChildInternal(c: Expression): NormText = copy(c)
}

/** `count_word(s, word)` — \b-bounded occurrence count of a literal word. */
case class CountWord(child: Expression, word: String) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.countWord(v.asInstanceOf[UTF8String], word)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("word", word, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.countWord($c, $w)")
  }
  override protected def withNewChildInternal(c: Expression): CountWord = copy(child = c)
}

/** The summed [[CountWord]] counts of several literal words, as one call:
  * a sum of `count_word` calls grows every projection that references it
  * by one call per word. */
case class CountWords(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    words.map(TextKernelOps.countWord(v.asInstanceOf[UTF8String], _)).sum
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ws = ctx.addReferenceObj("words", words.toArray, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.countWords($c, $ws)")
  }
  override protected def withNewChildInternal(c: Expression): CountWords = copy(child = c)
}

/** `simhash60(s)` — 60-bit SimHash of raw text, single-pass codegen. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.simhash60(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.simhash60($c)")
  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(c)
}

/** `rep_stats(s)` — 7 exact-integer repetition statistics, single-pass. */
/** Marker-word language model: langs in SORTED order with their marker
  * word lists — a reference object so the language-ID scan is one kernel
  * call instead of numLangs × numMarkers `count_word` + `when` trees
  * (the literal chain was a large share of a composed pipeline's
  * over-JIT-limit collapsed projection). */
final class LangModel(val langs: Array[String],
                      val markers: Array[Array[String]]) extends Serializable

case class LangIdK(child: Expression, model: LangModel)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.langId(v.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langModel", model, classOf[LangModel].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.langId($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): LangIdK = copy(c)
}

case class TextStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.textStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.textStats($c)")
  override protected def withNewChildInternal(c: Expression): TextStats = copy(c)
}

case class RepStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextKernelOps.repStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernelOps.repStats($c)")
  override protected def withNewChildInternal(c: Expression): RepStats = copy(c)
}

object TextKernels {
  def normText(c: Column): Column =
    ColumnBridge.column(NormText(ColumnBridge.expression(c)))
  def repStats(c: Column): Column =
    ColumnBridge.column(RepStats(ColumnBridge.expression(c)))
  def textStats(c: Column): Column =
    ColumnBridge.column(TextStats(ColumnBridge.expression(c)))
  def langId(c: Column, model: LangModel): Column =
    ColumnBridge.column(LangIdK(ColumnBridge.expression(c), model))
  def countWord(c: Column, word: String): Column =
    ColumnBridge.column(CountWord(ColumnBridge.expression(c), word))
  def countWords(c: Column, words: Seq[String]): Column =
    ColumnBridge.column(CountWords(ColumnBridge.expression(c), words))
  def simhash60(c: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(c)))
}
