package graft.functions

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass tokenization kernels.
  *
  * Same rationale as [[SketchFunctions]]: Spark's lambda higher-order
  * functions (`transform`/`filter` with `element_at`) evaluate interpreted —
  * one boxed call per token — which made the bigram build the single most
  * expensive query in the round-1 bench (10 s of a 36 s total at sf0.1,
  * for what is pure map-side work). These kernels tokenize the UTF-8 bytes
  * once in a tight loop and emit exactly what the query needs.
  *
  * Tokenization contract (shared by every kernel here): a token is a
  * maximal run of bytes not in Java regex `\s` = [ \t\n\x0B\f\r] — i.e.
  * identical to `filter(split(col, "\\s+"), t => t =!= "")`, which both
  * the round-1 Spark queries and the DuckDB oracles
  * (`list_filter(regexp_split_to_array(...), x -> x <> '')`) use. All the
  * `\s` class members are single-byte ASCII, so byte scanning is exact on
  * UTF-8 input.
  */
object TextFunctions {

  /** `array(string)` of the reference word-count tokens, in text order:
    * whitespace tokens with runs of `.,!?"':;()` trimmed from both
    * ends, lowercased, empties dropped — see [[WordTokens]]. */
  def wordTokens(c: Column): Column =
    ColumnBridge.column(WordTokens(ColumnBridge.expression(c)))

  /** `array(long)`: element 0 is the total token count; element i+1 is the
    * number of tokens contained in `sets(i)`. One pass for what was
    * previously 1 + sets.length interpreted `filter(split(...))` scans. */
  def tokenSetCounts(c: Column, sets: Seq[Seq[String]]): Column =
    ColumnBridge.column(TokenSetCounts(ColumnBridge.expression(c), sets))

  /** `array(string)` of space-joined consecutive token pairs; empty for
    * documents with fewer than two tokens. */
  def tokenNgrams(c: Column, n: Int): Column =
    ColumnBridge.column(TokenNgrams(ColumnBridge.expression(c), n))

  def tokenBigrams(c: Column): Column =
    ColumnBridge.column(TokenBigrams(ColumnBridge.expression(c)))

  /** `array(long)` of `[n_chars, n_tokens, n_punct, n_digits,
    * n_nonspace]` in ONE byte scan. The composed-built-ins formulation
    * ran three `regexp_replace` passes per document — each building a
    * full replaced copy of the text just to take its length. */
  def textStatsCounts(c: Column): Column =
    ColumnBridge.column(TextStatsCounts(ColumnBridge.expression(c)))

  /** `struct<clean_text string, kept long>`: the tokens whose index
    * falls OUTSIDE every `[start_tok, end_tok]` span, re-joined
    * single-spaced, plus the survivor count — the dd_excise splice in
    * one unboxed pass (see [[SpliceTokens]]). */
  def spliceTokens(tokens: Column, spans: Column): Column =
    ColumnBridge.column(SpliceTokens(
      ColumnBridge.expression(tokens), ColumnBridge.expression(spans)))

  /** `array(string)` of space-joined TUMBLING `width`-token windows
    * (the last window may be shorter) — the segment granularity for
    * cross-document duplicated-passage removal. */
  def tokenSegments(c: Column, width: Int): Column =
    ColumnBridge.column(TokenSegments(ColumnBridge.expression(c), width))

  /** `long`: byte length of the zlib-deflated UTF-8 text — the
    * compression-ratio quality signal's kernel. */
  def deflateLen(c: Column): Column =
    ColumnBridge.column(DeflatedLen(ColumnBridge.expression(c)))

  /** `double`: Shannon entropy (bits) of the text's codepoint unigram
    * distribution — the "gibberish or template boilerplate" quality
    * signal (low = repeated chars, high = random noise). Matches
    * DuckDB `entropy(unnest(string_split(text, '')))`: log2 base,
    * codepoint granularity, empty text → 0.0. */
  def charEntropy(c: Column): Column =
    ColumnBridge.column(CharEntropy(ColumnBridge.expression(c)))

  /** `struct<n_tokens: long, llr: double>`: token count and summed
    * per-token DSIR log-likelihood ratio under a FROZEN 4096-bucket
    * hashed-unigram LM table — the map-side scoring form of
    * `TextAnalysis.dsir` (tokenize + md5-bucket + table lookup in one
    * pass, no explode, no join, no state). Input must be the LOWERED
    * text so buckets match the batch path's `md5(tok)` exactly. */
  def dsirLlr(c: Column, llrTable: Seq[Double]): Column =
    ColumnBridge.column(DsirLlr(ColumnBridge.expression(c), llrTable))

  /** `array(long)` `[top2, dup2, top3, dup3, …, top10, dup10]`: char
    * masses of the most-frequent and of all duplicated word n-grams,
    * every n in 2..10 from ONE tokenization pass — the Gopher
    * repetition battery's kernel. */
  def ngramRepMass(c: Column): Column =
    ColumnBridge.column(NgramRepMass(ColumnBridge.expression(c)))

  /** `array(long)` of the eight Gopher-rule raw counts — see
    * [[GopherCounts]] for slot layout. */
  def gopherCounts(c: Column): Column =
    ColumnBridge.column(GopherCounts(ColumnBridge.expression(c)))

  /** `array(long)` of FNV-1a 64 hashes of content-defined chunks —
    * see [[CdcChunks]]. */
  def cdcChunks(c: Column, window: Int = 16, mask: Long = 0x3fL,
                minLen: Int = 32, maxLen: Int = 256): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(c), window, mask, minLen, maxLen))
}

private[functions] object Tokenize {
  @inline def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= 9 && b <= 13) // \t \n \x0B \f \r

  /** Calls f(start, end) for each maximal non-space byte run. */
  @inline def foreachToken(bytes: Array[Byte])(f: (Int, Int) => Unit): Unit = {
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      val start = i
      while (i < n && !isSpace(bytes(i))) i += 1
      if (i > start) f(start, i)
    }
  }
}

/** See [[TextFunctions.wordTokens]]. The word-count tokenizer of the
  * reference (`wordcount.go:10-22`: `strings.Fields`, `strings.Trim` of
  * the cutset, lowercase, drop empty) in one byte scan, replacing a
  * regex split plus a regex replace and a `lower` per token.
  *
  * The trim follows Go's `strings.Trim` (and the oracle's RE2 `$`): a
  * token ends where its bytes end. Java's `$` also matches before a
  * final U+0085, U+2028 or U+2029, so the regex form stripped the `.`
  * from `end.` followed by U+2028; this kernel keeps it. Lowercasing is
  * [[WordTokens.lower]]. */
case class WordTokens(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_tokens"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any](bytes.length / 8 + 1)
    val words = new WordTokens.Scanner(bytes)
    while (words.next()) out += WordTokens.lower(bytes, words.start, words.end)
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WordTokens =
    copy(child = c)
}

/** The scanner behind [[WordTokens]], shared with
  * [[graft.mr.WordCountMapper]] so the two word-count paths cannot
  * drift apart. Every byte it tests is ASCII, so scanning is exact on
  * UTF-8 input. */
object WordTokens {
  @inline private def isCut(b: Byte): Boolean = b match {
    case '.' | ',' | '!' | '?' | '"' | '\'' | ':' | ';' | '(' | ')' => true
    case _ => false
  }

  /** Cursor over the words of `bytes`: each whitespace token (the `\s`
    * contract of [[Tokenize]]) with cutset runs trimmed from both ends;
    * tokens that trim to nothing are skipped. A cursor, not a callback,
    * so the mapper can hand out its words lazily. */
  final class Scanner(bytes: Array[Byte]) {
    private var i = 0
    /** The current word is `bytes[start, end)`. */
    var start = 0
    var end = 0

    /** Advances to the next word; false when there is none. */
    def next(): Boolean = {
      val n = bytes.length
      while (i < n) {
        while (i < n && Tokenize.isSpace(bytes(i))) i += 1
        var s = i
        while (i < n && !Tokenize.isSpace(bytes(i))) i += 1
        var e = i
        while (s < e && isCut(bytes(s))) s += 1
        while (e > s && isCut(bytes(e - 1))) e -= 1
        if (e > s) { start = s; end = e; return true }
      }
      false
    }
  }

  /** The token `bytes[s, e)` lowercased. A lowercase ASCII token is
    * returned as a view of `bytes`; other ASCII tokens are lowered byte
    * by byte; any other token goes through the ICU case mapping
    * Spark's `lower` applies (`spark.sql.icu.caseMappings.enabled`,
    * on by default), pinned to the root locale so that no result
    * depends on the JVM's default locale. Java's
    * `String.toLowerCase(Locale.ROOT)` is not used: it places the
    * final sigma differently (`QΣ"` lowers to `qσ"`, ICU and Spark give
    * `qς"`). */
  def lower(bytes: Array[Byte], s: Int, e: Int): UTF8String = {
    var i = s
    while (i < e && bytes(i) >= 0 && (bytes(i) < 'A' || bytes(i) > 'Z')) i += 1
    if (i == e) return UTF8String.fromBytes(bytes, s, e - s)
    val out = new Array[Byte](e - s)
    System.arraycopy(bytes, s, out, 0, i - s)
    while (i < e) {
      val b = bytes(i)
      if (b < 0) return UTF8String.fromString(UCharacter.toLowerCase(ULocale.ROOT,
        UTF8String.fromBytes(bytes, s, e - s).toValidString))
      out(i - s) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** See [[TextFunctions.tokenSetCounts]]. Membership sets are materialized
  * once per executor as UTF8String hash sets. */
case class TokenSetCounts(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_token_set_counts"

  @transient private lazy val hashSets: Array[java.util.HashSet[UTF8String]] =
    sets.map { words =>
      val s = new java.util.HashSet[UTF8String](words.size * 2)
      words.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val counts = new Array[Long](hashSets.length + 1)
    Tokenize.foreachToken(bytes) { (start, end) =>
      counts(0) += 1
      if (hashSets.length > 0) {
        val tok = UTF8String.fromBytes(bytes, start, end - start)
        var s = 0
        while (s < hashSets.length) {
          if (hashSets(s).contains(tok)) counts(s + 1) += 1
          s += 1
        }
      }
    }
    new GenericArrayData(counts)
  }
  override protected def withNewChildInternal(c: Expression): TokenSetCounts =
    copy(child = c)
}

/** See [[TextFunctions.textStatsCounts]]. Character counts are derived
  * from the UTF-8 byte stream: code points = non-continuation bytes
  * (equal to `length()` in both Spark and DuckDB), and every counted
  * class (Java-regex `\s`, `[.,!?;:]`, `[0-9]`) is single-byte ASCII,
  * so byte tests are exact on multi-byte text. */
case class TextStatsCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_text_stats"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var chars = 0L; var tokens = 0L; var punct = 0L; var digits = 0L; var spaces = 0L
    var inTok = false
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) chars += 1 // not a UTF-8 continuation byte
      if (Tokenize.isSpace(b)) {
        spaces += 1
        inTok = false
      } else {
        if (!inTok) { tokens += 1; inTok = true }
        if (b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':') punct += 1
        else if (b >= '0' && b <= '9') digits += 1
      }
      i += 1
    }
    new GenericArrayData(Array(chars, tokens, punct, digits, chars - spaces))
  }
  override protected def withNewChildInternal(c: Expression): TextStatsCounts =
    copy(child = c)
}

/** See [[TextFunctions.tokenBigrams]]. */
case class TokenBigrams(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_bigrams"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    // primitive offset arrays, pre-sized to the worst case (a token
    // needs ≥1 byte + separator → ≤ (len+1)/2 tokens): the kernel
    // exists to avoid per-token boxing, so no ArrayList[Integer] here
    val maxToks = bytes.length / 2 + 1
    val starts = new Array[Int](maxToks)
    val ends = new Array[Int](maxToks)
    var n = 0
    Tokenize.foreachToken(bytes) { (s, e) => starts(n) = s; ends(n) = e; n += 1 }
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      val l1 = ends(i) - starts(i)
      val l2 = ends(i + 1) - starts(i + 1)
      val buf = new Array[Byte](l1 + 1 + l2)
      System.arraycopy(bytes, starts(i), buf, 0, l1)
      buf(l1) = ' '
      System.arraycopy(bytes, starts(i + 1), buf, l1 + 1, l2)
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TokenBigrams =
    copy(child = c)
}

/** Word n-grams joined with single spaces — [[TokenBigrams]]
  * generalized to arbitrary n (kept separate so the bigram kernel's
  * pinned contract stays untouched). Same one-pass offset scan over
  * the UTF-8 bytes; a doc with fewer than n tokens yields an empty
  * array. Used by the decontamination operator
  * ([[graft.operators.TextAnalysis.contamination]]). */
case class TokenNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_ngrams"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val maxToks = bytes.length / 2 + 1
    val starts = new Array[Int](maxToks)
    val ends = new Array[Int](maxToks)
    var nt = 0
    Tokenize.foreachToken(bytes) { (s, e) => starts(nt) = s; ends(nt) = e; nt += 1 }
    if (nt < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nt - n + 1)
    var i = 0
    while (i <= nt - n) {
      var len = n - 1 // separators
      var j = 0
      while (j < n) { len += ends(i + j) - starts(i + j); j += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val l = ends(i + j) - starts(i + j)
        System.arraycopy(bytes, starts(i + j), buf, pos, l)
        pos += l
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TokenNgrams =
    copy(child = c)
}

/** Tumbling `width`-token windows joined with single spaces — the
  * non-overlapping counterpart of [[TokenNgrams]] (an n-gram slides by
  * one token; a segment jumps by `width`, so each token lands in
  * exactly one segment). The last segment keeps whatever tokens remain
  * (1..width). Same one-pass offset scan; empty/blank input yields an
  * empty array. Used by the RefinedWeb-style duplicated-passage
  * remover ([[graft.operators.Dedup.segmentDedup]]). */
case class TokenSegments(child: Expression, width: Int)
    extends UnaryExpression with CodegenFallback {
  require(width >= 1, s"width must be positive, got $width")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_token_segments"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val maxToks = bytes.length / 2 + 1
    val starts = new Array[Int](maxToks)
    val ends = new Array[Int](maxToks)
    var nt = 0
    Tokenize.foreachToken(bytes) { (s, e) => starts(nt) = s; ends(nt) = e; nt += 1 }
    if (nt == 0) return new GenericArrayData(Array.empty[Any])
    val nSeg = (nt + width - 1) / width
    val out = new Array[Any](nSeg)
    var g = 0
    while (g < nSeg) {
      val i0 = g * width
      val i1 = math.min(nt, i0 + width)
      var len = i1 - i0 - 1 // separators
      var j = i0
      while (j < i1) { len += ends(j) - starts(j); j += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      j = i0
      while (j < i1) {
        if (j > i0) { buf(pos) = ' '; pos += 1 }
        val l = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), buf, pos, l)
        pos += l
        j += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TokenSegments =
    copy(child = c)
}

/** Byte length of the zlib-deflated input — the Gopher/Dolma
  * compression-ratio quality signal (highly repetitive boilerplate
  * deflates far below natural text). Emits only the LENGTH: the
  * compressed bytes are produced into a scratch buffer and discarded,
  * so no row ever carries a compressed copy. The Deflater (native
  * zlib) is reused per thread via a ThreadLocal — allocation per row
  * would dominate — and is never `end()`ed: one native context per
  * executor thread for the executor's lifetime is the standard,
  * bounded trade. Level pinned (6) so the signal is stable across
  * sessions on the same JVM/zlib. */
case class DeflatedLen(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_deflate_len"

  override protected def nullSafeEval(v: Any): Any =
    DeflatedLen.deflatedLen(v.asInstanceOf[UTF8String].getBytes)
  override protected def withNewChildInternal(c: Expression): DeflatedLen =
    copy(child = c)
}

object DeflatedLen {
  final val Level = 6
  private val deflaters: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(Level))
  private val scratch: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](8192))

  def deflatedLen(bytes: Array[Byte]): Long = {
    val d = deflaters.get()
    val buf = scratch.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** See [[TextFunctions.charEntropy]]. One pass over the decoded
  * codepoints: ASCII counts slot into a 128-long array; the rare
  * non-ASCII codepoint falls back to a map allocated only when first
  * needed. H = -Σ (c/n)·log2(c/n), accumulated in deterministic slot
  * order (consumers floor-truncate before comparing cross-engine, so
  * summation-order ulps never reach the oracle grid). */
case class CharEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_char_entropy"

  override protected def nullSafeEval(v: Any): Any =
    CharEntropy.entropyBits(v.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): CharEntropy =
    copy(child = c)
}

object CharEntropy {
  private val Log2 = math.log(2.0)

  def entropyBits(s: String): Double = {
    if (s.isEmpty) return 0.0
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1L
      else {
        if (other == null) other = new java.util.HashMap
        val slot = other.get(cp)
        if (slot == null) other.put(cp, Array(1L)) else slot(0) += 1L
      }
      n += 1L
      i += Character.charCount(cp)
    }
    val nd = n.toDouble
    var h = 0.0
    var j = 0
    while (j < 128) {
      if (ascii(j) > 0L) {
        val p = ascii(j) / nd
        h -= p * (math.log(p) / Log2)
      }
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val p = it.next()(0) / nd
        h -= p * (math.log(p) / Log2)
      }
    }
    h
  }
}

/** One-pass raw counts for the Gopher document-structure quality rules
  * (Rae et al. 2021, "Scaling Language Models: ... Gopher", appendix
  * A1.1). Slot layout of the returned `array<long>`:
  *
  *  - 0: n_words — whitespace tokens (strings.Fields semantics)
  *  - 1: sum_word_chars — total word length in UNICODE CODE POINTS
  *    (non-continuation UTF-8 bytes), matching SQL `length()`
  *  - 2: n_alpha_words — words containing ≥1 ASCII letter
  *  - 3: n_stop_distinct — how many DISTINCT words of Gopher's 8-word
  *    stop list {the, be, to, of, and, that, have, with} appear as
  *    exact (case-folded) tokens
  *  - 4: n_symbols — '#' characters + '…' (U+2026) characters
  *  - 5: n_lines — newline-separated segments (empty text = 1 line,
  *    matching SQL `string_split`)
  *  - 6: n_bullet_lines — lines whose first non-blank char is '-',
  *    '*', or '•' (U+2022)
  *  - 7: n_ellipsis_lines — lines ending (ignoring trailing blanks)
  *    with "..." or '…'
  *
  * All eight in two byte scans (token pass + line pass), no regex, no
  * intermediate arrays; the ratios and pass/fail flags derive in plain
  * column arithmetic so DuckDB can replicate them exactly. */
case class GopherCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gopher_counts"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val out = new Array[Long](8)
    var stopMask = 0
    // token pass: words, chars, alpha, stop list, symbols
    Tokenize.foreachToken(bytes) { (s, e) =>
      out(0) += 1
      var chars = 0L
      var alpha = false
      var i = s
      while (i < e) {
        val b = bytes(i)
        if ((b & 0xC0) != 0x80) chars += 1
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha = true
        i += 1
      }
      out(1) += chars
      if (alpha) out(2) += 1
      stopMask |= GopherCounts.stopBit(bytes, s, e)
    }
    out(3) = java.lang.Integer.bitCount(stopMask).toLong
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == '#') out(4) += 1
      else if (b == 0xE2.toByte && i + 2 < n &&
               bytes(i + 1) == 0x80.toByte && bytes(i + 2) == 0xA6.toByte)
        out(4) += 1
      i += 1
    }
    // line pass
    out(5) = 1L
    var lineStart = 0
    i = 0
    while (i <= n) {
      if (i == n || bytes(i) == '\n') {
        GopherCounts.classifyLine(bytes, lineStart, i, out)
        if (i < n) { out(5) += 1; lineStart = i + 1 }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): GopherCounts =
    copy(child = c)
}

object GopherCounts {
  /** Gopher's stop list, A1.1: a document must contain ≥2 of these. */
  final val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  @inline private def isBlank(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\r'

  /** Bit for the stop word `bytes[s,e)` case-folds to, else 0. */
  private[functions] def stopBit(bytes: Array[Byte], s: Int, e: Int): Int = {
    val len = e - s
    var w = 0
    while (w < StopWords.length) {
      val sw = StopWords(w)
      if (sw.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) {
          val b = bytes(s + i)
          val lc = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
          if (lc != sw.charAt(i).toByte) ok = false
          i += 1
        }
        if (ok) return 1 << w
      }
      w += 1
    }
    0
  }

  /** Classify the line `bytes[s,e)` into bullet / ellipsis counters. */
  private[functions] def classifyLine(bytes: Array[Byte], s: Int, e: Int,
                                      out: Array[Long]): Unit = {
    var a = s
    while (a < e && isBlank(bytes(a))) a += 1
    var b = e
    while (b > a && isBlank(bytes(b - 1))) b -= 1
    if (a >= b) return
    val c = bytes(a)
    if (c == '-' || c == '*') out(6) += 1
    else if (c == 0xE2.toByte && a + 2 < b &&
             bytes(a + 1) == 0x80.toByte && bytes(a + 2) == 0xA2.toByte)
      out(6) += 1
    if (b - a >= 3 && bytes(b - 1) == '.' && bytes(b - 2) == '.' &&
        bytes(b - 3) == '.')
      out(7) += 1
    else if (b - a >= 3 && bytes(b - 3) == 0xE2.toByte &&
             bytes(b - 2) == 0x80.toByte && bytes(b - 1) == 0xA6.toByte)
      out(7) += 1
  }
}

/** Content-defined chunking (CDC) — the alignment-independent span
  * primitive of dedup storage (rsync/LBFS-style) and exact-substring
  * corpus dedup: chunk boundaries are chosen where the polynomial
  * rolling hash of the last `window` bytes masks to zero, so a shared
  * passage produces the SAME interior chunks in every document that
  * contains it, at ANY byte offset. (Fixed-stride windows — the
  * tumbling-segment family — only match when two documents happen to
  * align on the stride; content-defined cuts are what make cross-doc
  * span detection offset-proof.) Emits the FNV-1a 64 hash of each
  * chunk's bytes as `array<long>`; chunk lengths are clamped to
  * [minLen, maxLen] (cut-rule hits inside minLen are skipped, maxLen
  * forces a cut), the standard CDC bound that keeps both the explode
  * factor and the chunk-size distribution predictable. One pass, no
  * allocation beyond the output array. Mask 0x3F ⟹ expected chunk
  * ≈ 64 bytes + minLen. */
case class CdcChunks(child: Expression, window: Int = 16,
                     mask: Long = 0x3fL, minLen: Int = 32, maxLen: Int = 256)
    extends UnaryExpression with CodegenFallback {
  require(window >= 1 && minLen >= window && maxLen > minLen,
    s"need window >= 1 <= minLen < maxLen, got $window/$minLen/$maxLen")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val bounds = CdcChunks.boundaries(bytes, window, mask, minLen, maxLen)
    val out = new Array[Any](bounds.length - 1)
    var i = 0
    while (i < bounds.length - 1) {
      out(i) = HashFunctions.fnv1a64Bytes(bytes, bounds(i), bounds(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

object CdcChunks {
  /** Chunk boundary offsets for `bytes` — always starts with 0 and
    * ends with `bytes.length` (empty input ⟹ Array(0) ⟹ zero
    * chunks). Exposed for the spec's partition/cut-rule property
    * checks. A position p (exclusive end of a chunk) is a cut iff the
    * rolling hash of bytes [p-window, p) masks to zero AND the chunk
    * would be ≥ minLen; maxLen forces a cut regardless. */
  def boundaries(bytes: Array[Byte], window: Int, mask: Long,
                 minLen: Int, maxLen: Int): Array[Int] = {
    val n = bytes.length
    val buf = scala.collection.mutable.ArrayBuffer(0)
    // precomputed 257^(window-1) for the rolling update
    var pow = 1L
    var k = 1
    while (k < window) { pow *= 257L; k += 1 }
    var start = 0
    var h = 0L
    var i = 0
    while (i < n) {
      h = if (i - start < window) h * 257L + (bytes(i) & 0xff)
      else (h - (bytes(i - window) & 0xff) * pow) * 257L + (bytes(i) & 0xff)
      val len = i - start + 1
      if (len >= maxLen || (len >= minLen && (h & mask) == 0L)) {
        buf += i + 1
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (buf.last != n) buf += n
    buf.toArray
  }
}

/** Char-mass statistics of repeated word n-grams for EVERY n in 2..10
  * in one tokenization pass — the kernel behind the Gopher repetition
  * battery ([[graft.operators.TextAnalysis.withRepetitionSignals]]).
  * Emits `[top2, dup2, top3, dup3, …, top10, dup10]` where
  *
  *  - `top_n` = count × char-length of the most frequent n-gram
  *    (count ties break toward the longer gram; equal (count, length)
  *    ties carry identical mass, so no further break is needed), and
  *  - `dup_n` = Σ count × char-length over n-grams occurring ≥ 2 times.
  *
  * Char length is CODE POINTS (counted as non-continuation UTF-8
  * bytes), matching `length()` and the DuckDB oracle's `length()`.
  * Grams are keyed on a normalized single-space-joined token stream,
  * so tab/newline/run-of-space separators cannot distinguish equal
  * token sequences; keys are zero-copy [[UTF8String]] windows over
  * that stream. Replaces a `functions.aggregate` run-length fold over
  * nine sorted TokenNgrams arrays: the fold evaluated five interpreted
  * Catalyst expressions per array element, which made tx_gopher_rep
  * the slowest query in the registry (7.6 s at sf0.1 vs ~0.4 s for
  * this kernel — the same interpreted-HOF lesson as the round-1
  * bigram build, see the file header). */
case class NgramRepMass(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_rep_mass"

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val maxToks = bytes.length / 2 + 1
    val starts = new Array[Int](maxToks)
    val ends = new Array[Int](maxToks)
    var nt = 0
    Tokenize.foreachToken(bytes) { (s, e) => starts(nt) = s; ends(nt) = e; nt += 1 }
    val out = new Array[Long](18)
    if (nt >= 2) {
      // normalized stream: tokens joined by single spaces; per-token
      // code-point counts collected in the same copy pass
      var normLen = nt - 1
      var i = 0
      while (i < nt) { normLen += ends(i) - starts(i); i += 1 }
      val norm = new Array[Byte](normLen)
      val nStarts = new Array[Int](nt)
      val nEnds = new Array[Int](nt)
      val charLens = new Array[Int](nt)
      var pos = 0
      i = 0
      while (i < nt) {
        if (i > 0) { norm(pos) = ' '; pos += 1 }
        nStarts(i) = pos
        var cp = 0
        var j = starts(i)
        while (j < ends(i)) {
          val b = bytes(j)
          norm(pos) = b
          if ((b & 0xc0) != 0x80) cp += 1
          pos += 1
          j += 1
        }
        nEnds(i) = pos
        charLens(i) = cp
        i += 1
      }
      var n = 2
      while (n <= 10 && nt >= n) {
        // value = [count, gramCharLen]
        val counts = new java.util.HashMap[UTF8String, Array[Int]](nt * 2)
        var k = 0
        while (k <= nt - n) {
          val off = nStarts(k)
          val key = UTF8String.fromBytes(norm, off, nEnds(k + n - 1) - off)
          val cur = counts.get(key)
          if (cur == null) {
            var cl = n - 1
            var t = k
            while (t < k + n) { cl += charLens(t); t += 1 }
            counts.put(key, Array(1, cl))
          } else cur(0) += 1
          k += 1
        }
        var topCnt = 0L
        var topLen = 0L
        var dup = 0L
        val it = counts.values().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e(0).toLong
          val cl = e(1).toLong
          if (c > topCnt || (c == topCnt && cl > topLen)) { topCnt = c; topLen = cl }
          if (c >= 2L) dup += c * cl
        }
        out((n - 2) * 2) = topCnt * topLen
        out((n - 2) * 2 + 1) = dup
        n += 1
      }
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): NgramRepMass =
    copy(child = c)
}

/** See [[TextFunctions.dsirLlr]]. The bucket of a token is the value
  * of the first 3 hex chars of its md5 — computed here from the top 12
  * bits of the digest, bit-identical to the SQL path's
  * `conv(substring(md5(tok), 1, 3), 16, 10)`. Table entries are the
  * SAME doubles the SQL scoring join produces (one ln per bucket,
  * identical operand order), so kernel and SQL scores agree to the
  * truncation grid. One MessageDigest per eval call (thread-safety);
  * ~32 KB of plan literal for the 4096-entry table. */
case class DsirLlr(child: Expression, llrTable: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  require(llrTable.length == 4096,
    s"DsirLlr table must cover the 3-hex-char bucket domain, got ${llrTable.length}")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_tokens", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("llr",
      org.apache.spark.sql.types.DoubleType, nullable = false)))
  override def prettyName: String = "graft_dsir_llr"

  @transient private lazy val table: Array[Double] = llrTable.toArray

  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0.0
    Tokenize.foreachToken(bytes) { (start, end) =>
      md.reset()
      md.update(bytes, start, end - start)
      val d = md.digest()
      val bucket = ((d(0) & 0xff) << 4) | ((d(1) & 0xff) >>> 4)
      sum += table(bucket)
      n += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, sum)
  }
  override protected def withNewChildInternal(c: Expression): DsirLlr =
    copy(child = c)
}

/** The dd_excise splice as one unboxed pass: drop every token whose
  * index falls inside any `[start_tok, end_tok]` span (inclusive,
  * matching the HOF formulation
  * `filter(toks, (t, i) -> NOT exists(spans, sp -> i BETWEEN ...))`
  * it replaces — which paid an interpreted lambda invocation per
  * token × span probe) and re-join the survivors single-spaced.
  * Returns `struct<clean_text string, kept long>` so the caller gets
  * the survivor count without a second pass over the array. Spans may
  * arrive unsorted and overlapping (collect_list order is arbitrary):
  * the kernel sorts by start once, then walks tokens with a single
  * span pointer — a span is only skipped once its end has passed, so
  * nested/overlapping spans resolve correctly. A NULL span array
  * means "no spans" (splice nothing), NOT a null result — which is
  * why this overrides eval instead of relying on BinaryExpression's
  * null propagation. */
case class SpliceTokens(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("clean_text", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("kept", LongType, nullable = false)))
  override def prettyName: String = "graft_splice_tokens"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) return null
    val toks = t.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val s = right.eval(input)
    val spans: Array[Array[Long]] =
      if (s == null) Array.empty
      else {
        val sd = s.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val m = sd.numElements()
        val buf = new Array[Array[Long]](m)
        var i = 0
        var k = 0
        while (i < m) {
          // a null span ELEMENT — or a span with a null begin/end
          // FIELD (getLong on a null field reads 0 and would silently
          // turn the span into [0, end]) — is a no-op span, matching
          // the replaced HOF formulation's totality (its null
          // predicate dropped such spans) — maximalSpans never emits
          // either, but the kernel is exposed via
          // TextFunctions.spliceTokens to arbitrary callers
          if (!sd.isNullAt(i)) {
            val row = sd.getStruct(i, 2)
            if (!row.isNullAt(0) && !row.isNullAt(1)) {
              buf(k) = Array(row.getLong(0), row.getLong(1))
              k += 1
            }
          }
          i += 1
        }
        val arr = if (k == m) buf else java.util.Arrays.copyOf(buf, k)
        java.util.Arrays.sort(arr, java.util.Comparator.comparingLong((a: Array[Long]) => a(0)))
        arr
      }
    val n = toks.numElements()
    val kept = new java.util.ArrayList[UTF8String](n)
    var si = 0
    var i = 0
    while (i < n) {
      while (si < spans.length && spans(si)(1) < i) si += 1
      val covered = si < spans.length && spans(si)(0) <= i && i <= spans(si)(1)
      if (!covered) kept.add(toks.getUTF8String(i))
      i += 1
    }
    val joined = UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size)): _*)
    org.apache.spark.sql.catalyst.InternalRow(joined, kept.size.toLong)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SpliceTokens =
    copy(left = l, right = r)
}
