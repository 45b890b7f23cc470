package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded text corpus for the `wordcount` workload.
  *
  * Words are drawn from a Zipf(1.1) distribution over a generated
  * vocabulary, written in mixed case, and wrapped in runs of the
  * reference's trim cutset `.,!?"':;()`. Some tokens are pure
  * punctuation (they tokenize to nothing) and some words carry an inner
  * apostrophe (which survives the trim). Because every emitted token
  * carries a known vocabulary word, the generator knows the exact word
  * counts the tokenizer must produce. */
object Corpus {
  val Cutset = ".,!?\"':;()"

  final case class Generated(files: Seq[Path], bytes: Long, tokens: Long,
                             counts: Map[String, Long])

  /** The reference tokenizer (Go `strings.Fields` + `strings.Trim` of the
    * cutset + lowercase), written independently of the library. */
  def goldenTokens(text: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && isSpace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(text.charAt(i))) i += 1
      if (i > start) {
        var a = start
        var b = i
        while (a < b && Cutset.indexOf(text.charAt(a)) >= 0) a += 1
        while (b > a && Cutset.indexOf(text.charAt(b - 1)) >= 0) b -= 1
        if (b > a) out += text.substring(a, b).toLowerCase(java.util.Locale.ROOT)
      }
    }
    out.toSeq
  }

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000b'

  /** Word lengths follow the rank, not the seed: under Zipf a few top
    * words make up much of the text, so seeded lengths would change the
    * tokens per byte, and with it the work, by over 10 % between seeds.
    * The seed picks the letters. */
  private def vocabulary(rnd: SplittableRandom, size: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val rank = seen.size
      val len = 3 + rank % 8
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      // one word in forty keeps an inner apostrophe, as in "don't"
      if (len > 3 && rank % 40 == 7) sb.insert(1 + rnd.nextInt(len - 2), '\'')
      seen += sb.toString
    }
    seen.toArray
  }

  /** Cumulative Zipf(s) weights over `n` ranks. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def punctRun(rnd: SplittableRandom, sb: StringBuilder): Unit = {
    val len = 1 + rnd.nextInt(3)
    (0 until len).foreach(_ => sb.append(Cutset.charAt(rnd.nextInt(Cutset.length))))
  }

  private def mixCase(rnd: SplittableRandom, w: String): String = rnd.nextInt(20) match {
    case 0 | 1 | 2 | 3 => w.capitalize
    case 4 => w.toUpperCase(java.util.Locale.ROOT)
    case 5 => w.map(c => if (rnd.nextBoolean()) c.toUpper else c)
    case _ => w
  }

  /** Render the text of one file; adds the words it emits to `counts`. */
  def render(rnd: SplittableRandom, vocab: Array[String], cdf: Array[Double],
             targetBytes: Int, counts: mutable.HashMap[String, Long]): (String, Long) = {
    val sb = new StringBuilder(targetBytes + 64)
    var tokens = 0L
    var onLine = 0
    while (sb.length < targetBytes) {
      if (rnd.nextInt(50) == 0) {
        punctRun(rnd, sb) // a token that trims to nothing
      } else {
        val w = vocab(pick(cdf, rnd.nextDouble()))
        if (rnd.nextInt(10) == 0) punctRun(rnd, sb)
        sb.append(mixCase(rnd, w))
        if (rnd.nextInt(4) == 0) punctRun(rnd, sb)
        counts.update(w, counts.getOrElse(w, 0L) + 1L)
        tokens += 1
      }
      onLine += 1
      if (onLine >= 8 + rnd.nextInt(10)) {
        sb.append('\n')
        onLine = 0
        if (rnd.nextInt(8) == 0) sb.append('\t')
      } else sb.append(if (rnd.nextInt(30) == 0) "  " else " ")
    }
    sb.append('\n')
    (sb.toString, tokens)
  }

  /** Write `nFiles` files of about `bytesPerFile` bytes each under `dir`. */
  def generate(seed: Long, dir: Path, nFiles: Int, bytesPerFile: Int,
               vocabSize: Int = 20000): Generated = {
    val rnd = new SplittableRandom(seed)
    val vocab = vocabulary(rnd, vocabSize)
    val cdf = zipfCdf(vocab.length, 1.1)
    val counts = mutable.HashMap.empty[String, Long]
    Files.createDirectories(dir)
    var bytes = 0L
    var tokens = 0L
    val files = (0 until nFiles).map { i =>
      val (text, n) = render(rnd, vocab, cdf, bytesPerFile, counts)
      val raw = text.getBytes(StandardCharsets.UTF_8)
      val p = dir.resolve(f"part-$i%03d.txt")
      Files.write(p, raw)
      bytes += raw.length
      tokens += n
      p
    }
    Generated(files, bytes, tokens, counts.toMap)
  }
}
