package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import graft.mr.WordCountMapper

/** Checks of the benchmark itself, printed as one JSON object; run by
  * `perfbench/test_perfbench.py`.
  *
  * Usage: perfbench.SelfTest <work dir> <cpus> */
object SelfTest {
  private def digest(files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map(b => f"$b%02x").mkString
  }

  val tokenizerCases: Seq[String] = Seq(
    "Hello, World!", "((Quoted)) \"text\"...", "don't STOP'", "MiXeD cAsE wOrDs",
    "...!!!", "a.b,c", "  leading\tand\ttabs  ", "'''", ";;semi;; (paren)", "end?!\n\nnext",
    "!?\"':;()x(),.", "UPPER. lower, Title!")

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0)).toAbsolutePath
    val cpus = args.lift(1).map(_.toInt).getOrElse(2)
    val a = Corpus.generate(7L, work.resolve("gen-a"), 3, 64 << 10)
    val b = Corpus.generate(7L, work.resolve("gen-b"), 3, 64 << 10)
    val c = Corpus.generate(8L, work.resolve("gen-c"), 3, 64 << 10)

    // the golden tokenizer against the library's mapper, on hand-written
    // cases and on every line of a generated file
    val lines = tokenizerCases ++ new String(Files.readAllBytes(a.files.head)).split("\n").toSeq
    val disagree = lines.filter(l =>
      Corpus.goldenTokens(l) != WordCountMapper.map("t", l).map(_._1).toSeq)
    val goldenCounts = a.files.flatMap(f => Corpus.goldenTokens(new String(Files.readAllBytes(f))))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

    // a traced pass submits the same Spark jobs as an untraced one
    val conf = Main.Conf("wordcount", 7L, 0.0, trace = true, work.resolve("wc"), "",
      work.resolve("wc-result.json"), cpus)
    val wl = new WordCountWorkload(conf)
    wl.buildSession()
    wl.stage()
    val counter = new JobCounter
    wl.spark.sparkContext.addSparkListener(counter)
    def jobsOfPass(traced: Boolean): Long = {
      wl.counters.drain()
      val j0 = counter.started.get()
      if (traced) wl.counters.register(wl.spark) else wl.counters.unregister(wl.spark)
      wl.tracer.enabled = traced
      wl.ops.foreach(op => wl.tracer.span(op.name, "pass")(op.execute(op.construct())))
      wl.counters.drain()
      counter.started.get() - j0
    }
    jobsOfPass(traced = false) // warm-up
    val untraced = jobsOfPass(traced = false)
    val traced = jobsOfPass(traced = true)
    wl.stop()

    // the harness's quantiles, compared with Python's statistics.quantiles
    val quantileSample = Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0)

    println(Main.json.writeValueAsString(Map(
      "quantile_sample" -> quantileSample,
      "quantile_deciles" -> (1 to 9).map(i => Stats.quantile(quantileSample, i / 10.0)),
      "same_seed_identical" -> (digest(a.files) == digest(b.files)),
      "other_seed_differs" -> (digest(a.files) != digest(c.files)),
      "golden_matches_generator" -> (goldenCounts == a.counts),
      "tokenizer_lines" -> lines.size,
      "tokenizer_disagreements" -> disagree.take(5),
      "untraced_pass_jobs" -> untraced,
      "traced_pass_jobs" -> traced)))
  }
}
