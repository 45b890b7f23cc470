package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables, WordCountMain}
import graft.functions._
import graft.mr.{MapReduce, WordCountMapper, WordCountReducer}
import graft.operators.{MediaCodec, Similarity, WordCount}
import graft.sources.Warc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `wordcount`: the paper's application over a seeded corpus. One pass
  * runs `WordCount.wordCountText` (noop sink), `MapReduce.runOnFiles`
  * with the counting mapper and reducer (noop sink), and
  * `WordCountMain`, which writes bucketed TSV files. */
final class WordCountWorkload(conf: Main.Conf) extends Workload(conf) {
  val nFiles = 8
  val bytesPerFile: Int = 1 << 19
  val nReduce = 5
  var corpus: Corpus.Generated = _
  private def files: Seq[String] = corpus.files.map(_.toString)
  private val mainOut = conf.work.resolve("wc-main-out").toString

  private def runMain(out: String): Unit = {
    WordCountMain.main(Array(files.mkString(","), out, nReduce.toString))
    // WordCountMain sizes the shared session's shuffle for its own job
    spark.conf.set("spark.sql.shuffle.partitions", conf.cpus.toString)
  }

  val ops: Seq[Op] = Seq(
    new Op("wc_text") {
      def construct(): DataFrame = WordCount.wordCountText(spark.read.text(files: _*))
    },
    new Op("mr_files") {
      def construct(): DataFrame =
        MapReduce.runOnFiles(spark, files, WordCountMapper, WordCountReducer)
    },
    new Op("wc_main") {
      def construct(): DataFrame = null
      override def execute(df: DataFrame): Unit = runMain(mainOut)
    })

  def stage(): Unit = {
    val dir = conf.work.resolve("corpus")
    corpus = tracer.span("setup", "Corpus.generate") {
      Corpus.generate(conf.seed, dir, nFiles, bytesPerFile)
    }
    // first read of the new corpus
    tracer.span("setup", "wc_text")(ops.head.execute(ops.head.construct()))
  }

  /** Parse `WordCountMain` output back to counts; also checks each word
    * sits in the bucket the reference's fnv1a32 routing gives it. */
  private def readTsv(out: String): Either[String, Map[String, Long]] = {
    val counts = mutable.HashMap.empty[String, Long]
    val s = Files.walk(Paths.get(out))
    val parts = try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.startsWith("part-")).toSeq finally s.close()
    for (p <- parts) {
      val bucket = p.getParent.getFileName.toString.stripPrefix("bucket=").toInt
      for (line <- Files.readAllLines(p, StandardCharsets.UTF_8).asScala) {
        val Array(w, c) = line.split("\t", 2)
        val b = w.getBytes(StandardCharsets.UTF_8)
        val want = (HashFunctions.fnv1a32Bytes(b, 0, b.length) & 0x7fffffff) % nReduce
        if (want != bucket) return Left(s"word '$w' in bucket $bucket, routing says $want")
        if (counts.contains(w)) return Left(s"word '$w' written twice")
        counts(w) = c.toLong
      }
    }
    Right(counts.toMap)
  }

  private def compare(op: String, got: Map[String, Long]): Unit = {
    val want = corpus.counts
    val diff = (want.keySet ++ got.keySet).filter(k => want.get(k) != got.get(k))
    check(op, diff.isEmpty, if (diff.isEmpty) s"${got.size} words exact"
      else s"${diff.size} words differ, e.g. ${diff.take(3).map(k => s"$k: want ${want.get(k)} got ${got.get(k)}").mkString("; ")}")
  }

  // passes keep getting faster through about the fourth, so warm with four
  def warmUp(): Unit = (0 until 4).foreach(_ => runUntimed(ops))

  def checkPass(): Unit = {
    def guarded(op: String)(body: => Unit): Unit =
      try body catch { case e: Throwable => check(op, ok = false, s"threw $e") }
    guarded("wc_text") {
      compare("wc_text", WordCount.wordCountText(spark.read.text(files: _*)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    guarded("mr_files") {
      compare("mr_files", MapReduce.runOnFiles(spark, files, WordCountMapper, WordCountReducer)
        .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap)
    }
    guarded("wc_main") {
      val out = conf.work.resolve("wc-main-check").toString
      runMain(out)
      readTsv(out).fold(msg => check("wc_main", ok = false, msg), compare("wc_main", _))
    }
  }

  def measure(): Map[String, Any] = {
    val m = timedPasses(ops, nominalPassS = 2.0)
    // the last timed WordCountMain output must parse back too
    readTsv(mainOut).fold(msg => check("wc_main.timed", ok = false, msg), compare("wc_main.timed", _))
    val passS = Stats.median(m("pass_s").asInstanceOf[Seq[Double]])
    val mrRuns = m("samples").asInstanceOf[Seq[Map[String, Any]]]
      .filter(s => s("op") == "mr_files" && s("traced") == false)
      .map(s => s("construct_s").asInstanceOf[Double] + s("run_s").asInstanceOf[Double])
    extra ++= Map(
      "corpus_bytes" -> corpus.bytes, "corpus_tokens" -> corpus.tokens,
      "distinct_words" -> corpus.counts.size,
      "input_mb_per_s" -> ops.size * corpus.bytes / 1e6 / passS,
      "mr.run_s" -> Stats.median(mrRuns))
    m
  }

  def probeText(): Seq[String] =
    Files.readAllLines(corpus.files.head, StandardCharsets.UTF_8).asScala.filter(_.trim.nonEmpty)
      .take(2000).toSeq
}

/** `llm_pipeline`: registry queries over a staged copy of the sf fixtures:
  * SimHash dedup, PQ top-k (trained codebooks, broadcasts), IVF serving
  * from a prebuilt index, BPE (trained while the query is built) and WET
  * parsing. The list is pinned here, so a query added to the library does
  * not change the workload, and sized so one pass takes about three
  * seconds on four cores. The Gopher and media-decode kernels are covered
  * by the kernel probes instead. Set-up stages a fresh copy and builds
  * every query once, which trains the artifacts the library caches per
  * fixture directory. */
final class LlmPipelineWorkload(conf: Main.Conf) extends Workload(conf) {
  val names: Seq[String] = Seq("dd_simhash", "ann_pq_topk", "pipe_ivf_serve", "tx_bpe", "src_warc")
  private val registry = SparkEntry.queries
  var dir: String = _
  private val checkDir = conf.work.resolve("check")

  val ops: Seq[Op] = names.map { n =>
    new Op(n) {
      def construct(): DataFrame = registry(n)(spark, dir)
    }
  }

  def stage(): Unit = {
    val d = conf.work.resolve("fixtures")
    tracer.span("setup", "fixtures.copy")(Main.copyTree(Paths.get(conf.fixtures), d))
    dir = d.toString
    // the IVF index (pipe_ivf_serve) and the WET lake (src_warc): artifacts
    // a production deployment builds once, ahead of serving
    tracer.span("setup", "Similarity.ivfIndexDir")(Similarity.ivfIndexDir(spark, dir))
    tracer.span("setup", "Warc.wetLakeDir")(Warc.wetLakeDir(spark, dir))
    // building each query once trains and caches the artifacts it needs
    ops.foreach(op => tracer.span(op.name, "construct")(op.construct()))
  }

  def warmUp(): Unit = runUntimed(ops)

  def checkPass(): Unit = {
    Files.createDirectories(checkDir)
    ops.foreach { op =>
      try {
        op.construct().coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(op.name).toString)
        check(op.name, ok = true, "result written")
      } catch { case e: Throwable => check(op.name, ok = false, s"threw $e") }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(checkDir.resolve("oracle_sql.json"), Main.json.writeValueAsString(oracle))
  }

  def measure(): Map[String, Any] =
    timedPasses(ops, nominalPassS = 3.0) ++
      Map("check_dir" -> checkDir.toString, "fixtures_dir" -> dir, "queries" -> names)

  def probeText(): Seq[String] =
    Tables.documents(spark, dir).select("text").limit(2000).collect().map(_.getString(0)).toSeq
}

/** Direct probes of single layers, run after the timed passes of a traced run. */
object Probes {
  /** `Tables.apply` per table of a staged fixture copy: wall time and the
    * Spark jobs each read submits. Three rounds; the median round counts. */
  def tables(wl: Workload): Map[String, Any] = {
    val src = Paths.get(wl.conf.fixtures)
    if (!Files.isDirectory(src)) return Map.empty
    val dir = wl.conf.work.resolve("fixtures-probe")
    Main.copyTree(src, dir)
    val present = Tables.names.filter(t => Files.exists(dir.resolve(s"$t.parquet")))
    val rounds = (0 until 3).map { _ =>
      wl.counters.drain()
      val j0 = wl.counters.jobs.size
      val t0 = System.nanoTime()
      present.foreach(t => wl.tracer.span("probe", s"Tables.apply.$t")(Tables.apply(wl.spark, dir.toString, t)))
      val s = (System.nanoTime() - t0) / 1e9
      wl.counters.drain()
      (s, (wl.counters.jobs.size - j0).toDouble)
    }
    Map("tables.read_s" -> Stats.median(rounds.map(_._1)),
      "tables.read_jobs" -> Stats.median(rounds.map(_._2)))
  }

  /** Median ns per call of `f` over `n` items, after warm-up. */
  private def nsPer(n: Long)(f: => Unit): Double = {
    val warmUntil = System.nanoTime() + 200000000L
    while (System.nanoTime() < warmUntil) f
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0).toDouble / n
    })
  }

  /** Public kernels evaluated over in-memory rows, with no Spark job. */
  def kernels(wl: Workload, rowsText: Seq[String]): Map[String, Any] = {
    val texts = rowsText.filter(t => t != null && t.nonEmpty)
    wl.counters.drain()
    val j0 = wl.counters.jobs.size
    val ref = BoundReference(0, StringType, nullable = true)
    val rows = texts.map(t => InternalRow(UTF8String.fromString(t))).toArray
    val words = texts.flatMap(Corpus.goldenTokens)
    val merges = BpeTokenizer.train(
      words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }.toSeq.sortBy(_._1), 200)
    val exprs: Seq[(String, Expression)] = Seq(
      "GopherCounts" -> GopherCounts(ref),
      "CharEntropy" -> CharEntropy(ref),
      "DeflatedLen" -> DeflatedLen(ref),
      "CdcChunks" -> CdcChunks(ref),
      "BpeTokenizer" -> BpeEncodeCount(ref, merges),
      "HashFunctions" -> Fnv1a64(ref),
      "MinHashSig" -> MinHashSig(ref, 5, 64),
      "SimHash64" -> SimHash64(ref),
      "TokenNgrams" -> TokenNgrams(ref, 2))
    val out = mutable.LinkedHashMap.empty[String, Any]
    exprs.foreach { case (name, e) =>
      out(s"functions.$name.ns_per_row") = wl.tracer.span("probe", s"kernel.$name") {
        nsPer(rows.length)(rows.foreach(r => e.eval(r)))
      }
    }
    out("mr.map_ns_per_token") = wl.tracer.span("probe", "WordCountMapper.map") {
      nsPer(words.size)(texts.foreach(t => WordCountMapper.map("probe", t).foreach(_ => ())))
    }
    // images and WARC bytes built from the same rows
    val images = texts.take(16).map { t =>
      val b = t.getBytes(StandardCharsets.UTF_8)
      MediaCodec.encodePng(48, 48, Array.tabulate(3 * 48 * 48)(i => b(i % b.length)))
    }
    out("mediacodec.decode_ns_per_byte") = wl.tracer.span("probe", "MediaCodec.decode") {
      nsPer(images.map(_.length.toLong).sum)(images.foreach(MediaCodec.decode))
    }
    val warc = Warc.encodeWet(texts.zipWithIndex.map { case (t, i) => (i.toLong, Warc.docUri(i), t) })
    out("warc.parse_ns_per_byte") = wl.tracer.span("probe", "Warc.parseWarc") {
      nsPer(warc.length)(Warc.parseWarc(warc))
    }
    wl.counters.drain()
    val jobs = wl.counters.jobs.size - j0
    wl.check("kernel_probes", jobs == 0, s"$jobs Spark jobs during kernel probes")
    out("kernels.jobs") = jobs
    out.toMap
  }
}
