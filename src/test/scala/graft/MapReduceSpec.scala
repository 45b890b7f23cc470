package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.mr._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.Row
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Typed pluggable Mapper/Reducer surface — the heritage of the
  * reference's two UDF interfaces (types.go:8-14). */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  test("WordCountMapper matches reference mapper semantics") {
    val out = WordCountMapper.map("f.txt", "The quick.. (brown) FOX!").toSeq
    assert(out == Seq("the" -> "1", "quick" -> "1", "brown" -> "1", "fox" -> "1"))
  }

  test("WordCountMapper lowercases the same under a Turkish default locale") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      // ASCII and non-ASCII tokens take different lowercasing paths
      val out = WordCountMapper.map("f.txt", "TITLE \u00c9TITLE").map(_._1).toSeq
      assert(out == Seq("title", "\u00e9title"))
    } finally java.util.Locale.setDefault(prev)
  }

  test("WordCountReducer empty-group contract returns \"0\" (wordcount.go:27-29)") {
    assert(WordCountReducer.finish(WordCountReducer.zero) == "0")
  }

  test("end-to-end typed job reproduces inline e2e corpus golden") {
    val docs = Seq(
      ("input.txt", "hello world\nthis is a test\nhello test\nworld hello")).toDS()
    val result = MapReduce.run(spark, docs, WordCountMapper, WordCountReducer)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("hello" -> "3", "world" -> "2", "test" -> "2",
      "this" -> "1", "is" -> "1", "a" -> "1"))
    // sorted-by-key output contract (worker.go:216-221)
    assert(result.collect().map(_.getString(0)).toSeq ==
      m.keys.toSeq.sorted)
  }

  test("explicit nReduce partitioning is honored") {
    val docs = Seq(("a", "x y z x")).toDS()
    val result = MapReduce.run(spark, docs, WordCountMapper, WordCountReducer,
      numPartitions = Some(3))
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("x" -> "2", "y" -> "1", "z" -> "1"))
  }

  test("custom reducer plugs in (max-length value fold)") {
    object LongestValue extends Reducer[String] {
      def zero = ""
      def add(b: String, v: String): String = if (v.length > b.length) v else b
      def merge(a: String, b: String): String = if (a.length >= b.length) a else b
      def finish(b: String): String = b
    }
    object IdentityMapper extends Mapper {
      def map(name: String, contents: String): Iterator[(String, String)] =
        contents.split("\n").iterator.map { l =>
          val Array(k, v) = l.split(",", 2); (k, v)
        }
    }
    val docs = Seq(("a", "k1,short\nk1,muchlongervalue\nk2,mid")).toDS()
    val result = MapReduce.run(spark, docs, IdentityMapper, LongestValue)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    assert(m == Map("k1" -> "muchlongervalue", "k2" -> "mid"))
  }

  test("runOnFiles reads whole files like the reference CLI") {
    val result = MapReduce.runOnFiles(spark,
      Seq("/root/reference/pg-being_ernest.txt"), WordCountMapper, WordCountReducer)
    val m = result.collect().map { case Row(k: String, v: String) => k -> v }.toMap
    // per-file golden from BASELINE.md: being_ernest 23,629 tokens / 3,348 distinct
    assert(m.size == 3348)
    assert(m.values.map(_.toLong).sum == 23629L)
  }

  test("runOnFiles counts temp-dir files exactly, one map task per file or core") {
    val dir = Files.createTempDirectory("mr-files")
    val paths = (0 until 8).map { i =>
      val p = dir.resolve(s"part-$i.txt")
      Files.writeString(p, Seq.fill(10)(s"Alpha, (beta) don't file$i.").mkString("\n"))
      p.toString
    }
    val mapTasks = new AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains(dir.toString)))
          mapTasks.accumulateAndGet(e.stageInfo.numTasks, (a, b) => math.max(a, b))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val m = MapReduce.runOnFiles(spark, paths, WordCountMapper, WordCountReducer)
        .collect().map { case Row(k: String, v: String) => k -> v.toLong }.toMap
      assert(m == Map("alpha" -> 80L, "beta" -> 80L, "don't" -> 80L) ++
        (0 until 8).map(i => s"file$i" -> 10L))
      val want = math.min(8, spark.sparkContext.defaultParallelism)
      eventually(timeout(Span(10, Seconds))) {
        assert(mapTasks.get >= want, s"map stage ran ${mapTasks.get} tasks, want >= $want")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
