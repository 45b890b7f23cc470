package graft.mr

import java.nio.charset.StandardCharsets

import graft.functions.WordTokens
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Typed pluggable map/reduce surface — the Spark-native replacement for
  * the reference's two UDF interfaces
  * (`/root/reference/map_reduce/types.go:8-14`):
  *
  *   Map(filename, contents) -> []KeyValue      becomes  Mapper.map -> Iterator
  *   Reduce(key, values) -> string              becomes  a typed Reducer fold
  *
  * Key design departure from the reference: its Reducer receives ALL
  * values of a key materialized as a slice (`worker.go:211-214,233-238`)
  * — O(group size) memory, no combiner, every pair shuffled
  * (`worker.go:152-159`). Here the reducer is an associative fold
  * (`zero`/`add`/`merge`), lifted to a Spark [[Aggregator]] so Catalyst
  * plans partial aggregation before the shuffle and merges partial
  * buffers after — the map-side combine the reference lacks. At 100 TB
  * the shuffle carries one buffer per (key × partition) instead of one
  * record per input pair.
  */
trait Mapper extends Serializable {
  /** One input document (name, contents) to zero or more key/value pairs. */
  def map(name: String, contents: String): Iterator[(String, String)]
}

/** Associative per-key fold. `finish(zero)` on an empty group must match
  * the reference's empty-input contract (returns "0",
  * `wordcount.go:27-29`) for the counting reducer. */
trait Reducer[B] extends Serializable {
  def zero: B
  def add(buf: B, value: String): B
  def merge(a: B, b: B): B
  def finish(buf: B): String
}

/** The reference's built-in app, reimplemented on the typed surface.
  * Tokenization semantics pinned by `wordcount.go:15`
  * (fields + trim runs of `.,!?"':;()` + lowercase + drop empty), from
  * the byte scanner and lowercasing of the `WordTokens` kernel, which
  * pin the root locale: the output never depends on the executor's. */
object WordCountMapper extends Mapper {
  def map(name: String, contents: String): Iterator[(String, String)] = {
    val bytes = contents.getBytes(StandardCharsets.UTF_8)
    val words = new WordTokens.Scanner(bytes)
    new Iterator[(String, String)] {
      private var ready = words.next()
      def hasNext: Boolean = ready
      def next(): (String, String) = {
        if (!ready) throw new NoSuchElementException
        val w = WordTokens.lower(bytes, words.start, words.end).toString
        ready = words.next()
        (w, "1")
      }
    }
  }
}

/** Counting reducer: values are ignored, the count is emitted —
  * exactly `wordcount.go:26-32` (len(values); "0" when empty). */
object WordCountReducer extends Reducer[Long] {
  def zero: Long = 0L
  def add(buf: Long, value: String): Long = buf + 1L
  def merge(a: Long, b: Long): Long = a + b
  def finish(buf: Long): String = buf.toString
}

object MapReduce {

  /** Lift a [[Reducer]] into a Spark Aggregator over (key, value) pairs.
    * Kryo-encodes the buffer so any B works; counting reducers get
    * partial aggregation + shuffle of one buffer per key per partition. */
  private def toAggregator[B: scala.reflect.ClassTag](
      r: Reducer[B]): Aggregator[(String, String), B, String] =
    new Aggregator[(String, String), B, String] {
      def zero: B = r.zero
      def reduce(b: B, kv: (String, String)): B = r.add(b, kv._2)
      def merge(a: B, b: B): B = r.merge(a, b)
      def finish(b: B): String = r.finish(b)
      def bufferEncoder: Encoder[B] = {
        // Kryo can't encode primitives; route common buffer types to
        // their native (columnar, codegen-friendly) encoders.
        val ct = implicitly[scala.reflect.ClassTag[B]]
        val enc = ct.runtimeClass match {
          case java.lang.Long.TYPE    => Encoders.scalaLong
          case java.lang.Double.TYPE  => Encoders.scalaDouble
          case java.lang.Integer.TYPE => Encoders.scalaInt
          case c if c == classOf[String] => Encoders.STRING
          case _ => Encoders.kryo(ct)
        }
        enc.asInstanceOf[Encoder[B]]
      }
      def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Run a full map/reduce job over (name, contents) documents.
    * Output schema: (key string, value string), sorted by key — the
    * reference's `mr-out-*` contract (`worker.go:216-239`). */
  def run[B: scala.reflect.ClassTag](
      spark: SparkSession, docs: Dataset[(String, String)],
      mapper: Mapper, reducer: Reducer[B],
      numPartitions: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val pairs = docs.flatMap { case (name, contents) => mapper.map(name, contents) }
    val shuffled = numPartitions.fold(pairs)(n => pairs.repartition(n, $"_1"))
    shuffled
      .groupByKey(_._1)
      .agg(toAggregator(reducer).toColumn.name("value"))
      .toDF("key", "value")
      .orderBy("key")
  }

  /** Typed cogroup: per-key combination of two datasets' value streams
    * — the two-input generalization of the reference's single-relation
    * reduce (its jobs can't express this at all, §2.2 "no joins").
    * Both sides shuffle once on the key; the user function sees both
    * iterators without materializing either side as a table. */
  def cogroup[B](spark: SparkSession,
                 left: Dataset[(String, String)], right: Dataset[(String, String)])(
                 f: (String, Iterator[String], Iterator[String]) => Iterator[(String, B)])(
                 implicit enc: Encoder[(String, B)]): Dataset[(String, B)] = {
    import spark.implicits._
    left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) {
      (key, ls, rs) => f(key, ls.map(_._2), rs.map(_._2))
    }
  }

  /** Text-file front door matching the reference CLI (`main.go:25,130`):
    * each file becomes one (path, contents) document, then map/reduce.
    * The reference runs one map task per file; here `minPartitions`
    * asks for a split per file and per core, where `wholeTextFiles`'s
    * default of 2 would cap the map side at 2 tasks for any input.
    * At scale prefer line-oriented `spark.read.text` — wholeTextFiles is
    * only for exact whole-file Map semantics parity. */
  def runOnFiles[B: scala.reflect.ClassTag](
      spark: SparkSession, paths: Seq[String],
      mapper: Mapper, reducer: Reducer[B]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = sc.wholeTextFiles(paths.mkString(","),
      minPartitions = math.max(sc.defaultParallelism, paths.size)).toDS()
    run(spark, docs, mapper, reducer)
  }
}
