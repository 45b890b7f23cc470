package graft

import graft.functions.HashFunctions
import graft.operators.WordCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI-parity entry point: the reference's whole job
  * (`main.go -coordinator -input a.txt,b.txt -reduce 5` plus a worker
  * pool) as one spark-submit-able main.
  *
  * Usage: WordCountMain <comma-separated input files> <outDir> [nReduce]
  *
  * Output layout mirrors the reference's `mr-out-<bucket>` contract
  * (worker.go:224-239): `bucket=<b>/part-*` files containing
  * `word<TAB>count` lines, where b is the reference's own routing
  * fnv1a32(word) & 0x7fffffff % nReduce — a user can diff our output
  * file-by-file against the Go engine's. */
object WordCountMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: WordCountMain <inputs> <outDir> [nReduce]")
    val inputs = args(0).split(",").toSeq
    val outDir = args(1)
    val nReduce = args.lift(2).map(_.toInt).getOrElse(5)
    // reuse a live session (tests / notebooks) as it is, and leave it
    // running; size and stop only a session this main itself created
    val live = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = live.getOrElse(GraftSession.build(
      sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"),
      math.max(nReduce, 8), "graft-wordcount"))
    buckets(spark, inputs, nReduce)
      .write.mode("overwrite")
      .partitionBy("bucket")
      .text(outDir)
    println(s"wordcount: inputs=${inputs.size} nReduce=$nReduce out=$outDir")
    if (live.isEmpty) spark.stop()
  }

  /** The job's output rows, `word<TAB>count` per bucket, before the
    * write. Unordered counts feed the bucket shuffle, which would throw
    * a global order away; each bucket is sorted by word on its own. */
  def buckets(spark: SparkSession, inputs: Seq[String], nReduce: Int): DataFrame =
    WordCount.counts(spark.read.text(inputs: _*), "value")
      .withColumn("bucket", HashFunctions.referencePartition(col("word"), nReduce))
      .repartition(nReduce, col("bucket"))
      .sortWithinPartitions("word")
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"), col("bucket"))
}
