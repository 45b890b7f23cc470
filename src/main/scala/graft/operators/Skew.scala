package graft.operators

import graft.Tables
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-handling patterns for Zipfian keys (SURVEY.md §7.5: `the` is
  * 9,088 of 183k corpus tokens — a hot key at any scale).
  *
  * For counts/sums Spark's map-side partial aggregation already defuses
  * key skew; [[saltedWordCount]] demonstrates the explicit two-phase
  * salt for the cases partial agg can't cover (exact-distinct buffers,
  * skewed join keys, collect_list-style holistic aggs): stage 1 groups
  * on (key, salt) so the hot key spreads over `buckets` reducers,
  * stage 2 merges the per-salt partials. The salt derives from
  * spark_partition_id — results are salt-invariant, which the shared
  * oracle with wc_wordcount proves.
  */
object Skew {

  def saltedWordCount(s: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    import s.implicits._
    // Deterministic row-level salt (hash of doc_id × word position):
    // spreads a hot key over `buckets` reducers without the plan
    // penalties of nondeterministic spark_partition_id.
    val toks = Tables.documents(s, dir)
      .select($"doc_id", posexplode(TextFunctions.wordTokens($"text")).as(Seq("pos", "word")))
      .select($"word", pmod(xxhash64($"doc_id", $"pos"), lit(buckets)).as("salt"))
    toks
      .groupBy($"word", $"salt")
      .agg(count(lit(1)).as("partial_cnt"))          // stage 1: skew spread
      .groupBy($"word")
      .agg(sum($"partial_cnt").as("cnt"))            // stage 2: merge partials
      .orderBy($"word")
  }

  /** Word counts with the reference's own partition routing (O4):
    * bucket = fnv1a32(word) & 0x7fffffff % nReduce, bit-exact with
    * `worker.go:154,170-174` — a user can reproduce which `mr-out-N`
    * file any word landed in. */
  def wordCountWithPartition(s: SparkSession, dir: String, nReduce: Int = 5): DataFrame = {
    import s.implicits._
    WordCount.wordCount(Tables.documents(s, dir))
      .withColumn("bucket",
        HashFunctions.referencePartition($"word", nReduce).cast("long"))
      .select($"word", $"cnt", $"bucket")
      .orderBy($"word")
  }
}
