package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Word-count parity pipeline — the reference's single application,
  * re-expressed as one declarative Spark plan.
  *
  * Reference semantics (`/root/reference/map_reduce/wordcount.go:10-22`):
  *   1. split on whitespace runs (Go `strings.Fields`)
  *   2. strip *runs* of `.,!?"':;()` from both ends (Go `strings.Trim`)
  *   3. lowercase
  *   4. drop empty tokens
  *   5. count per word (`wordcount.go:26-32`)
  *
  * Steps 1-4 are one byte scan per row ([[graft.functions.WordTokens]],
  * whose scanner [[graft.mr.WordCountMapper]] shares) instead of a regex
  * split, a regex replace and a `lower` per token.
  *
  * This single pipeline covers reference operators O1-O10 (SURVEY.md §2.1):
  * scan, flatMap (explode), project, filter, hash shuffle (groupBy),
  * group, per-key count, sort, sink. The shuffle is preceded by a
  * partial aggregate (map-side combine) that the reference lacks
  * (`worker.go:152-159` ships every ("word","1") pair) — Spark inserts
  * HashAggregate(partial) automatically, which is the single biggest
  * scale win: shuffle volume is O(distinct words per partition), not
  * O(tokens). Zipf skew (SURVEY.md §7.5) is absorbed the same way.
  */
object WordCount {

  /** Tokenize a text column with exact reference semantics (steps 1-4);
    * yields one row per non-empty token. */
  def tokenize(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.wordTokens(col(textCol))).as("word"))

  /** Per-word counts of a text column, in no particular order. */
  def counts(df: DataFrame, textCol: String): DataFrame =
    tokenize(df, textCol).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The flagship query: word frequencies over `documents.text`,
    * deterministically ordered. */
  def wordCount(docs: DataFrame): DataFrame =
    counts(docs, "text").orderBy("word")

  /** Word count over raw text files (the Gutenberg corpus path) —
    * `spark.read.text` replaces worker.go:126's whole-file read; one
    * input split per HDFS block at scale, not one task per file. */
  def wordCountText(lines: DataFrame): DataFrame =
    counts(lines, "value").orderBy("word")

  /** O9: tab-separated sink (`worker.go:224-239` writes `key\tvalue`).
    * One file per partition, exactly like `mr-out-<reduceID>`. */
  def writeTsv(df: DataFrame, path: String, partitions: Int = 1): Unit =
    df.repartition(partitions)
      .write.mode("overwrite")
      .option("sep", "\t")
      .csv(path)
}
