package graft

/** End-to-end CLI-parity job: mr-out-style bucketed TSV output with
  * reference partition routing. */
class WordCountMainSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed TSV output routes words exactly like the reference ihash") {
    val in = java.nio.file.Files.createTempDirectory("wcmain").toString
    val out = s"$in/out"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/input.txt"),
      "hello world\nthis is a test\nhello test\nworld hello\n")
    WordCountMain.main(Array(s"$in/input.txt", out, "3"))
    val got = spark.read.option("basePath", out).text(s"$out/bucket=*")
      .selectExpr("value", "cast(regexp_extract(input_file_name(), 'bucket=(\\\\d+)', 1) as int) as bucket")
      .as[(String, Int)].collect()
    val counts = got.map { case (line, b) =>
      val Array(w, c) = line.split("\t"); (w, c.toLong, b)
    }
    assert(counts.map(t => t._1 -> t._2).toMap == Map(
      "hello" -> 3L, "world" -> 2L, "test" -> 2L,
      "this" -> 1L, "is" -> 1L, "a" -> 1L))
    counts.foreach { case (w, _, b) =>
      val bytes = w.getBytes("UTF-8")
      val expected = (graft.functions.HashFunctions.fnv1a32Bytes(bytes, 0, bytes.length)
        & 0x7fffffff) % 3
      assert(b == expected, s"$w routed to $b, reference says $expected")
    }
  }

  test("a reused session keeps its confs") {
    val in = java.nio.file.Files.createTempDirectory("wcmain-conf")
    java.nio.file.Files.writeString(in.resolve("input.txt"), "a b a\n")
    // a value main never picks for a session it builds (max(nReduce, 8))
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val before = spark.conf.getAll
      WordCountMain.main(Array(s"$in/input.txt", s"$in/out", "3"))
      val after = spark.conf.getAll
      val drifted = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(drifted.isEmpty,
        drifted.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString("; "))
    } finally spark.conf.set(key, prev)
  }
}
