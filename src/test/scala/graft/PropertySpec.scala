package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.mr.WordCountMapper
import graft.operators.{Dedup, WordCount}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5 test strategy):
  * count == input multiplicity, tokenizer postconditions, hash
  * streaming composition, sketch error bounds. Plain scalacheck Gen
  * with fixed seeds (the scalatest bridge artifact isn't in the
  * offline cache) — deterministic across runs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
  private val docGen: Gen[List[String]] = Gen.listOfN(60, wordGen)

  test("word count equals input multiplicity for arbitrary docs") {
    samples(docGen, 8).foreach { words =>
      val df = Seq(words.mkString(" ")).toDF("text")
      val got = WordCount.wordCount(df).collect()
        .map { case Row(w: String, c: Long) => w -> c }.toMap
      val expected = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      assert(got == expected)
    }
  }

  test("tokenizer postconditions: lowercase, non-empty, no cutset at ends") {
    val cutset = ".,!?\"':;()".toSet
    val messy = Gen.listOfN(30, Gen.oneOf(
      wordGen, wordGen.map(w => s"..$w!!"), Gen.const("?!."), wordGen.map(w => s"($w)")))
    samples(messy, 8).foreach { words =>
      val df = Seq(words.mkString(" ")).toDF("text")
      val toks = WordCount.tokenize(df, "text").as[String].collect()
      toks.foreach { t =>
        assert(t.nonEmpty)
        assert(t == t.toLowerCase)
        assert(!cutset.contains(t.head) && !cutset.contains(t.last), t)
      }
    }
  }

  test("word tokens kernel ≡ mapper ≡ independent reference ≡ the regex composition") {
    // the six `\s` bytes; U+00A0, U+2003 and the line terminators
    // U+0085, U+2028, U+2029, which are not separators under that
    // contract; cutset runs, inner apostrophes and non-ASCII case
    val piece: Gen[String] = Gen.oneOf(
      " ", "\t", "\n", "\u000b", "\f", "\r", "\u00a0", "\u2003", "\u0085", "\u2028", "\u2029",
      ".", ",", "!", "?", "\"", "'", ":", ";", "(", ")", "..!?", "don't", "O'Neil",
      "a", "Word", "TITLE", "\u0130", "\u03a3", "\u039f\u0394\u039f\u03a3", "\u1e9e", "\u01c5", "\u00e9")
    import org.apache.spark.sql.functions.{filter, lower, regexp_replace, split, transform}
    val texts = samples(Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString), 400)
    // Go strings.Fields + strings.Trim + lowercase over Java strings;
    // ICU lowercasing because java.lang.String places the final sigma
    // differently next to a '"' than Spark's `lower` does
    def reference(t: String): Seq[String] = {
      def isCut(c: Char) = ".,!?\"':;()".indexOf(c) >= 0
      t.split("[ \\t\\n\\x0B\\f\\r]").toSeq
        .map(_.dropWhile(isCut).reverse.dropWhile(isCut).reverse)
        .filter(_.nonEmpty)
        .map(w => com.ibm.icu.lang.UCharacter.toLowerCase(com.ibm.icu.util.ULocale.ROOT, w))
    }
    val rows = (texts.map(Option(_)) ++ Seq(Some(""), None)).zipWithIndex
    val df = rows.map { case (t, i) => (i, t.orNull) }.toDF("i", "text")
    val trim = "^[.,!?\"':;()]+|[.,!?\"':;()]+$"
    val got = df.select($"i", TextFunctions.wordTokens($"text"),
        filter(transform(split($"text", "\\s+"), w => lower(regexp_replace(w, trim, ""))),
          w => w =!= ""))
      .collect().map(r => r.getInt(0) -> (Option(r.getSeq[String](1)), Option(r.getSeq[String](2))))
      .toMap
    rows.foreach { case (t, i) =>
      val (kernel, regex) = got(i)
      assert(kernel == t.map(reference), s"kernel vs reference on row $i")
      t.foreach { text =>
        assert(WordCountMapper.map("t", text).map(_._1).toSeq == reference(text),
          s"mapper vs reference on row $i")
        // Java's `$` also matches before a final line terminator
        if (!text.exists("\u0085\u2028\u2029".contains(_)))
          assert(kernel == regex, s"kernel vs regex composition on row $i")
      }
      if (t.isEmpty) assert(kernel.isEmpty && regex.isEmpty)
    }
  }

  test("fnv1a64 is a left fold: hashing a concatenation continues the state") {
    samples(Gen.zip(wordGen, wordGen), 20).foreach { case (a, b) =>
      val ab = (a + b).getBytes("UTF-8")
      val full = HashFunctions.fnv1a64Bytes(ab, 0, ab.length)
      var h = HashFunctions.fnv1a64Bytes(a.getBytes("UTF-8"), 0, a.getBytes("UTF-8").length)
      b.getBytes("UTF-8").foreach { byte =>
        h ^= (byte & 0xffL); h *= 0x100000001b3L
      }
      assert(full == h)
    }
  }

  test("misra-gries is exact when distinct <= capacity, bounded otherwise") {
    samples(docGen, 5).foreach { words =>
      val truth = words.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val df = words.toDF("word")
      val exact = df.agg(graft.functions.HeavyHitters.sketch($"word", 1000).as("m"))
        .selectExpr("explode(m)").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(exact == truth)
      val cap = 5
      val approx = df.agg(graft.functions.HeavyHitters.sketch($"word", cap).as("m"))
        .selectExpr("explode(m)").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bound = words.size.toLong / (cap + 1)
      approx.foreach { case (w, c) =>
        assert(c <= truth(w), s"over-count $w")
        assert(c >= truth(w) - bound, s"under bound $w")
      }
    }
  }

  test("splice kernel ≡ HOF formulation on adversarial span sets") {
    // the exact HOF the SpliceTokens kernel replaced in dd_excise:
    // filter(toks, (t, i) -> NOT exists(spans, i BETWEEN ...)), plus
    // concat_ws + size for the outputs. Span sets include unsorted,
    // overlapping, nested, out-of-range, whole-doc and NULL (the
    // coalesce trap: exists() over null is null and filter drops on
    // null predicates — the kernel must treat null as "no spans").
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val spanGen = Gen.listOf(for {
      a <- Gen.chooseNum(-2L, 14L)
      len <- Gen.chooseNum(0L, 9L)
    } yield (a, a + len))
    val docGen2 = Gen.listOfN(12, Gen.oneOf(wordGen, Gen.const("é漢字"), Gen.const("x")))
    val cases = samples(Gen.zip(docGen2, spanGen), 30) ++ Seq(
      (List("a", "b", "c"), List((0L, 2L))),                    // whole doc
      (List("a", "b", "c"), List((1L, 1L), (0L, 2L), (1L, 5L))), // nested+overlap
      (List.empty[String], List((0L, 3L))),                     // empty doc
      (List("solo"), List.empty[(Long, Long)]))                 // no spans
    val df = cases.zipWithIndex.map { case ((ws, sps), i) =>
      (i.toLong, ws.mkString(" "), sps)
    }.toDF("id", "text", "raw")
      // null spans for every third row exercises the null contract
      .withColumn("spans", when($"id" % 3 === 0 && size($"raw") === 0,
          lit(null).cast("array<struct<start_tok:bigint,end_tok:bigint>>"))
        .otherwise(expr("transform(raw, p -> struct(p._1 as start_tok, p._2 as end_tok))")))
      .withColumn("toks", TextFunctions.tokenNgrams(lower($"text"), 1))
    val got = df.select($"id", TextFunctions.spliceTokens($"toks", $"spans").as("sp"))
      .select($"id", $"sp.clean_text", $"sp.kept")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val exp = df
      .withColumn("sp2", coalesce($"spans",
        array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")))
      .withColumn("kept", expr(
        "filter(toks, (t, i) -> NOT exists(sp2, sp -> i >= sp.start_tok AND i <= sp.end_tok))"))
      .select($"id", concat_ws(" ", $"kept").as("c"), size($"kept").cast("long").as("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == exp, s"diff: ${(got.toSet diff exp.toSet) ++ (exp.toSet diff got.toSet)}")
  }

  test("text kernels ≡ their HOF formulations on adversarial strings") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // whitespace variety (incl. \x0B), unicode multi-byte, punctuation,
    // leading/trailing/runs-of whitespace, empty-ish strings
    val chunk = Gen.oneOf(wordGen, Gen.const("  "), Gen.const("\t"),
      Gen.const("\n"), Gen.const("\u000B"), Gen.const("\r"), Gen.const("é漢字"),
      Gen.const("a.b,c!"), Gen.const("1 22 333"), Gen.const(""))
    val strGen = Gen.listOfN(12, chunk).map(_.mkString(" "))
    val docs = samples(strGen, 40) ++ Seq("", " ", "one", "a b", "\t\n\u000B\f\r")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

    val kernel = df.select($"id",
        TextFunctions.textStatsCounts($"text").as("c"),
        TextFunctions.tokenBigrams($"text").as("bg"),
        TextFunctions.tokenSetCounts($"text", Seq(Seq("a", "one", "22"))).as("sc"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getSeq[String](2), r.getSeq[Long](3))).toMap

    val toks = filter(split($"text", "\\s+"), t => t =!= "")
    val hof = df.select($"id",
        length($"text").cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        length(regexp_replace($"text", "[^.,!?;:]", "")).cast("long").as("n_punct"),
        length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("n_digits"),
        length(regexp_replace($"text", "\\s", "")).cast("long").as("n_nonspace"),
        when(size(toks) >= 2, transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
          .otherwise(array().cast("array<string>")).as("bg"),
        size(filter(toks, t => t.isin("a", "one", "22"))).cast("long").as("sc1"))
      .collect()

    hof.foreach { r =>
      val (c, bg, sc) = kernel(r.getLong(0))
      assert(c == Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)),
        s"stats for ${r.getLong(0)}")
      assert(bg == r.getSeq[String](6), s"bigrams for ${r.getLong(0)}")
      assert(sc == Seq(r.getLong(2), r.getLong(7)), s"set counts for ${r.getLong(0)}")
    }
  }

  test("shingle and agreement kernels ≡ HOF formulations") {
    import org.apache.spark.sql.functions._
    import graft.functions.SketchFunctions
    val strGen = Gen.listOfN(8, Gen.oneOf(wordGen, Gen.const("ab"),
      Gen.const("é漢"), Gen.const(""), Gen.const("x"))).map(_.mkString(" "))
    val docs = samples(strGen, 30) ++ Seq("", "ab", "abc", "abcd", "ééé")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select($"id",
        SketchFunctions.shingles($"text", 3).as("kern"),
        array_distinct(transform(
          sequence(lit(0), greatest(length($"text") - 3, lit(0))),
          i => $"text".substr(i + lit(1), lit(3)))).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
    // agreement kernel vs zip_with count
    val sig = df.select($"id", Dedup.minhashSig(Dedup.normText($"text"), 5, 16).as("s"))
    val pairs = sig.as("a").crossJoin(sig.as("b"))
      .select(SketchFunctions.minhashAgree($"a.s", $"b.s").as("kern"),
        (size(filter(zip_with($"a.s", $"b.s", (x, y) => x === y), v => v))
          .cast("double") / 16).as("hof"))
      .collect()
    pairs.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("simhash kernel ≡ split-on-\\s reference, incl. \\u000B vertical tab") {
    // pins SimHash64 to the repo-wide tokenizer contract (Java \s):
    // 'a\u000Bb' must hash as two tokens, not one
    val chunk = Gen.oneOf(wordGen, Gen.const("\u000B"), Gen.const("\t"),
      Gen.const("é漢"), Gen.const(""))
    val strGen = Gen.listOfN(10, chunk).map(_.mkString(" "))
    val docs = samples(strGen, 30) ++
      Seq("", "one", "a\u000Bb", "x\u000B", "\u000B\u000B", "a b")
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select($"id",
        graft.functions.SketchFunctions.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.zipWithIndex.foreach { case (t, i) =>
      val counts = new Array[Int](64)
      t.split("\\s+").filter(_.nonEmpty).foreach { tok =>
        val b = tok.getBytes("UTF-8")
        val h = HashFunctions.fnv1a64Bytes(b, 0, b.length)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      var exp = 0L
      (0 until 64).foreach(j => if (counts(j) > 0) exp |= (1L << j))
      assert(got(i.toLong) == exp, s"doc $i: '$t'")
    }
  }

  test("minhash agreement estimates jaccard sanely across overlap levels") {
    Seq(0, 10, 25, 40).foreach { overlap =>
      val a = (0 until 50).map(i => s"tokena$i").mkString(" ")
      val b = ((0 until overlap).map(i => s"tokena$i") ++
        (overlap until 50).map(i => s"tokenb$i")).mkString(" ")
      val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
      val sigs = df.select($"doc_id",
        Dedup.minhashSig(Dedup.normText($"text"), 5, 128).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val est = sigs(0L).zip(sigs(1L)).count { case (x, y) => x == y } / 128.0
      assert(est >= 0.0 && est <= 1.0)
      if (overlap == 0) assert(est < 0.45, s"overlap=0 est=$est")
      if (overlap == 40) assert(est > 0.3, s"overlap=40 est=$est")
    }
    // identical docs → estimate exactly 1
    val df = Seq((0L, "same doc twice"), (1L, "same doc twice")).toDF("doc_id", "text")
    val sigs = df.select($"doc_id",
      Dedup.minhashSig(Dedup.normText($"text"), 5, 128).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
  }

  test("sequence packing: conf-derived shards ≡ pinned shards at equal count") {
    import graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val pinned = rows(TextAnalysis.sequencePack(spark, sfDir, shards = 8))
    spark.conf.set("spark.graft.pack.shards", "8")
    try assert(rows(TextAnalysis.sequencePack(spark, sfDir)) == pinned)
    finally spark.conf.unset("spark.graft.pack.shards")
    // unpinned + no conf: shards derive from the session's parallelism,
    // so packing parallelism scales with the cluster instead of a
    // constant (the round-3 verdict's `shards = 8` cap)
    val auto = TextAnalysis.sequencePack(spark, sfDir)
      .select("shard").distinct().count()
    assert(auto == spark.sparkContext.defaultParallelism.toLong, s"auto shards = $auto")
    // invalid conf values are rejected at build time, not as a
    // doc_id % 0 runtime error or a silent one-shard collapse
    Seq("0", "-4", "abc").foreach { bad =>
      spark.conf.set("spark.graft.pack.shards", bad)
      try {
        intercept[IllegalArgumentException](TextAnalysis.sequencePack(spark, sfDir))
      } finally spark.conf.unset("spark.graft.pack.shards")
    }
  }

  test("token n-gram kernel: n=2 ≡ bigram kernel, n=1 ≡ tokens, short docs empty") {
    import graft.functions.TextFunctions
    val df = Seq(
      "the quick  brown fox", // double space
      "one", "", "a b c d e f",
      " leading and trailing ").toDF("s")
    val rows = df.select(
      TextFunctions.tokenNgrams(col("s"), 2).as("n2"),
      TextFunctions.tokenBigrams(col("s")).as("b2"),
      TextFunctions.tokenNgrams(col("s"), 1).as("n1"),
      TextFunctions.tokenNgrams(col("s"), 4).as("n4")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)) // n=2 ≡ bigrams
    }
    val abc = rows(3)
    assert(abc.getSeq[String](2) == Seq("a", "b", "c", "d", "e", "f"))
    assert(abc.getSeq[String](3) == Seq("a b c d", "b c d e", "c d e f"))
    assert(rows(1).getSeq[String](3) == Nil) // fewer than n tokens
    assert(rows(2).getSeq[String](2) == Nil) // empty input
  }

  test("contamination: planted benchmark n-gram overlap is found, clean docs aren't") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("contam").toString
    // Pick real bucket ids so the md5 split rule lands one doc in the
    // benchmark split (hb >= 3891), contaminated + clean docs in train
    // (hb < 3686)
    def hb(id: Long) = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(m.substring(0, 3), 16)
    }
    val benchId = (0L until 10000L).find(i => hb(i) >= 3891).get
    val trainIds = (0L until 10000L).filter(i => hb(i) < 3686).take(3)
    val leak = "alpha beta gamma delta" // the shared 4-gram
    val rows = Seq(
      (benchId, s"prefix words $leak suffix words"),
      (trainIds(0), s"contaminated document containing $leak verbatim"),
      (trainIds(1), "entirely clean document with its own fresh content"),
      (trainIds(2), s"double $leak and again $leak here")) // distinct-counted once
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.contamination(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(trainIds(0) -> 1L, trainIds(2) -> 1L))
  }

  test("dsir: target-vocabulary candidates outscore unrelated candidates; keep follows sign") {
    import graft.operators.TextAnalysis
    // plant the split by computing hb(doc_id) the same way the
    // operator does: target docs (hb >= 3891) carry a distinct
    // vocabulary; candidate docs either share it (should score high /
    // keep) or use their own (should score low / drop)
    def hb(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(3), 16)
    }
    val ids = (0L until 400L)
    val targetIds = ids.filter(hb(_) >= 3891).take(8)
    val candIds = ids.filter(hb(_) < 3891).take(8)
    assert(targetIds.size == 8 && candIds.size == 8, "fixture needs both splits")
    val targetVocab = "quantum lattice spinor gauge boson fermion"
    val otherVocab = "recipe butter flour sugar oven whisk"
    val rows =
      targetIds.map(i => (i, targetVocab, "t")) ++
      candIds.take(4).map(i => (i, targetVocab, "c")) ++        // target-like
      candIds.drop(4).map(i => (i, otherVocab, "c"))            // unrelated
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.dsir(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getLong(3))).toMap
    // only candidates are scored — target docs never appear
    assert(got.keySet == candIds.toSet)
    val (likeT, unlike) = (candIds.take(4), candIds.drop(4))
    likeT.foreach { i =>
      unlike.foreach { j =>
        assert(got(i)._1 > got(j)._1,
          s"target-like $i (${got(i)._1}) must outscore unrelated $j (${got(j)._1})")
      }
    }
    // keep is exactly the sign of the truncated weight
    got.foreach { case (id, (w, keep)) =>
      assert(keep == (if (w > 0.0) 1L else 0L), s"doc $id keep/weight mismatch")
    }
    // and on this planted geometry the target-like docs are kept
    likeT.foreach(i => assert(got(i)._2 == 1L, s"target-like $i not kept"))
  }

  test("mergeRelease: tombstones win, upserts beat base, carries untouched, no ghost rows") {
    import graft.operators.Pipeline
    import org.apache.spark.sql.functions.md5
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", md5($"text").as("d")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Pipeline.mergeRelease(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = got.map(t => t._1 -> t).toMap
    assert(got.length == byId.size, "merge must emit each key once")
    docs.keys.foreach { id =>
      if (id % 37 == 0) assert(!byId.contains(id), s"tombstoned $id survived")
      else if (id % 50 == 0) assert(byId.get(id).exists(_._3 == "insert"), s"net-new $id")
      else if (id % 41 == 0) {
        val t = byId(id)
        assert(t._3 == "update" && t._2 != docs(id), s"edited $id must carry the new digest")
      } else {
        val t = byId(id)
        assert(t._3 == "carry" && t._2 == docs(id), s"untouched $id must keep its digest")
      }
    }
  }

  test("dsir batch (SQL path) == streaming (kernel path) on multi-byte UTF-8 tokens") {
    import graft.operators.TextAnalysis
    // the kernel buckets by md5 of the token's UTF-8 BYTES while the
    // SQL path buckets by md5(tok) on the string — a mojibake or
    // slicing bug diverges exactly here, and the corpus fixture is
    // mostly ASCII, so plant CJK/emoji/accented tokens explicitly
    def hb(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(3), 16)
    }
    val ids = (0L until 400L)
    val targetIds = ids.filter(hb(_) >= 3891).take(6)
    val candIds = ids.filter(hb(_) < 3891).take(6)
    val vocabT = "数据 清洗 去重 🙂 café naïve"
    val vocabO = "Привет мир здесь ёлка 🚀 über"
    val rows = targetIds.map(i => (i, vocabT, "t")) ++
      candIds.take(3).map(i => (i, vocabT, "c")) ++
      candIds.drop(3).map(i => (i, vocabO, "c"))
    val dir = java.nio.file.Files.createTempDirectory("dsir-utf8").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val batch = TextAnalysis.dsir(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val streamed = graft.streaming.StreamingOps.dsirViaStream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(batch.nonEmpty, "fixture produced no scored candidates")
    assert(streamed == batch)
    // and the planted geometry still separates on multi-byte vocab
    val w = batch.map(r => r._1 -> r._3).toMap
    candIds.take(3).foreach { i =>
      candIds.drop(3).foreach { j =>
        assert(w(i) > w(j), s"target-like $i must outscore unrelated $j on UTF-8 vocab")
      }
    }
  }

  test("dsirSample: exact driver-recomputed Gumbel top-k, deterministic, TakeOrderedAndProject") {
    import graft.operators.TextAnalysis
    val k = 16
    val df = TextAnalysis.dsirSample(spark, sfDir, k = k)
    // plan: global top-k must be per-partition heaps, not a sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    val got = df.collect().map(r => r.getLong(0)).toSet
    assert(got.size == k)
    // exact driver-side recompute from the batch weights: u and the
    // Gumbel transform are the same doubles (md5 hex → exact ints →
    // same division and Math.log), so set equality is exact, not
    // approximate
    def u(id: Long): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(28, 32), 16) + 1.0) / 65537.0
    }
    val weights = TextAnalysis.dsir(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
    val expected = weights
      .map { case (id, w) => (id, w - math.log(-math.log(u(id)))) }
      .sortBy { case (id, key) => (-key, id) }
      .take(k).map(_._1).toSet
    assert(got == expected)
    // deterministic noise: a second run returns the identical sample
    val again = TextAnalysis.dsirSample(spark, sfDir, k = k)
      .collect().map(_.getLong(0)).toSet
    assert(again == got)
  }

  test("round-5 operators degrade to empty results on an empty corpus (no NPEs)") {
    import graft.operators.{Dedup, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("empty").toString
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // each builds AND executes without unboxing nulls or dividing by 0
    assert(TextAnalysis.repetition(spark, dir).count() == 0)
    assert(TextAnalysis.tfidf(spark, dir).count() == 0)
    assert(TextAnalysis.contamination(spark, dir).count() == 0)
    assert(Dedup.incrementalDedup(spark, dir).count() == 0)
    // the round-5 snapshot additions: segmentDedup joins against an
    // empty dup set, mixtureWeights' normalizing sums are NULL on an
    // empty per-source frame (its explode must emit nothing, not
    // divide by null), compressionRatio is a plain map
    assert(Dedup.segmentDedup(spark, dir).count() == 0)
    assert(TextAnalysis.mixtureWeights(spark, dir).count() == 0)
    assert(TextAnalysis.compressionRatio(spark, dir).count() == 0)
    // BPE training on an empty word dict yields an empty merge table
    assert(TextAnalysis.bpeTokenCount(spark, dir).count() == 0)
    // round-6 operators: gopher/pii are pure maps, the data card's
    // per-source aggregation and phash banding join over nothing
    assert(TextAnalysis.gopherQuality(spark, dir).count() == 0)
    assert(TextAnalysis.piiScrub(spark, dir).count() == 0)
    assert(graft.operators.Pipeline.dataCard(spark, dir).count() == 0)
    assert(graft.operators.Multimodal.phashDedup(spark, dir).count() == 0)
    // round-7 operators: repetition battery + classifier are pure
    // maps, the source cap windows over nothing
    assert(TextAnalysis.gopherRepetition(spark, dir).count() == 0)
    assert(TextAnalysis.qualityClassifier(spark, dir).count() == 0)
    assert(TextAnalysis.sourceCap(spark, dir).count() == 0)
    // round-8: DSIR's LM totals are NULL sums on an empty corpus — the
    // coalesce must degrade to an empty scored frame, not unbox null
    assert(TextAnalysis.dsir(spark, dir).count() == 0)
    // round-8 additions: span marking/rollup and source overlap window
    // and join over nothing; ccnet's percentile sketch aggregates to a
    // NULL array (the Option guard must not unbox it); retention's
    // user window sees no events
    assert(Dedup.duplicatedSpans(spark, dir).count() == 0)
    assert(Dedup.spanStats(spark, dir).count() == 0)
    assert(Dedup.sourceOverlap(spark, dir).count() == 0)
    assert(TextAnalysis.ccnetBuckets(spark, dir).count() == 0)
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.operators.Events.retention(spark, dir).count() == 0)
    assert(graft.operators.Pipeline.scd2(spark, dir).count() == 0)
    assert(graft.operators.Events.transitions(spark, dir).count() == 0)
  }

  test("transitions: session gap excludes pairs, ppm is exact long division") {
    import graft.operators.Events
    val dir = java.nio.file.Files.createTempDirectory("trans").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    Seq(
      (1L, ts(100), 1L, "a", 0.0, "{}"),
      (2L, ts(200), 1L, "b", 0.0, "{}"),
      (3L, ts(300), 1L, "b", 0.0, "{}"),
      (4L, ts(400), 1L, "a", 0.0, "{}"),
      (5L, ts(5000), 1L, "x", 0.0, "{}"), // 4600 s gap: excluded
      (6L, ts(100), 2L, "a", 0.0, "{}"),
      (7L, ts(200), 2L, "c", 0.0, "{}"),
      (8L, ts(300), 2L, "a", 0.0, "{}"),
      (9L, ts(400), 2L, "c", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.transitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "b", 1L, 333333L),
      ("a", "c", 2L, 666666L),
      ("b", "a", 1L, 500000L),
      ("b", "b", 1L, 500000L),
      ("c", "a", 1L, 1000000L)), got.mkString("\n"))
    // row probabilities sum to 1 within ppm truncation per from_type
    got.groupBy(_._1).values.foreach { vs =>
      val s = vs.map(_._4).sum
      assert(s > 1000000L - vs.length && s <= 1000000L, s"ppm sum $s")
    }
  }

  test("scd2: runs collapse, versions chain half-open, ties break on event_id") {
    import graft.operators.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("scd2").toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: free free pro pro free → three versions (runs collapse);
    // user 2: one event → a single open current version;
    // user 3: two changes at the SAME timestamp → event_id decides
    Seq(
      (1L, ts(100), 1L, "free", 0.0, "{}"),
      (2L, ts(200), 1L, "free", 0.0, "{}"),
      (3L, ts(300), 1L, "pro", 0.0, "{}"),
      (4L, ts(400), 1L, "pro", 0.0, "{}"),
      (5L, ts(500), 1L, "free", 0.0, "{}"),
      (6L, ts(150), 2L, "trial", 0.0, "{}"),
      (7L, ts(700), 3L, "a", 0.0, "{}"),
      (8L, ts(700), 3L, "b", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Pipeline.scd2(spark, dir).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 1, "free", 100L, Some(300L), 0L),
      (1L, 2, "pro", 300L, Some(500L), 0L),
      (1L, 3, "free", 500L, None, 1L),
      (2L, 1, "trial", 150L, None, 1L),
      (3L, 1, "a", 700L, Some(700L), 0L),
      (3L, 2, "b", 700L, None, 1L)), got.mkString("\n"))
    // exactly one current version per user, and it is the last one
    val byUser = got.groupBy(_._1)
    byUser.values.foreach { vs =>
      assert(vs.count(_._6 == 1L) == 1, "one current row per user")
      assert(vs.maxBy(_._2)._6 == 1L, "current row is the max version")
    }
  }

  test("deflate length kernel ≡ direct java.util.zip recompute; ratio ordering") {
    import graft.functions.{DeflatedLen, TextFunctions}
    // independent reference: fresh Deflater per string at the kernel's
    // pinned level — shares no state with the kernel's ThreadLocal path
    def ref(s: String): Long = {
      val d = new java.util.zip.Deflater(DeflatedLen.Level)
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val buf = new Array[Byte](4096)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end(); n
    }
    val rnd = new scala.util.Random(42)
    val repetitive = "spam ham " * 200
    val natural = "the quick brown fox jumps over the lazy dog and then " +
      "considers whether query planners dream of relational algebra " * 3
    val incompressible = Array.fill(1800)(rnd.nextPrintableChar()).mkString
    val samples = Seq(repetitive, natural, incompressible, "", "a",
      "héllo wörld ünïcode ✓ ✗ 你好", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa") ++
      (1 to 20).flatMap(n => Gen.listOfN(300, Gen.asciiPrintableChar)
        .map(_.mkString).apply(Gen.Parameters.default, Seed(n.toLong)))
    val got = samples.toDF("s").select(TextFunctions.deflateLen(col("s")))
      .collect().map(_.getLong(0))
    samples.zip(got).foreach { case (s, n) =>
      assert(n == ref(s), s"deflate_len mismatch for ${s.take(40)}…")
    }
    // the quality signal's point: ratio orders repetitive ≪ natural ≪ random
    def ratio(s: String) = ref(s).toDouble / s.getBytes("UTF-8").length
    assert(ratio(repetitive) < ratio(natural))
    assert(ratio(natural) < ratio(incompressible))
  }

  test("char entropy kernel ≡ driver recompute (incl. multi-byte codepoints); empty → 0.0; SQL registration live") {
    import graft.functions.TextFunctions
    // independent reference: codepoint histogram via a plain Scala
    // Map, -Σ p·log2 p — shares no code with the kernel's
    // ascii-array-fast-path accumulation
    def ref(s: String): Double = {
      if (s.isEmpty) return 0.0
      val counts = s.codePoints().toArray.groupBy(identity).map(_._2.length)
      val n = counts.sum.toDouble
      counts.map { c => val p = c / n; -p * (math.log(p) / math.log(2.0)) }.sum
    }
    val samples = Seq(
      "", "a", "aaaa", "ab", "abab",
      "the quick brown fox jumps over the lazy dog",
      "héllo wörld ünïcode ✓ ✗ 你好你好", // multi-byte, incl. repeats
      "😀😀x", // surrogate-pair codepoints count once each
      "0123456789" * 7) ++
      (1 to 20).flatMap(n => Gen.listOfN(200, Gen.asciiPrintableChar)
        .map(_.mkString).apply(Gen.Parameters.default, Seed(100L + n)))
    val got = samples.toDF("s").select(TextFunctions.charEntropy(col("s")))
      .collect().map(_.getDouble(0))
    samples.zip(got).foreach { case (s, h) =>
      assert(math.abs(h - ref(s)) < 1e-9, s"entropy mismatch for ${s.take(40)}…")
    }
    assert(got(0) == 0.0) // empty-string contract, exact
    // single repeated codepoint → exactly 0 bits; two balanced → exactly 1
    assert(got(2) == 0.0 && math.abs(got(3) - 1.0) < 1e-12)
    // the registered SQL surface evaluates the same kernel
    GraftExtensions.register(spark)
    val viaSql = spark.sql("SELECT graft_char_entropy('abab')").head().getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("pii scrub: planted email/url/ip/number fixtures redact by category, cascade order holds") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("pii").toString
    // (text, expected scrubbed form, n_email, n_url, n_ip, n_num)
    val cases = Seq(
      ("contact john.doe+spam@example.org or admin@sub.example.co.uk today",
        "contact <EMAIL> or <EMAIL> today", 2L, 0L, 0L, 0L),
      ("see https://example.com/path?q=1 and http://10.0.0.1/admin",
        "see <URL> and <URL>", 0L, 2L, 0L, 0L), // the in-URL IP is <URL>, not <IP>
      ("server at 192.168.1.254 and 8.8.8.8 responded",
        "server at <IP> and <IP> responded", 0L, 0L, 2L, 0L),
      ("call 5551234567 ext 890 room 42",
        "call <NUM> ext <NUM> room 42", 0L, 0L, 0L, 2L), // 42 is under the 3-digit floor
      ("mail bob@x.io at http://bob.io/1234 from 1.2.3.4 code 98765",
        "mail <EMAIL> at <URL> from <IP> code <NUM>", 1L, 1L, 1L, 1L),
      ("clean text with nothing to hide",
        "clean text with nothing to hide", 0L, 0L, 0L, 0L))
    cases.zipWithIndex.map { case ((t, _, _, _, _, _), i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = TextAnalysis.piiScrub(spark, dir).collect()
    got.zip(cases).foreach { case (r, (_, scrubbed, ne, nu, ni, nn)) =>
      val id = r.getLong(0)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((ne, nu, ni, nn)), s"doc $id category counts")
      assert(r.getLong(5) == scrubbed.length.toLong, s"doc $id scrubbed length")
      assert(r.getString(6) == md5hex(scrubbed), s"doc $id scrubbed md5")
    }
  }

  test("gopher counts kernel ≡ JVM-regex reference; planted rule fixtures flag") {
    import graft.functions.{GopherCounts, TextFunctions}
    // independent reference built on java.util.regex + String ops —
    // shares nothing with the kernel's byte scans
    def ref(text: String): Seq[Long] = {
      val words = text.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
      val lines = text.split("\n", -1)
      def trim(l: String) = l.replaceAll("^[ \\t\\r]+|[ \\t\\r]+$", "")
      val low = words.map(_.toLowerCase).toSet
      Seq(
        words.length.toLong,
        words.map(w => w.codePointCount(0, w.length).toLong).sum,
        words.count(_.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toLong,
        GopherCounts.StopWords.count(low.contains).toLong,
        (text.count(_ == '#') + text.count(_ == '…')).toLong,
        lines.length.toLong,
        lines.count(l => trim(l).headOption.exists(c => c == '-' || c == '*' || c == '•')).toLong,
        lines.count(l => trim(l).endsWith("...") || trim(l).endsWith("…")).toLong)
    }
    val adversarial = Seq(
      "", "   ", "short",
      "the quick brown fox with plenty of words that have been to be",
      "- bullet one\n- two\n* three\n• four",
      "ends here...\nthis too…\nplain",
      "### hash #tags # everywhere",
      "héllo wörld ünïcode 你好 with the and of",
      "THE BE TO OF AND THAT HAVE WITH", // case-folded stop hits = 8
      "•\n-\n...\nx", "a\r\nb\r\nc...", // CR-LF lines, ellipsis after \r-trim
      "\n\n\n", "token token\u000btoken") // vertical tab: kernel splits it (Java \s contract)
    val gen = Gen.listOfN(60, Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.const('\n'),
      1 -> Gen.oneOf('#', '.', '-', '*', '…', '•', '\t')))
      .map(_.mkString)
    val samples = adversarial ++ (1 to 40).flatMap(n =>
      gen.apply(Gen.Parameters.default, Seed(500L + n)))
    val got = samples.toDF("s").select(TextFunctions.gopherCounts(col("s")))
      .collect().map(_.getSeq[Long](0))
    samples.zip(got).foreach { case (s, g) =>
      assert(g == ref(s), s"gopher counts mismatch for '${s.take(60)}'")
    }
    // rule fixtures through the full query path: a clean 60-word doc
    // keeps; a bullet list, a symbol-heavy doc, and a stopword-free
    // doc are each rejected by exactly the intended rule
    val dir = java.nio.file.Files.createTempDirectory("gopher").toString
    val clean = ("the data pipeline reads parquet files and writes curated " +
      "output with careful attention to every quality rule that matters " +
      "because scale makes manual review impossible so the filters have " +
      "to be exact and the thresholds have to hold up under pressure " +
      "from adversarial content of every shape since the answer here " +
      "is measured not guessed").trim
    val bullets = (1 to 10).map(i => s"- item number $i in the list of the items").mkString("\n")
    val hashy = (("the config of the run that we have " * 7) + ("#### " * 30)).trim
    val nostop = "alpha beta gamma delta epsilon zeta " * 12
    Seq((0L, clean), (1L, bullets), (2L, hashy), (3L, nostop.trim))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val q = graft.operators.TextAnalysis.gopherQuality(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q(0L).getLong(8) == 1L, "clean doc must keep")
    assert(q(1L).getLong(8) == 0L && q(1L).getDouble(6) >= 0.9, "bullet rule")
    assert(q(2L).getLong(8) == 0L && q(2L).getDouble(3) >= 0.1, "symbol rule")
    assert(q(3L).getLong(8) == 0L && q(3L).getLong(5) < 2, "stop-list rule")
  }

  test("token segments ≡ split-based reference; tumbling coverage") {
    import graft.functions.TextFunctions
    // reference: whitespace split → grouped(width) → rejoin, built on
    // the JDK, not the kernel's byte-offset scan
    def ref(s: String, w: Int): Seq[String] =
      s.split("\\s+").filter(_.nonEmpty).grouped(w).map(_.mkString(" ")).toSeq
    val adversarial = Seq(
      "a b c d e f g h i", "a b c d e f g h i j", // short last window / exact
      "  leading", "trailing  ", "", "   ", "one",
      "tab\tand\nnewlineseparated tokens here",
      "héllo wörld ünïcode ✓ multi byte träils ok 你好 世界",
      "a  b   c    d     e") // widening gaps
    val gen = Gen.listOfN(25, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.const('\t'))).map(_.mkString)
    val samples = adversarial ++ (1 to 30).flatMap(n =>
      gen.apply(Gen.Parameters.default, Seed(100L + n)))
    for (w <- Seq(1, 3, 4, 100)) {
      val got = samples.toDF("s")
        .select(TextFunctions.tokenSegments(col("s"), w))
        .collect().map(_.getSeq[String](0))
      samples.zip(got).foreach { case (s, segs) =>
        assert(segs == ref(s, w), s"width=$w mismatch for '$s'")
        // tumbling coverage: segments rejoin to exactly the token stream
        assert(segs.flatMap(_.split(" ")).filter(_.nonEmpty) ==
          s.split("\\s+").filter(_.nonEmpty).toSeq)
      }
    }
  }

  test("rolling fingerprint ≡ independent per-window recompute; overlap tracks edits") {
    import graft.functions.SketchFunctions
    // independent reference: recompute the polynomial hash from
    // scratch for every window (O(n·w)) — shares NO code with the
    // kernel's O(n) rolling update
    def ref(s: String, w: Int, k: Int): Seq[Long] = {
      val b = s.getBytes("UTF-8")
      if (b.isEmpty) Nil
      else {
        val ww = math.min(w, b.length)
        (0 to b.length - ww).map { i =>
          b.slice(i, i + ww).foldLeft(0L)((h, x) => h * 257L + (x & 0xff))
        }.distinct.sorted.take(k)
      }
    }
    val gen = Gen.listOfN(40, Gen.alphaNumChar).map(_.mkString)
    val samples = (1 to 30).flatMap(n =>
      gen.apply(Gen.Parameters.default, Seed(n.toLong))) ++
      Seq("", "ab", "aaaaaaaaaaaaaaaaaaaaaaaa", "word word word word word")
    val df = samples.toDF("s")
    val got = df.select(SketchFunctions.rollingMinK(col("s"), 16, 8))
      .collect().map(_.getSeq[Long](0))
    samples.zip(got).foreach { case (s, fp) =>
      assert(fp == ref(s, 16, 8), s"mismatch for '$s'")
    }
    // overlap behavior: identical docs share everything; an appended
    // tail preserves most of a long doc's windows; unrelated text
    // shares nothing
    val base = "the quick brown fox jumps over the lazy dog again and again and again"
    def fp(s: String) = ref(s, 16, 8).toSet
    assert(fp(base) == fp(base))
    assert((fp(base) & fp(base + " tail")).size >= 6)
    assert((fp(base) & fp("completely different content about query planners")).isEmpty)
  }

  test("lm score: corpus-typical text scores lower nll than anomalous text") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("lm").toString
    // docs 0-7 repeat the same phrasing (high-count bigrams); doc 8
    // is one-off word salad (every bigram count 1 → smoothing floor)
    val common = (0L until 8L).map(i => (i, "the quick brown fox jumps high"))
    val rows = common :+ ((8L, "zanzibar quartz vexing jukebox glyphs nymph"))
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.lmScore(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.size == 9)
    assert(got(0L) == got(7L)) // identical docs, identical scores
    assert(got(8L) > got(0L) * 2,
      s"word salad ${got(8L)} should far exceed typical ${got(0L)}")
    // pruned-LM fallback: with the model capped to 1 bigram, unseen
    // bigrams hit the smoothing floor but every doc still scores
    val pruned = TextAnalysis.lmScore(spark, dir, maxLm = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(pruned.size == 9)
    assert(pruned(0L) >= got(0L)) // lost mass can only raise nll
  }

  test("repetition: planted boilerplate flags, distinct-bigram text does not") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      (0L, "spam spam spam spam spam spam spam spam spam"), // 8 bigrams, 1 distinct
      (1L, "one two three four five six seven eight nine"), // all distinct
      (2L, "a b a b a b a b"),                              // 7 bigrams, 2 distinct
      (3L, "word"),                                         // 0 bigrams → dup_frac 0
      (4L, ""))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))))
      .toMap
    assert(got(0L) == ((8L, 1L, math.floor((1.0 - 1.0 / 8) * 10000) / 10000, 1L)))
    assert(got(1L) == ((8L, 8L, 0.0, 0L)))
    assert(got(2L) == ((7L, 2L, math.floor((1.0 - 2.0 / 7) * 10000) / 10000, 1L)))
    assert(got(3L) == ((0L, 0L, 0.0, 0L)))
    assert(got(4L) == ((0L, 0L, 0.0, 0L)))
  }

  test("tfidf: doc-unique terms outrank corpus-wide terms; ties break by term") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    // "common" appears in every doc (idf → ln(4/4)=0 ⇒ tfidf 0);
    // each doc also has a unique term that must rank first
    Seq(
      (0L, "common zebra zebra"),
      (1L, "common apple"),
      (2L, "common mango"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.tfidf(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val top = got.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    assert(top == Map(0L -> "zebra", 1L -> "apple", 2L -> "mango"))
    // idf of the everywhere-term is ln(4/4) = 0 ⇒ tfidf exactly 0
    assert(got.filter(_._2 == "common").forall(_._4 == 0.0))
    // doc 0: zebra tf=2/3, idf=ln(4/2) — check the truncated value
    val zebra = got.find(t => t._1 == 0L && t._2 == "zebra").get._4
    assert(zebra == math.floor(2.0 / 3.0 * math.log(4.0 / 2.0) * 1e6) / 1e6)
  }

  // ---- Gopher repetition battery (round 7) ----

  /** Independent driver-side recompute of the repetition fractions —
    * plain Scala collections, shares nothing with the runMass HOF
    * fold or the TokenNgrams kernel. */
  private def repRef(text: String): Map[String, Double] = {
    val len = math.max(text.length, 1).toDouble
    def frac(mass: Long, den: Double = len): Double =
      math.min(math.floor(mass * 10000.0 / den) / 10000.0, 1.0)
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def counts(n: Int): Map[String, Int] =
      if (toks.length < n) Map.empty
      else toks.sliding(n).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, o) => g -> o.size }
    def top(n: Int): Long = {
      val c = counts(n)
      if (c.isEmpty) 0L
      else {
        // iterator, NOT Map.map — mapping a Map to (count, len) pairs
        // re-keys by count and silently drops same-count grams
        val (cnt, glen) = c.iterator.map { case (g, k) => (k, g.length) }.max
        cnt.toLong * glen
      }
    }
    def dup(n: Int): Long =
      counts(n).collect { case (g, k) if k >= 2 => k.toLong * g.length }.sum
    val lines = text.split("\n", -1).toSeq
    val lineCounts = lines.groupBy(identity).map { case (l, o) => l -> o.size }
    val dupLineMass =
      lineCounts.collect { case (l, k) if k >= 2 => k.toLong * l.length }.sum
    Map("dup_line_frac" ->
        frac((lines.size - lines.distinct.size).toLong, math.max(lines.size, 1)),
      "dup_line_char_frac" -> frac(dupLineMass)) ++
      (2 to 4).map(n => s"top${n}_frac" -> frac(top(n))) ++
      (5 to 10).map(n => s"dup${n}_frac" -> frac(dup(n)))
  }

  test("gopher repetition battery ≡ independent recompute on adversarial docs") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "b", "ccc", "dd", "e")
    val generated = (1 to 40).map { i =>
      val n = rnd.nextInt(40)
      val seps = Vector(" ", " ", "\n", "  ", "\t")
      val sb = new StringBuilder
      (0 until n).foreach { j =>
        if (j > 0) sb.append(seps(rnd.nextInt(seps.size)))
        sb.append(vocab(rnd.nextInt(vocab.size)))
      }
      (i.toLong, sb.toString)
    }
    val edge = Seq(
      (100L, ""), (101L, "   "), (102L, "x"), (103L, "x\nx\ny"),
      (104L, "x\nx\n"), // trailing newline: split must keep the empty tail
      (105L, "a a a a"),
      (106L, Seq.fill(5)("p q r").mkString(" ")),
      (107L, "é ü é ü é ü")) // multi-byte: fractions use CHAR length
    val docs = (generated ++ edge).toDF("doc_id", "text")
    val cols = Seq("dup_line_frac", "dup_line_char_frac") ++
      (2 to 4).map(n => s"top${n}_frac") ++ (5 to 10).map(n => s"dup${n}_frac")
    val got = TextAnalysis.withRepetitionSignals(docs)
      .select(col("doc_id") +: col("text") +: cols.map(col): _*)
      .collect()
    got.foreach { r =>
      val ref = repRef(r.getString(1))
      cols.zipWithIndex.foreach { case (c, i) =>
        assert(r.getDouble(2 + i) == ref(c),
          s"doc ${r.getLong(0)} $c: got ${r.getDouble(2 + i)}, want ${ref(c)} " +
            s"for text ${r.getString(1).take(60)}")
      }
    }
  }

  test("gopher repetition fixtures: caps, empty doc, duplicate lines, keep flag") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a a a a"), // "a a" ×3, mass 9 over 7 chars → capped at 1.0
      (2L, ""), // everything 0, keep stays 1
      (3L, "x\nx\ny"), // 1 dup line of 3 → 0.3333 > 0.30 → removed
      (4L, Seq.fill(5)("p q r").mkString(" ")) // periodic: every 5-gram duplicated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withRepetitionSignals(docs)
      .select("doc_id", "dup_line_frac", "dup_line_char_frac", "top2_frac",
        "top4_frac", "dup5_frac", "rep_keep")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 1.0) // top2 capped
    assert(out(1L).getDouble(4) == 1.0) // "a a a a" ×1, mass 7 over 7 chars
    assert(out(1L).getDouble(5) == 0.0) // no 5-grams in a 4-token doc
    assert(out(2L).getDouble(1) == 0.0 && out(2L).getDouble(3) == 0.0 &&
      out(2L).getLong(6) == 1L) // empty doc trips nothing
    assert(out(3L).getDouble(1) == 0.3333) // floor(1/3 · 1e4)/1e4
    assert(out(3L).getDouble(2) == 0.4) // dup "x" chars: 2 of 5
    assert(out(3L).getLong(6) == 0L) // 0.3333 > 0.30 → removed
    assert(out(4L).getDouble(5) == 1.0) // all 5-grams duplicated → capped
    assert(out(4L).getLong(6) == 0L)
  }

  test("quality classifier: keep ⇔ logit sign, both classes occur at sf0.001") {
    val rows = graft.operators.TextAnalysis.qualityClassifier(spark, sfDir)
      .collect()
    rows.foreach { r =>
      val (logit, keep) = (r.getDouble(1), r.getLong(2))
      // keep is decided on the UNtruncated logit; floor-truncation can
      // only pull a positive logit down to 0.0, never across zero
      if (keep == 1L) assert(logit >= 0.0, s"keep=1 with logit $logit")
      else assert(logit <= 0.0, s"keep=0 with logit $logit")
    }
    val kept = rows.count(_.getLong(2) == 1L)
    assert(kept > 0 && kept < rows.length,
      s"classifier is degenerate: $kept/${rows.length} kept")
  }

  test("ccnetBuckets: balanced tertile bands, monotone boundaries, deterministic") {
    val got = graft.operators.TextAnalysis.ccnetBuckets(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val n = got.length
    assert(n > 0)
    val byBucket = got.groupBy(_._3).map { case (b, rs) => b -> rs.map(_._2) }
    assert(byBucket.keySet == Set("head", "middle", "tail"),
      s"bands present: ${byBucket.keySet}")
    // accuracy ≫ rows ⇒ the sketch is exact here: each band holds a
    // tertile of the corpus up to ties at the cut values
    byBucket.foreach { case (b, vs) =>
      assert(vs.length > n / 4 && vs.length < n * 5 / 12,
        s"band $b collapsed or bloated: ${vs.length} of $n")
    }
    // head = most fluent (lowest nll); boundaries must not interleave
    assert(byBucket("head").max <= byBucket("middle").min,
      "head/middle boundary interleaves")
    assert(byBucket("middle").max <= byBucket("tail").min,
      "middle/tail boundary interleaves")
    // same corpus, same cutoff artifact → identical banding
    val again = graft.operators.TextAnalysis.ccnetBuckets(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == again.toSeq, "banding must be deterministic")
  }

  test("rrf fusion ≡ exact driver-side recompute from the two rank lists") {
    // the oracle proves Spark ≡ DuckDB on the same formula; this gate
    // proves the formula ITSELF: fuse the two arms' rank lists in
    // plain Scala and require the identical fused top-10 per query
    val lex = graft.operators.TextAnalysis.bm25(spark, sfDir, topK = 20)
      .select("query_id", "doc_id", "rk").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val emb = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.round(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val dense = (0L until 3L).flatMap { q =>
      val qv = emb.find(_._1 == q).get._2
      emb.map { case (id, v) => (q, id, cos(qv, v)) }
        .sortBy { case (_, id, c) => (-c, id) }.take(20).zipWithIndex
        .map { case ((_, id, _), i) => ((q, id), i + 1L) }
    }.toMap
    val expected = (0L until 3L).map { q =>
      val cands = (lex.keySet ++ dense.keySet).filter(_._1 == q)
      q -> cands.toSeq.map { k =>
        val s = lex.get(k).map(r => 1.0 / (r + 60)).getOrElse(0.0) +
          dense.get(k).map(r => 1.0 / (r + 60)).getOrElse(0.0)
        (k._2, math.floor(s * 1e6) / 1e6)
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1)
    }.toMap
    val got = graft.operators.TextAnalysis.hybridRrf(spark, sfDir)
      .select("query_id", "doc_id", "rk").collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
      }
    assert(got == expected, "fused top-10 diverged from driver recompute")
  }

  test("source cap: at most `cap` docs per source, quality-ordered") {
    val out = graft.operators.TextAnalysis.sourceCap(spark, sfDir, cap = 3)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getLong(3)))
    val bySource = out.groupBy(_._1)
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, rows) =>
      assert(rows.length <= 3, s"$src exceeded the cap")
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length),
        s"$src ranks not contiguous")
      // quality non-increasing in rank
      val byRank = rows.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"$src")
    }
  }

  test("ev_rfm: scores in 1..5, digit reconstruction, bands monotone in their metric") {
    val rows = graft.operators.Events.rfm(spark, sfDir).collect().map(r =>
      (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, rs, fs, ms, rfm) =>
      assert(Seq(rs, fs, ms).forall(x => x >= 1 && x <= 5), s"score out of band: $rs $fs $ms")
      assert(rfm == rs * 100 + fs * 10 + ms, s"combined score must be the three digits: $rfm")
    }
    // banding must be monotone in its own metric: more frequency /
    // more spend never lowers the score; fewer days since last event
    // never lowers recency
    val byF = rows.sortBy(_._1).map(_._5)
    assert(byF.zip(byF.tail).forall { case (a, b) => a <= b }, "f_score not monotone")
    val byM = rows.sortBy(_._2).map(_._6)
    assert(byM.zip(byM.tail).forall { case (a, b) => a <= b }, "m_score not monotone")
    val byR = rows.sortBy(_._3).map(_._4)
    assert(byR.zip(byR.tail).forall { case (a, b) => a >= b }, "r_score not anti-monotone")
  }

  test("ShingleHashes/OverlapCoeffSorted ≡ string-shingle set composition") {
    import graft.functions.SketchFunctions
    // short-than-k, empty, multi-byte, and repeat-heavy inputs — the
    // same contract corners ShingleSet pins
    val texts = Seq("abcabcdeabc", "xyz", "ab", "", "ααβγδ κόσμε ΣΣ",
      "aaaaaaa", "the quick brown fox jumps over the lazy dog")
    val df = texts.toDF("text")
    val rows = df.select(
      SketchFunctions.shingleHashes(col("text"), 3).as("h"),
      SketchFunctions.shingles(col("text"), 3).as("s")).collect()
    def refHash(x: String): Long =
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(x),
        org.apache.spark.sql.types.StringType, 42L)
    rows.foreach { r =>
      val h = r.getSeq[Long](0)
      val s = r.getSeq[String](1)
      assert(h == s.map(refHash).sorted,
        s"hashed shingles must be the sorted hashes of the string set: $s")
      assert(h == h.sorted && h.distinct == h, "output must be sorted distinct")
    }
    // overlap coefficient: every pair vs the driver set formula
    val hs = rows.map(_.getSeq[Long](0))
    val pairs = for (i <- texts.indices; j <- texts.indices if i < j) yield (i, j)
    val a = pairs.map { case (i, j) => (texts(i), texts(j)) }.toDF("t1", "t2")
    val got = a.select(SketchFunctions.overlapCoeff(
        SketchFunctions.shingleHashes(col("t1"), 3),
        SketchFunctions.shingleHashes(col("t2"), 3)).as("c"))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((i, j), c) =>
      val (x, y) = (hs(i).toSet, hs(j).toSet)
      val expect = if (x.isEmpty || y.isEmpty) 0.0
        else (x & y).size.toDouble / math.min(x.size, y.size)
      assert(c == expect, s"pair ($i,$j): $c vs $expect")
    }
  }

  test("animated-GIF fixture composition holds for arbitrary text (generated corpus)") {
    // the r17 oracle-rotation gate, property-form: random document
    // texts through genPayload must decode to EXACTLY the closed-form
    // displayed-pixel rule the DuckDB oracles encode — an independent
    // recompute of the canvas walk (disposal 2/3, transparency,
    // interlace, bg-color base, frame-3 local inverted table) that no
    // fixture hand-pick can overfit
    import graft.operators.{MediaCodec, Multimodal}
    val charGen: Gen[Char] = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '.', ',', '!', '\n', '&', '<', '>'),
      1 -> Gen.oneOf('\u00e9', '\u2014', '\u2603'))
    val textGen: Gen[String] = Gen.chooseNum(0, 300)
      .flatMap(n => Gen.listOfN(n, charGen)).map(_.mkString)
    val gifIds = Seq(5L, 11L, 17L, 23L, 29L, 35L, 41L) // nfr 2..8
    samples(textGen, 35).zipWithIndex.foreach { case (text, s) =>
      val id = gifIds(s % gifIds.length)
      val tb0 = text.codePoints.toArray.map(cp => if (cp <= 127) cp else 63)
      val tb = if (tb0.isEmpty) Array(0) else tb0 // genPayload's empty-text fallback
      val n = tb.length
      def unit(i: Long): Int = tb((i % n).toInt)
      val (kind, payload) = Multimodal.genPayload(id, text)
      assert(kind == "video")
      val w = (8 + id % 25).toInt; val h = (8 + (id * 7) % 25).toInt
      val nf = (2 + id % 7).toInt
      val bw = w / 2; val bh = h / 2
      val bgv = if ((id / 6) % 2 == 1) 200 else 255
      def d(k: Int, x: Int, y: Int): Int = {
        val lk = (3 * k) % (w - bw + 1); val tk = (5 * k) % (h - bh + 1)
        val l1 = 3 % (w - bw + 1); val t1 = 5 % (h - bh + 1)
        val j = (y - tk) * bw + (x - lk)
        if (k >= 1 && x >= lk && x < lk + bw && y >= tk && y < tk + bh && j % 5 != 4) {
          val v = unit(k.toLong * bw * bh + j)
          if (k == 3) 255 - v else v
        }
        else if (k >= 2 && x >= l1 && x < l1 + bw && y >= t1 && y < t1 + bh) bgv
        else unit((y * w + x).toLong)
      }
      val v = MediaCodec.decode(payload).asInstanceOf[MediaCodec.VideoMedia]
      assert(v.width == w && v.height == h && v.frames.length == nf)
      for (k <- 0 until nf) {
        val f = v.frames(k)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = y * w + x
            assert((f(i) & 0xff) == d(k, x, y),
              s"id $id frame $k Y($x,$y) for text '${text.take(30)}'")
            assert((f(w * h + i) & 0xff) == 128 && (f(2 * w * h + i) & 0xff) == 128)
            x += 1
          }
          y += 1
        }
      }
    }
  }

  test("extractText inverts htmlWrap for arbitrary text (generated adversarial corpus)") {
    // the raw-crawl extractor's load-bearing contract, property-form:
    // markup-adjacent characters, entity-lookalikes, whitespace runs,
    // CRLF, unicode and long runs all survive the wrap+extract loop
    val charGen: Gen[Char] = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('&', '<', '>', ';', '#', '"', '\'', '/', '!', '-'),
      1 -> Gen.oneOf(' ', '\t', '\n', '\r'),
      1 -> Gen.oneOf('\u00e9', '\u00df', '\u2014', '\u2603', '\u20ac'))
    val textGen: Gen[String] = Gen.chooseNum(0, 400)
      .flatMap(n => Gen.listOfN(n, charGen)).map(_.mkString)
    samples(textGen, 200).foreach { t =>
      val got = graft.sources.Warc.extractText(graft.sources.Warc.htmlWrap(t))
      assert(got == t, s"inverse failed for '${t.take(60)}'")
    }
    // entity-lookalike stress: strings that DECODE as entities must
    // still round-trip because htmlWrap escapes their ampersands
    Seq("&amp;", "&lt;x&gt;", "&#65;&#x42;", "&#xffff;", "&bogus;", "& #65;", "&&&&")
      .foreach { t =>
        assert(graft.sources.Warc.extractText(graft.sources.Warc.htmlWrap(t)) == t, t)
      }
  }

  test("robots parser: total, deterministic, comment-insensitive, fan-out-consistent (generated bodies)") {
    import graft.sources.Robots
    // generated robots-ish bodies: UA lines, rules, crawl-delays,
    // comments, unknown fields and raw noise in arbitrary order
    val lineGen: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("a", "b", "*", "A", "graftbot").map(a => s"User-agent: $a"),
      4 -> Gen.zip(Gen.oneOf("Disallow", "Allow", "disallow", "ALLOW"),
        Gen.oneOf("/", "/a", "/a/b", "/doc/1", "", "/x?y=1")).map { case (d, p) => s"$d: $p" },
      1 -> Gen.choose(0, 9).map(n => s"Crawl-delay: $n"),
      1 -> Gen.oneOf("# a comment", "Sitemap: https://x/s.xml", "noise without colon",
        "", "   ", "Unknown: field"))
    val bodyGen: Gen[String] = Gen.chooseNum(0, 30)
      .flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))
    samples(bodyGen, 120).foreach { body =>
      // total + deterministic
      val d1 = Robots.parseRobots("h", body)
      val d2 = Robots.parseRobots("h", body)
      assert(d1 == d2)
      // inserting a pure-comment line anywhere changes nothing
      val lines = body.split("\n", -1)
      val at = lines.length / 2
      val withComment = (lines.take(at) :+ "# inserted") ++ lines.drop(at)
      assert(Robots.parseRobots("h", withComment.mkString("\n")) == d1, body)
      // fan-out consistency: agents that share a group got IDENTICAL
      // rule sequences — group membership is an equivalence, so any
      // two agents whose directive lists interleave identically in
      // file order are indistinguishable; weaker but total check:
      // every directive is attributed to a known lowercased agent
      assert(d1.forall(x => x.userAgent == x.userAgent.toLowerCase), body)
      assert(d1.forall(x => Set("allow", "disallow", "crawl-delay", "sitemap")(x.directive)), body)
      // sitemap records are file-scoped: never group-attributed
      assert(d1.filter(_.directive == "sitemap").forall(_.userAgent == ""), body)
    }
    // fan-out exact: a two-agent group fans identically, fuzzed rules
    samples(Gen.listOfN(5, Gen.oneOf("Disallow: /a", "Allow: /b", "Crawl-delay: 1")), 20)
      .foreach { rules =>
        val body = ("User-agent: p" +: "User-agent: q" +: rules).mkString("\n")
        val d = Robots.parseRobots("h", body)
        assert(d.filter(_.userAgent == "p").map(x => (x.directive, x.value)) ==
          d.filter(_.userAgent == "q").map(x => (x.directive, x.value)), body)
      }
  }

  test("robots matcher: compliance's column matcher ≡ the pure RFC 9309 twin on generated wildcard patterns") {
    import graft.sources.Robots
    // rule values over a deliberately nasty alphabet: '*' wildcards,
    // the '$' end anchor (trailing = anchor, interior = literal),
    // LIKE metachars (% _ \) and regex metachars (. ?) that MUST stay
    // literal, URI separators — the r18 lesson, one layer up: the
    // matcher semantics cross a gate on inputs the fixture grammar
    // doesn't enumerate. A raw NEWLINE rides the alphabet too
    // (possible through the public compliance API on malformed crawl
    // data) \u2014 the pure twin compiles DOTALL + \z so '*' spans it and
    // the end anchor does not stop before it, exactly as LIKE does
    // (r19 advice)
    val octet: Gen[Char] = Gen.oneOf('a', 'b', '3', '7', '/', '.', '?', '%', '_', '$', '\\', '\u00e9', '\n')
    val segGen: Gen[String] = Gen.chooseNum(0, 4)
      .flatMap(n => Gen.listOfN(n, octet)).map(_.mkString)
    val valueGen: Gen[String] = for {
      parts <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, segGen))
      anchor <- Gen.oneOf("", "$")
    } yield "/" + parts.mkString("*") + anchor
    val pathGen: Gen[String] = Gen.chooseNum(0, 10)
      .flatMap(n => Gen.listOfN(n, octet)).map("/" + _.mkString)
    val cases = samples(Gen.zip(valueGen, pathGen), 300).zipWithIndex
    // ONE compliance call evaluates every pair through the real
    // column matcher: host i carries pattern i as its only (disallow)
    // rule, so allowed(i) == !matches(path_i, value_i)
    val rules = cases.map { case ((v, _), i) => (s"h$i", "bot", "disallow", v) }
      .toDF("host", "user_agent", "directive", "value")
    val docs = cases.map { case ((_, p), i) => (i.toLong, s"h$i", p) }
      .toDF("doc_id", "host", "path")
    val got = Robots.compliance(docs, rules, "bot").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    cases.foreach { case ((v, p), i) =>
      assert(got(i.toLong) == !Robots.ruleMatches(p, v),
        s"column matcher disagrees with the pure twin: value='$v' path='$p'")
    }
  }
}
