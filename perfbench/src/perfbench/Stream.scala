package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** `stream`: an open loop. A generator thread lands seeded event parquet
  * files (`StreamingOps.eventsSchema`) into a landing directory at a
  * fixed rate, on a schedule that does not wait for the stream.
  * `StreamingOps.eventsStream` feeds `tumblingCounts` (update mode) and
  * the stateful `purchaseClickJoin` (append mode), each through its own
  * `foreachBatch` sink. A file's latency runs from its landing to the
  * commit of the last batch, over both queries, that read it. */
final class StreamWorkload(conf: Main.Conf) extends Workload(conf) {
  /** Half the sustainable rate. On four cores (local[4]) an open-loop
    * sweep of 6.25, 12.5, 25, 35 and 50 files/s gave a batch round
    * (both queries' median batch, summed) of 2.3, 2.4, 2.6, 3.8 and
    * 5.1 s: flat up to 25 files/s, rising steeply above it. */
  val filesPerSecond = 12.5
  val rowsPerFile = 100
  val users = 5000
  val warmFiles = 1
  private val eventTypes = Array("click", "click", "click", "view", "view", "purchase", "signup")

  private var staged: Path = _
  private var nStaged = 0

  /** Rows of file `k`: event time advances 30 s per file, with up to a
    * minute of disorder inside the file — far inside the 30-minute
    * watermark, so no row is late. */
  private def fileRows(rnd: SplittableRandom, k: Int): Seq[Row] = {
    val base = 1704067200000000L + k * 30000000L
    (0 until rowsPerFile).map { j =>
      val ts = new java.sql.Timestamp((base - rnd.nextLong(60000000L)) / 1000L)
      val et = eventTypes(rnd.nextInt(eventTypes.length))
      val value = rnd.nextInt(100000) / 100.0
      Row(k.toLong * rowsPerFile + j, ts, rnd.nextInt(users).toLong, et, value,
        s"""{"page":"/p/${rnd.nextInt(500)}","ref":"r${rnd.nextInt(20)}"}""", k)
    }
  }

  /** Write every file the run can land, one parquet file per slot. */
  def stage(): Unit = {
    val n = math.max(warmUpFiles, warmFiles + math.ceil(filesPerSecond * conf.seconds).toInt + 2)
    val rnd = new SplittableRandom(conf.seed)
    val rows = (0 until n).flatMap(k => fileRows(rnd, k))
    val schema = StructType(StreamingOps.eventsSchema.fields :+ StructField("slot", IntegerType))
    val out = conf.work.resolve("staged")
    tracer.span("setup", "events.write") {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, conf.cpus), schema)
        .repartition(col("slot")).write.partitionBy("slot").parquet(out.toString)
    }
    staged = out
    nStaged = n
  }

  private val warmUpFiles = 20

  /** A short stream over the first staged files, landed in four rounds
    * of five: batches keep getting faster over their first few rounds,
    * so the timed window starts on warm code. */
  def warmUp(): Unit = {
    val landing = conf.work.resolve("warm-landing")
    Files.createDirectories(landing)
    val qs = start(landing, conf.work.resolve("warm-ckpt"), new Sinks)
    (0 until warmUpFiles by 5).foreach { r =>
      (r until r + 5).foreach(k => land(k, landing))
      qs.foreach(_.processAllAvailable())
    }
    qs.foreach(_.stop())
  }

  private def stagedFile(k: Int): Path = {
    val s = Files.list(staged.resolve(s"slot=$k"))
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private def land(k: Int, landing: Path): Long = {
    val tmp = landing.resolve(f".f-$k%05d.parquet.tmp")
    Files.copy(stagedFile(k), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, landing.resolve(f"f-$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    Clock.nowNs()
  }

  /** Driver-side sinks: the tumbling aggregate upserted per batch, the
    * join's appended matches. */
  final class Sinks {
    val windows = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, Double)]()
    val joined = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
  }

  private def start(landing: Path, ckpt: Path, sinks: Sinks): Seq[StreamingQuery] = {
    val events = StreamingOps.eventsStream(spark, landing.toString)
    val tumbling: (DataFrame, Long) => Unit = (df, id) => {
      df.collect().foreach { r =>
        sinks.windows.put((r.getTimestamp(0).getTime, r.getString(1)), (r.getLong(2), r.getDouble(3)))
      }
    }
    val join: (DataFrame, Long) => Unit = (df, id) => {
      df.collect().foreach { r =>
        sinks.joined.add((r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime))
      }
    }
    Seq(
      StreamingOps.tumblingCounts(events).writeStream.queryName("tumbling")
        .outputMode("update").option("checkpointLocation", ckpt.resolve("tumbling").toString)
        .foreachBatch(tumbling).start(),
      StreamingOps.purchaseClickJoin(events).writeStream.queryName("join")
        .outputMode("append").option("checkpointLocation", ckpt.resolve("join").toString)
        .foreachBatch(join).start())
  }

  /** File path → batch id, from the file source's own metadata log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val s = Files.list(dir)
    val logs = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.forall(_.isDigit) || n.endsWith(".compact")
    }.toSeq finally s.close()
    logs.flatMap(p => Files.readAllLines(p).asScala).flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  private def commitTimes(ckpt: Path): Map[Long, Long] = {
    val s = Files.list(ckpt.resolve("commits"))
    try s.iterator().asScala.filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) * 1000L).toMap
    finally s.close()
  }

  def measure(): Map[String, Any] = {
    val landing = conf.work.resolve("landing")
    val ckpt = conf.work.resolve("ckpt")
    Files.createDirectories(landing)
    val sinks = new Sinks
    // jobs submitted while the queries are built and started
    val startCounters = new Counters
    startCounters.register(spark)
    val constructT0 = System.nanoTime()
    val qs = tracer.span("stream", "construct")(start(landing, ckpt, sinks))
    val constructS = (System.nanoTime() - constructT0) / 1e9
    startCounters.drain()
    startCounters.unregister(spark)
    // the queries' first batches create their state stores; let that
    // happen on the warm-up files, before the timed window
    (0 until warmFiles).foreach(k => land(k, landing))
    qs.foreach(_.processAllAvailable())
    val total = math.min(nStaged - warmFiles, math.ceil(filesPerSecond * conf.seconds).toInt)
    val due = mutable.ArrayBuffer.empty[Long]
    val landed = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val genErrors = new ConcurrentLinkedQueue[Throwable]()
    val t0 = Clock.nowNs() + 200000000L
    val gen = new Thread(() => {
      try (0 until total).foreach { i =>
        val dueNs = t0 + (i / filesPerSecond * 1e9).toLong
        val wait = dueNs - Clock.nowNs()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val k = warmFiles + i
        landed.put(f"f-$k%05d.parquet", land(k, landing))
      } catch { case e: Throwable => genErrors.add(e) }
    }, "perfbench-generator")
    (0 until total).foreach(i => due += t0 + (i / filesPerSecond * 1e9).toLong)
    val windowStart = Clock.nowNs()
    gen.start()
    // traced runs trace only the second half of the load, so the first
    // half gives the untraced batch time the overhead is measured against
    val halfNs = windowStart + (conf.seconds / 2 * 1e9).toLong
    if (conf.trace) {
      Thread.sleep(math.max(0L, (halfNs - Clock.nowNs()) / 1000000L))
      counters.register(spark)
    }
    gen.join()
    val windowEnd = Clock.nowNs()
    if (conf.trace) {
      counters.unregister(spark)
      counters.drain()
    }
    val windowS = (windowEnd - windowStart) / 1e9
    // backlog: landed files no query had committed when the load stopped
    val batchesAtEnd = qs.map(q => Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
    val mapsAtEnd = qs.map(q => fileBatches(ckpt.resolve(q.name)))
    val committedAtEnd = qs.map(q => commitTimes(ckpt.resolve(q.name)).keySet)
    val backlog = landed.keySet().asScala.count { f =>
      qs.indices.exists(i => !mapsAtEnd(i).get(f).exists(committedAtEnd(i)))
    }
    qs.foreach(_.processAllAvailable())
    // with the queries' state still loaded
    val retained = Main.retainedMb()
    qs.foreach(_.stop())
    genErrors.asScala.foreach(e => check("generator", ok = false, s"threw $e"))

    // latency per landed file: land → commit of the batch that read it
    val perQuery = qs.map { q =>
      val fb = fileBatches(ckpt.resolve(q.name))
      val ct = commitTimes(ckpt.resolve(q.name))
      (f: String) => fb.get(f).flatMap(ct.get)
    }
    val latencies = landed.asScala.toSeq.sortBy(_._1).flatMap { case (f, at) =>
      val commits = perQuery.map(_(f))
      if (commits.exists(_.isEmpty)) {
        check("stream.commit", ok = false, s"$f never committed")
        None
      } else Some((commits.flatten.max - at) / 1e9)
    }
    attempted += landed.size
    val genLag = landed.asScala.toSeq.map { case (f, at) =>
      val k = f.stripPrefix("f-").stripSuffix(".parquet").toInt - warmFiles
      (at - due(k)) / 1e9
    }

    // per-batch progress, both queries
    val progress = qs.flatMap(_.recentProgress.toSeq)
    def startNs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
    // batches of the load: not the warm-up file's batch before it, nor
    // the batches that drain what was left when the load stopped
    val timed = progress.filter(p => p.numInputRows > 0 && startNs(p) >= windowStart &&
      startNs(p) < windowEnd)
    val (firstHalf, secondHalf) = timed.partition(p => startNs(p) < halfNs)
    def durOf(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], k: String): Seq[Double] =
      ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble / 1e3))
    def dur(k: String): Seq[Double] = durOf(timed, k)
    // the join reads the source twice, so count rows on the aggregate
    val rowsCommitted = qs.head.recentProgress.filter(p => startNs(p) >= windowStart)
      .map(_.numInputRows).sum.toDouble
    val landedBytes = landed.keySet().asScala.toSeq.map(f => Files.size(landing.resolve(f))).sum

    lastRun = (landing, sinks)

    extra ++= Map(
      "files_landed" -> landed.size, "offered_files_per_s" -> filesPerSecond,
      "rows_per_file" -> rowsPerFile, "window_s" -> windowS,
      "rows_per_s" -> rowsCommitted / windowS,
      "input_mb_per_s" -> landedBytes / 1e6 / windowS,
      "backlog_files" -> backlog,
      "gen_lag_s" -> Stats.quantile(genLag, 0.9),
      "batches_at_load_end" -> batchesAtEnd)

    val layers: Map[String, Any] = if (!conf.trace) Map.empty else {
      val traced = secondHalf
      val stateOps = qs.flatMap(q => Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq))
      val tasks = counters.tasks.asScala.toSeq
      val jobs = counters.jobs.values().asScala.toSeq
      val plans = counters.plans.asScala.toSeq.filter(p => p.startMs * 1000000L <= windowEnd)
      val runMs = tasks.map(_.runMs).sum
      val wall = (windowEnd - halfNs) / 1e9
      Map(
        "streaming.batches" -> traced.size,
        "streaming.batch_s" -> Stats.median(durOf(traced, "triggerExecution")),
        "streaming.add_batch_s" -> Stats.median(durOf(traced, "addBatch")),
        "streaming.latest_offset_s" -> Stats.median(durOf(traced, "latestOffset")),
        "streaming.wal_commit_s" -> Stats.median(durOf(traced, "walCommit")),
        "streaming.state_rows" -> stateOps.map(_.numRowsTotal).sum,
        "streaming.state_mem_mb" -> stateOps.map(_.memoryUsedBytes).sum / 1e6,
        "streaming.state_commit_ms" -> Stats.median(traced.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble))),
        "streaming.rows_dropped_late" -> progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum,
        "construct.s" -> constructS,
        "construct.jobs" -> startCounters.jobs.size,
        "construct.tables_jobs" -> startCounters.jobs.values().asScala.count(_.tablesCallSite),
        "plan.analysis_ms" -> plans.map(_.analysisMs).sum,
        "plan.optimization_ms" -> plans.map(_.optimizationMs).sum,
        // micro-batch planning is reported by the stream's own progress
        "plan.planning_ms" -> (plans.map(_.planningMs).sum + durOf(traced, "queryPlanning").sum * 1e3),
        "plan.nodes" -> plans.map(_.nodes).sum,
        "plan.exchanges" -> plans.map(_.exchanges).sum,
        "driver.gap_s" -> (wall - Stats.unionLength(jobs.map(j =>
          (math.max(j.start * 1000000L, halfNs), if (j.end > 0) math.min(j.end * 1000000L, windowEnd) else windowEnd))
          .filter { case (a, b) => b > a }) / 1e9),
        "exec.jobs" -> jobs.size,
        "exec.stages" -> counters.stagesDone.size,
        "exec.tasks" -> tasks.size,
        "exec.job_s" -> jobs.map(j => math.max(j.end - j.start, 0L)).sum / 1e3,
        "exec.task_run_s" -> runMs / 1e3,
        "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "exec.core_busy_frac" -> runMs / 1e3 / (wall * conf.cpus),
        "exec.input_mb" -> tasks.map(_.inputBytes).sum / 1e6,
        "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
        "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
        "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "exec.peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1e6),
        "exec.output_mb" -> tasks.map(_.outputBytes).sum / 1e6,
        "exec.task_failures" -> tasks.count(_.failed),
        "trace.overhead_s" -> (Stats.median(durOf(secondHalf, "triggerExecution")) -
          Stats.median(durOf(firstHalf, "triggerExecution"))))
    }
    // one micro-batch round: each query's mean batch time, summed. A
    // query's batch times are bimodal (whether or not the other query's
    // batch overlaps it), so their median jumps between the modes.
    val untracedBatches = if (conf.trace) firstHalf else timed
    val batchS = qs.map(q => q.name -> durOf(untracedBatches.filter(_.id == q.id), "triggerExecution")).toMap
    Map(
      "retained_mb" -> retained,
      "batch_s" -> batchS,
      "pass_s" -> Seq(batchS.values.map(b => b.sum / b.size).sum),
      "latency_s" -> latencies,
      "layers" -> layers)
  }

  private var lastRun: (Path, Sinks) = _

  /** The stream's final results must equal a batch run of the same
    * operators over the landed files. */
  def checkPass(): Unit = {
    val (landing, sinks) = lastRun
    val batch = spark.read.schema(StreamingOps.eventsSchema).parquet(landing.toString)
    val want = StreamingOps.tumblingCounts(batch).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val got = sinks.windows.asScala.toMap
    val bad = (want.keySet ++ got.keySet).filter { k =>
      (want.get(k), got.get(k)) match {
        case (Some((n1, t1)), Some((n2, t2))) =>
          n1 != n2 || math.abs(t1 - t2) > 1e-6 * math.max(1.0, math.abs(t1))
        case _ => true
      }
    }
    check("tumblingCounts", bad.isEmpty,
      if (bad.isEmpty) s"${got.size} windows equal the batch run" else s"${bad.size} windows differ")
    val wantJoin = StreamingOps.purchaseClickJoin(batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3).getTime,
        r.getTimestamp(4).getTime)).toSeq.sorted
    val gotJoin = sinks.joined.asScala.toSeq.sorted
    check("purchaseClickJoin", wantJoin == gotJoin,
      s"stream ${gotJoin.size} rows, batch ${wantJoin.size} rows")
  }

  def probeText(): Seq[String] = {
    val rnd = new SplittableRandom(conf.seed)
    (0 until 10).flatMap(k => fileRows(rnd, k)).map(r => s"${r.getString(3)} ${r.getString(5)}")
  }
}
