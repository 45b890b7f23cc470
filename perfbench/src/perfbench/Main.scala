package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. It calls the library only through its public
  * functions and reads Spark's public listener APIs; it edits nothing.
  *
  * Usage (normally through `perfbench/run.py`):
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --fixtures <sf dir> --out <result.json> --cpus <n>
  *
  * A run sets up once (session build, input staging, artifact builds)
  * and warms up untimed; `setup_s` runs from JVM start to the end of the
  * warm-up. It then times a fixed number of whole passes and checks
  * every operation's output in one more untimed pass. With `--trace 1`
  * untraced and traced passes alternate,
  * spans and listener counters are kept for the traced ones, and the
  * kernel and `Tables` probes run. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, fixtures: String, out: Path, cpus: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m.getOrElse("fixtures", ""),
      Paths.get(m("out")).toAbsolutePath, m.getOrElse("cpus", "4").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    Files.createDirectories(conf.work)
    val wl: Workload = conf.workload match {
      case "wordcount" => new WordCountWorkload(conf)
      case "llm_pipeline" => new LlmPipelineWorkload(conf)
      case "stream" => new StreamWorkload(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val result = wl.run()
    Files.writeString(conf.out, json.writeValueAsString(result))
    wl.tracer.spans.headOption.foreach { _ =>
      val spans = wl.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))
      Files.writeString(conf.out.resolveSibling("spans.json"), json.writeValueAsString(spans))
    }
    wl.stop()
  }

  /** Writes the result files: Scala maps and sequences as JSON objects and arrays. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Memory the program holds, in MB: heap in use just after a full
    * collection plus non-heap in use (metaspace, code cache). Unlike the
    * peak RSS, it does not follow the collector's heap sizing. */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    finally s.close()
  }
}

/** A timed unit of work: `construct` builds the query (which may itself
  * run driver-side actions), `execute` runs it. */
abstract class Op(val name: String) {
  def construct(): DataFrame
  def execute(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

final case class Sample(pass: Int, traced: Boolean, op: String, startNs: Long,
                        constructS: Double, runS: Double, ok: Boolean)

/** Shared skeleton: set-up, warm-up, timed passes, the checked
  * pass and the probes. */
abstract class Workload(val conf: Main.Conf) {
  val tracer = new Tracer(conf.trace)
  val counters = new Counters
  var spark: SparkSession = _
  val master = s"local[${conf.cpus}]"
  protected val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  protected val extra = mutable.LinkedHashMap.empty[String, Any]
  protected var sessionBuildS = 0.0
  protected var attempted = 0L
  protected var failed = 0L

  /** Stage the inputs (and artifacts). */
  def stage(): Unit
  /** Untimed warm-up before the timed region. */
  def warmUp(): Unit
  /** The untimed pass, after the timed region, that checks every output. */
  def checkPass(): Unit
  /** The timed region: pass times, latency samples and, when tracing,
    * the per-layer figures under "layers". */
  def measure(): Map[String, Any]
  /** Probe inputs: text rows drawn from this workload's own inputs. */
  def probeText(): Seq[String]

  def check(op: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $op: $detail")
    }
    checks += Map("op" -> op, "ok" -> ok, "detail" -> detail)
  }

  def buildSession(): Unit = {
    val t0 = System.nanoTime()
    spark = tracer.span("setup", "GraftSession.build") {
      graft.GraftSession.build(master, conf.cpus, "perfbench")
    }
    sessionBuildS = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def run(): Map[String, Any] = {
    val loadBefore = Env.loadavg()
    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    buildSession()
    tracer.span("setup", "stage")(stage())
    val tWarm = System.nanoTime()
    tracer.span("warm", "warm-up")(warmUp())
    val warmS = (System.nanoTime() - tWarm) / 1e9
    // JVM start to the first timed operation
    val setupS = (Clock.nowNs() - jvmStartNs) / 1e9
    val measured = measure()
    val passS = measured("pass_s").asInstanceOf[Seq[Double]]
    val latency = measured("latency_s").asInstanceOf[Seq[Double]]
    if (conf.trace) counters.unregister(spark)
    val tCheck = System.nanoTime()
    tracer.span("check", "check")(checkPass())
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val layers = mutable.LinkedHashMap.empty[String, Any]
    if (conf.trace) {
      counters.register(spark)
      counters.drain()
      layers ++= measured.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Any]]
      layers("session.build_s") = sessionBuildS
      layers ++= Probes.tables(this)
      layers ++= Probes.kernels(this, probeText())
    }
    extra("peak_rss_mb") = Main.peakRssMb()
    Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "env" -> Env.jvm(spark, master),
      "loadavg_before" -> loadBefore, "loadavg_after" -> Env.loadavg(),
      "warm_up_s" -> warmS, "check_pass_s" -> checkS,
      "checks" -> checks.toSeq, "attempted" -> attempted, "failed" -> failed,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "extra" -> extra.toMap,
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "pass_s" -> Stats.median(passS),
        "latency_s_p50" -> Stats.quantile(latency, 0.5),
        "latency_s_p90" -> Stats.quantile(latency, 0.9),
        "retained_mb" -> measured("retained_mb")),
      "latency_samples" -> latency.size,
      "layers" -> layers.toMap,
      "self_time_s" -> Stats.selfTimes(tracer.spans)) ++ (measured - "layers" - "retained_mb")
  }

  /** One untimed noop pass over `ops`. */
  protected def runUntimed(ops: Seq[Op]): Unit = ops.foreach(op => op.execute(op.construct()))

  protected def tag(pass: Int, op: String, phase: String): Unit =
    spark.sparkContext.setLocalProperty(Counters.TagKey, s"$pass|$op|$phase")

  protected def untag(): Unit = spark.sparkContext.setLocalProperty(Counters.TagKey, null)

  /** Time one repetition of `op`. A throw counts as a failed operation. */
  protected def timeOp(op: Op, pass: Int, traced: Boolean): Sample = {
    val start = Clock.nowNs()
    var constructS = 0.0
    var ok = true
    val t0 = System.nanoTime()
    try {
      tag(pass, op.name, "construct")
      val df = tracer.span(op.name, "construct")(op.construct())
      constructS = (System.nanoTime() - t0) / 1e9
      tag(pass, op.name, "run")
      tracer.span(op.name, "execute")(op.execute(df))
    } catch {
      case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] ${op.name} failed: $e")
    } finally untag()
    val total = (System.nanoTime() - t0) / 1e9
    attempted += 1
    if (!ok) failed += 1
    Sample(pass, traced, op.name, start, constructS, total - constructS, ok)
  }

  /** A fixed number of whole passes over `ops`: `conf.seconds` divided by
    * the workload's nominal pass time, at least two. The count depends
    * only on the arguments, so every run measures the same work from the
    * same point of JIT warm-up. Traced runs alternate untraced and traced
    * passes, starting untraced. */
  protected def timedPasses(ops: Seq[Op], nominalPassS: Double): Map[String, Any] = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    var pass = 0
    val need = math.max(2, math.round(conf.seconds / nominalPassS).toInt)
    while (pass < need) {
      val traced = conf.trace && pass % 2 == 1
      if (conf.trace) {
        tracer.enabled = traced
        if (traced) counters.register(spark) else counters.unregister(spark)
      }
      val p0 = System.nanoTime()
      tracer.span("pass", s"pass.$pass") {
        ops.foreach(op => samples += timeOp(op, pass, traced))
      }
      passes += ((pass, traced, (System.nanoTime() - p0) / 1e9))
      pass += 1
    }
    tracer.enabled = conf.trace
    val untracedPasses = passes.filterNot(_._2).map(_._3).toSeq
    val tracedPasses = passes.filter(_._2).map(_._3).toSeq
    val layers = if (conf.trace) {
      counters.drain()
      // each traced pass against the untraced passes next to it, which
      // cancels the warm-up trend across passes
      val wall = passes.map(p => p._1 -> p._3).toMap
      val diffs = passes.filter(_._2).flatMap { case (p, _, w) =>
        val near = Seq(p - 1, p + 1).filter(q => wall.contains(q) && !passes(q)._2).map(wall)
        if (near.isEmpty) None else Some(w - near.sum / near.size)
      }
      Layers.batch(counters, samples.toSeq, passes.toSeq, conf.cpus) ++ Map(
        "trace.overhead_s" -> Stats.median(diffs.toSeq))
    } else Map.empty[String, Any]
    Map(
      "retained_mb" -> Main.retainedMb(),
      "pass_s" -> untracedPasses,
      "traced_pass_s" -> tracedPasses,
      "latency_s" -> samples.filterNot(_.traced).map(s => s.constructS + s.runS).toSeq,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "traced" -> s.traced, "op" -> s.op,
        "construct_s" -> s.constructS, "run_s" -> s.runS, "ok" -> s.ok)).toSeq,
      "layers" -> layers)
  }
}

/** Per-layer read-out of the listener counters over the traced passes;
  * each figure is per pass (median over traced passes). */
object Layers {
  def batch(c: Counters, samples: Seq[Sample], passes: Seq[(Int, Boolean, Double)],
            cores: Int): Map[String, Any] = {
    val traced = passes.filter(_._2)
    val jobs = c.jobs.values().asScala.toSeq
    val tasks = c.tasks.asScala.toSeq
    val stages = c.stagesDone.asScala.toSeq
    val plans = c.plans.asScala.toSeq
    def passOf(tag: String): Int = tag.split('|').headOption.flatMap(_.toIntOption).getOrElse(-1)
    val perPass = traced.map { case (p, _, wall) =>
      val pj = jobs.filter(j => passOf(j.tag) == p)
      val pt = tasks.filter(t => passOf(t.tag) == p)
      val ps = samples.filter(_.pass == p)
      def endNs(s: Sample): Long = s.startNs + ((s.constructS + s.runS) * 1e9).toLong
      val pp = plans.filter(q => ps.exists(s => q.startMs * 1000000L >= s.startNs - 1000000L &&
        q.startMs * 1000000L <= endNs(s)))
      val gap = ps.map { s =>
        val endNs = s.startNs + ((s.constructS + s.runS) * 1e9).toLong
        val iv = pj.filter(_.tag.split('|')(1) == s.op).map(j =>
          (math.max(j.start * 1000000L, s.startNs), math.min(math.max(j.end, j.start) * 1000000L, endNs)))
          .filter { case (a, b) => b > a }
        ((endNs - s.startNs) - Stats.unionLength(iv)) / 1e9
      }.sum
      val constructJobs = pj.filter(_.tag.endsWith("|construct"))
      val runMs = pt.map(_.runMs).sum
      Map[String, Double](
        "construct.s" -> ps.map(_.constructS).sum,
        "construct.jobs" -> constructJobs.size,
        "construct.tables_jobs" -> constructJobs.count(_.tablesCallSite),
        "plan.analysis_ms" -> pp.map(_.analysisMs).sum,
        "plan.optimization_ms" -> pp.map(_.optimizationMs).sum,
        "plan.planning_ms" -> pp.map(_.planningMs).sum,
        "plan.nodes" -> pp.map(_.nodes).sum,
        "plan.exchanges" -> pp.map(_.exchanges).sum,
        "driver.gap_s" -> gap,
        "exec.jobs" -> pj.size,
        "exec.stages" -> stages.count(t => passOf(t) == p),
        "exec.tasks" -> pt.size,
        "exec.job_s" -> pj.map(j => math.max(j.end - j.start, 0L)).sum / 1e3,
        "exec.task_run_s" -> runMs / 1e3,
        "exec.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> pt.map(_.gcMs).sum / 1e3,
        "exec.core_busy_frac" -> runMs / 1e3 / (wall * cores),
        "exec.input_mb" -> pt.map(_.inputBytes).sum / 1e6,
        "exec.shuffle_write_mb" -> pt.map(_.shuffleWrite).sum / 1e6,
        "exec.shuffle_read_mb" -> pt.map(_.shuffleRead).sum / 1e6,
        "exec.spill_mb" -> pt.map(_.spill).sum / 1e6,
        "exec.peak_exec_mem_mb" -> (if (pt.isEmpty) 0.0 else pt.map(_.peakMem).max / 1e6),
        "exec.output_mb" -> pt.map(_.outputBytes).sum / 1e6,
        "exec.task_failures" -> pt.count(_.failed))
    }
    if (perPass.isEmpty) Map.empty
    else perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
  }
}

object Env {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def jvm(spark: SparkSession, master: String): Map[String, Any] = Map(
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "java_version" -> System.getProperty("java.version"),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
    "spark_version" -> spark.version,
    "scala_version" -> scala.util.Properties.versionNumberString,
    "master" -> spark.sparkContext.master,
    "requested_master" -> master,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20))
}
