package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Spans of one operation share `op`; `parent` is the
  * id of the enclosing span (0 at the top). Times are epoch nanoseconds
  * (wall clock anchored once, advanced by `System.nanoTime`). */
final case class Span(id: Long, parent: Long, op: String, name: String, start: Long, end: Long)

/** Spans recorded around the harness's calls into the library. Spans are
  * kept in memory and written out once at the end. When disabled, `span`
  * only runs its body. */
final class Tracer(var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil

  def span[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = Clock.nowNs()
      try body
      finally {
        stack = stack.tail
        done.add(Span(id, parent, op, name, t0, Clock.nowNs()))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Clock {
  private val anchorWall = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  /** Epoch nanoseconds with `nanoTime` resolution. */
  def nowNs(): Long = anchorWall + (System.nanoTime() - anchorNano)
}

/** Events from Spark's listener APIs, tagged with the harness's
  * `perfbench.tag` local property (`<pass>|<op>|<phase>`) so each job,
  * stage and task is attributed to the operation that caused it. */
final class Counters extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, tag: String, start: Long, var end: Long, tablesCallSite: Boolean)
  final case class Task(tag: String, runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long,
                        outputBytes: Long, failed: Boolean)
  /** `startMs` is when analysis began (epoch ms), which places the plan
    * in the operation that built it. */
  final case class Plan(startMs: Long, analysisMs: Double, optimizationMs: Double,
                        planningMs: Double, nodes: Int, exchanges: Int)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stagesDone = new ConcurrentLinkedQueue[String]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  private val events = new AtomicLong(0)

  /** Count of events seen so far; stable across two reads once the bus drained. */
  def seen: Long = events.get()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(Counters.TagKey))).getOrElse("")
    val tables = e.stageInfos.exists(s => Option(s.details).exists(_.contains("Tables.scala")))
    jobs.put(e.jobId, Job(e.jobId, tag, e.time, -1L, tables))
    e.stageIds.foreach(s => stageTag.put(s, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stagesDone.add(stageTag.getOrDefault(e.stageInfo.stageId, ""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val tag = stageTag.getOrDefault(e.stageId, "")
    val failed = e.reason != Success
    val m = e.taskMetrics
    if (m == null) tasks.add(Task(tag, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed))
    else tasks.add(Task(tag, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.outputMetrics.bytesWritten, failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val nodes = Counters.walk(qe.executedPlan)
    val startMs = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    plans.add(Plan(startMs, ms("analysis"), ms("optimization"), ms("planning"),
      nodes.size, nodes.count(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ReusedExchangeExec])))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.incrementAndGet()

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val now = seen
      if (now == last) stable += 1 else stable = 0
      last = now
    }
  }

  private var registered = false

  def register(spark: SparkSession): Unit = if (!registered) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    registered = true
  }

  def unregister(spark: SparkSession): Unit = if (registered) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    registered = false
  }
}

object Counters {
  val TagKey = "perfbench.tag"

  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case other => other +: (other.children.flatMap(walk) ++ other.subqueries.flatMap(walk))
  }
}

/** Counts job starts only: the probe that checks a traced pass submits
  * the same jobs as an untraced one, and that kernel probes submit none. */
final class JobCounter extends SparkListener {
  val started = new AtomicLong(0)
  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile by the method of Python's `statistics.quantiles` (its
    * default, "exclusive"): position q * (n + 1) in the sorted values,
    * interpolated linearly, the position clamped to [1, n - 1]. The
    * comparison tool, `perfbench/compare.py`, uses the same definition. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val pos = q * (s.size + 1)
      val j = math.min(math.max(math.floor(pos).toInt, 1), s.size - 1)
      s(j - 1) + (s(j) - s(j - 1)) * (pos - j)
    }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name, in seconds: each span's duration minus the
    * time its children cover, summed over the spans of that name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}
