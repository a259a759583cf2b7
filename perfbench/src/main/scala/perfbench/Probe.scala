package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one measured window (differences of two
  * [[Probe.snapshot]]s). Times are milliseconds unless named otherwise. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    jobWallMs: Long = 0, taskMs: Long = 0, schedulerDelayMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    planningMs: Long = 0, actions: Long = 0,
    gcMs: Long = 0, codegenNs: Long = 0, codegenClasses: Long = 0) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, failedTasks - o.failedTasks,
    jobWallMs - o.jobWallMs, taskMs - o.taskMs, schedulerDelayMs - o.schedulerDelayMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    planningMs - o.planningMs, actions - o.actions,
    gcMs - o.gcMs, codegenNs - o.codegenNs, codegenClasses - o.codegenClasses)
}

/** Listener that totals job, stage and task metrics, globally and per job
  * group (the tracer gives every span its own group), plus the planning
  * phases of every executed query (QueryPlanningTracker). */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Acc {
    val jobs, tasks, failedTasks, jobWallMs, taskMs, schedulerDelayMs,
      shuffleWriteBytes, spillBytes = new AtomicLong
  }
  private val total = new Acc
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val planningMs, actions = new AtomicLong

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def accs(group: String): Seq[Acc] =
    if (group == null) Seq(total)
    else Seq(total, byGroup.computeIfAbsent(group, _ => new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobStart.put(e.jobId, (e.time, group))
    e.stageIds.foreach(s => if (group != null) stageGroup.put(s, group))
    accs(group).foreach(_.jobs.incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, group) =>
      accs(group).foreach(_.jobWallMs.addAndGet(e.time - t0))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    val info = e.taskInfo
    accs(group).foreach { a =>
      a.tasks.incrementAndGet()
      if (e.reason != Success) a.failedTasks.incrementAndGet()
      if (m != null) {
        a.taskMs.addAndGet(m.executorRunTime)
        a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.schedulerDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    actions.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Totals so far, after every pending listener event is delivered. */
  def snapshot(): Counters = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters(total.jobs.get, total.tasks.get, total.failedTasks.get,
      total.jobWallMs.get, total.taskMs.get, total.schedulerDelayMs.get,
      total.shuffleWriteBytes.get, total.spillBytes.get,
      planningMs.get, actions.get, gcMs,
      CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Executor task milliseconds of one job group (drain first). */
  def groupTaskMs(group: String): Long =
    Option(byGroup.get(group)).map(_.taskMs.get).getOrElse(0L)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L)

/** Totals over every span of one name: wall seconds, self seconds (wall
  * minus the time direct children cover), executor task seconds of the
  * span's own jobs, number of spans, and whether any span had children. */
final case class SpanStat(totalS: Double, selfS: Double, taskS: Double, count: Int,
    parent: Boolean)

/** Span recorder for the traced run: each span is a call into one module's
  * public function, with its output materialised inside the span. Spark jobs
  * of a span carry the span's job group, so the [[Probe]] can attribute task
  * time to it. */
final class Tracer(spark: SparkSession, probe: Probe) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def summary(): Map[String, SpanStat] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map { s =>
        val cs = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        var covered = 0L; var reach = Long.MinValue
        cs.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) covered += b - from
          reach = math.max(reach, b)
        }
        (s.endNs - s.startNs) - covered
      }.sum
      val task = ss.map(s => probe.groupTaskMs(s"span-${s.id}")).sum
      name -> SpanStat(tot / 1e9, self / 1e9, task / 1e3, ss.size, ss.exists(s => children.contains(s.id)))
    }
  }
}
