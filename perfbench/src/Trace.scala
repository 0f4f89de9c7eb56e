package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `op` is the closed-loop
  * operation (one dag command or one query entry) the call belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written when the run ends. With tracing off
  * `span` only runs its body, so untraced runs pay nothing per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var op: Int = 0
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  def epochMs(nanoTime: Long): Long = nanoTime / 1000000L + epochOffsetMs

  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent >= 0) parent else current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, op, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  /** Self time of each span: its duration minus the union of its children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      s.id -> math.max(0.0, (s.endNs - s.startNs) / 1e9 - covered / 1e9)
    }.toMap
  }

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Counters of Spark work, recorded with each event's own timestamp so a
  * closed loop can attribute them to the op whose window holds them —
  * this covers jobs launched from pool threads too, which do not inherit
  * local properties.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final case class Job(startMs: Long, var endMs: Long)
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, fetchWaitMs: Long, spill: Long, input: Long, output: Long)
  final case class Plan(endMs: Long, planMs: Long, graftNodes: Int)
  final case class Block(timeMs: Long, bytes: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val blocks = new ConcurrentLinkedQueue[Block]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, Job(e.time, Long.MaxValue))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      blocks.add(Block(System.currentTimeMillis(), i.memSize + i.diskSize))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val planMs = ph.values.map(_.durationMs).sum
    val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
    plans.add(Plan(end, planMs, SparkCounters.graftNodes(qe.executedPlan)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sums of every counter inside the given wall-clock windows (ms). */
  def within(windows: Seq[(Long, Long)]): Counts = {
    def in(t: Long) = windows.exists { case (s, e) => t >= s && t <= e }
    val js = jobs.values.asScala.filter(j => in(j.startMs)).toSeq
    val ts = tasks.asScala.filter(t => in(t.endMs)).toSeq
    val ps = plans.asScala.filter(p => in(p.endMs)).toSeq
    val bs = blocks.asScala.filter(b => in(b.timeMs)).toSeq
    // wall time inside the windows during which at least one job ran
    val busyMs = windows.map { case (s, e) =>
      Tracer.union(js.map(j => (math.max(j.startMs, s), math.min(j.endMs, e))).filter(x => x._2 > x._1))
    }.sum
    Counts(js.size, stages.asScala.count(in), ts.size, busyMs / 1e3,
      ps.map(_.planMs).sum.toDouble, ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleWrite).sum / 1e6, ts.map(_.shuffleRead).sum / 1e6,
      ts.map(_.fetchWaitMs).sum / 1e3, ts.map(_.spill).sum / 1e6, ts.map(_.input).sum / 1e6,
      ts.map(_.output).sum / 1e6, bs.size, bs.map(_.bytes).sum / 1e6, ps.map(_.graftNodes).sum)
  }
}

object SparkCounters {
  /** Physical nodes implemented in graft's own planner package. */
  def graftNodes(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children ++ p.subqueries
      }
      (if (p.getClass.getName.startsWith("graft.")) 1 else 0) + inner.map(walk).sum
    }
    try walk(plan) catch { case _: Throwable => 0 }
  }
}

final case class Counts(jobs: Int, stages: Int, tasks: Int, busyS: Double, planMs: Double,
                        taskRunS: Double, taskCpuS: Double, gcS: Double, shuffleWriteMb: Double,
                        shuffleReadMb: Double, fetchWaitS: Double, spillMb: Double,
                        inputMb: Double, outputMb: Double, persistBlocks: Int, persistMb: Double,
                        graftNodes: Int)
