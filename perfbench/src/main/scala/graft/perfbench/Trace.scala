package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock with sub-millisecond resolution: epoch milliseconds derived
  * from `nanoTime`, so span times line up with the epoch-millisecond
  * times Spark stamps on its own phases and progress reports.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded around the benchmark's calls into each layer: name,
  * start, end, the span that caused it, and the unit of work (a batch
  * pass, or the live phase) and query it belongs to. Kept in memory and written out
  * with the result. Disabled, `apply` only runs its body.
  */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[(Int, Double)]
  private var nextId = 1
  var unit: Int = -1
  var query: String = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack = (id, Clock.nowMs) :: stack
      try body
      finally {
        val start = stack.head._2
        stack = stack.tail
        record(id, parent, name, start, Clock.nowMs)
      }
    }

  /** The innermost open span, 0 at the top level. */
  def current: Int = stack.headOption.map(_._1).getOrElse(0)

  /** A span measured by Spark itself (a planning or micro-batch phase). */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Int =
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      record(id, parent, name, startMs, endMs)
      id
    }

  private def record(id: Int, parent: Int, name: String, s: Double, e: Double): Unit =
    done += Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> s, "end_ms" -> e, "unit" -> unit, "query" -> query)

  def all: Seq[Map[String, Any]] = done.toSeq
}

/** Task, stage, job and block counters from a `SparkListener`. Every
  * record keeps the time Spark stamped on it, so a window of the run can
  * be summed after the listener bus has drained.
  */
final class ExecCounters extends SparkListener {
  import ExecCounters.Task
  private val jobs = new ConcurrentLinkedQueue[(Long, String)]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val blocks = new ConcurrentLinkedQueue[(Double, Long)]()

  /** Local property the harness sets on its thread to name the phase a
    * job was submitted from (construct, autosize, exec).
    */
  val PhaseProp = "perfbench.phase"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.time,
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime
      val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks.add(Task(i.finishTime, run, m.executorCpuTime, m.jvmGCTime, delay,
        m.peakExecutionMemory, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.fetchWaitTime,
        i.failed))
    } else tasks.add(Task(i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, i.failed))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add((Clock.nowMs, b.memSize + b.diskSize))
  }

  /** Sums over records stamped inside [fromMs, toMs]. */
  def summary(fromMs: Double, toMs: Double): Map[String, Double] = {
    def in(t: Double) = t >= fromMs && t <= toMs
    val js = jobs.asScala.filter(j => in(j._1.toDouble)).toSeq
    val ts = tasks.asScala.filter(t => in(t.endMs.toDouble)).toSeq
    val bs = blocks.asScala.filter(b => in(b._1)).toSeq
    def sum(f: Task => Long) = ts.map(f).sum.toDouble
    Map(
      "jobs" -> js.size.toDouble,
      "construct_jobs" -> js.count(_._2 == "construct").toDouble,
      "stages" -> stages.asScala.count(t => in(t.toDouble)).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_ms" -> sum(_.runMs),
      "task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "sched_delay_ms" -> sum(_.delayMs),
      "gc_ms" -> sum(_.gcMs),
      "failed_tasks" -> ts.count(_.failed).toDouble,
      "peak_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
      "spill_bytes" -> sum(_.spill),
      "shuffle_write_bytes" -> sum(_.shWrite),
      "shuffle_read_bytes" -> sum(_.shRead),
      "shuffle_records" -> sum(_.shRecords),
      "shuffle_fetch_wait_ms" -> sum(_.fetchWaitMs),
      "checkpoint_bytes" -> bs.map(_._2).sum.toDouble,
      "checkpoint_blocks" -> bs.size.toDouble)
  }
}

object ExecCounters {
  private final case class Task(
      endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long,
      peakMem: Long, spill: Long, shWrite: Long, shRead: Long,
      shRecords: Long, fetchWaitMs: Long, failed: Boolean)
}

/** One finished SQL action seen by the `QueryExecutionListener`: its
  * planning phases (from `QueryPlanningTracker`) and the SQL metrics read
  * off its executed plan.
  */
final case class ActionInfo(
    funcName: String,
    phases: Map[String, (Double, Double)],
    metrics: Map[String, Double])

final class ActionListener extends QueryExecutionListener {
  private val queue = new LinkedBlockingQueue[ActionInfo]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queue.add(ActionInfo(funcName,
      qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) },
      PlanMetrics.of(qe.executedPlan)))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    queue.add(ActionInfo(funcName, Map.empty, Map.empty))

  /** The next overwrite action reported (the harness's `noop` write),
    * waiting up to `timeoutMs` for the listener bus to deliver it; the
    * other actions before it (estimate probes while a query is built) are
    * skipped.
    */
  def nextOverwrite(timeoutMs: Long): Option[ActionInfo] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var found: Option[ActionInfo] = None
    while (found.isEmpty && System.nanoTime() < deadline) {
      val a = queue.poll(math.max(1L, (deadline - System.nanoTime()) / 1000000L),
        TimeUnit.MILLISECONDS)
      if (a != null && a.funcName == "overwrite") found = Some(a)
    }
    found
  }

  def drain(): Seq[ActionInfo] = {
    val b = new java.util.ArrayList[ActionInfo]()
    queue.drainTo(b)
    b.asScala.toSeq
  }

  /** Planning phase durations and SQL metrics summed over `actions`. */
  def summarize(actions: Seq[ActionInfo]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    actions.foreach { a =>
      a.phases.foreach { case (ph, (s, e)) => acc(s"plan.${ph}_ms") += e - s }
      a.metrics.foreach { case (k, v) => acc(k) += v }
    }
    acc.toMap + ("actions" -> actions.size.toDouble)
  }
}

/** SQL metrics summed over an executed plan, adaptive stages and
  * subqueries included.
  */
object PlanMetrics {
  /** Operators whose timing metrics are reported per node type. */
  val TimedOperators: Seq[String] = Seq(
    "HashAggregate", "ObjectHashAggregate", "Sort", "BroadcastExchange",
    "ShuffledHashJoin")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children
    }
    p +: (inner ++ p.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    nodes(plan).foreach { n =>
      def metric(k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      val name = n.nodeName
      if (name.startsWith("Scan ")) {
        acc("scan_rows") += metric("numOutputRows")
        acc("scan_bytes") += metric("filesSize")
      }
      if (name.endsWith("Join")) acc("join_rows_out") += metric("numOutputRows")
      if (TimedOperators.contains(name)) {
        val ms = n.metrics.values.map { m =>
          m.metricType match {
            case "timing" => m.value.toDouble
            case "nsTiming" => m.value / 1e6
            case _ => 0.0
          }
        }.sum
        acc(s"$name.time_ms") += ms
      }
    }
    acc.toMap
  }
}

/** Progress of every micro-batch, from a `StreamingQueryListener`. */
final class ProgressLog extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)

  /** One progress per executed batch of query `id`. Idle triggers also
    * report progress, under a batch id but without an `addBatch` phase;
    * those are left out.
    */
  def batches(id: java.util.UUID): Seq[StreamingQueryProgress] =
    seen.asScala.filter(p => p.id == id && p.durationMs.containsKey("addBatch"))
      .map(p => p.batchId -> p).toMap.values.toSeq.sortBy(_.batchId)
}
