package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import scala.collection.mutable

/** One timed interval: a call into a layer or into `Engine`. `parent`
  * is the enclosing span (-1 at top level); spans of one request share
  * `req`. Times are epoch milliseconds (to line up with Spark's
  * listener timestamps) plus a nanosecond duration. */
final case class Span(id: Int, name: String, parent: Int, req: Int,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spans plus Spark's own accounting, keyed by span. Disabled, `span`
  * only runs its body: no job group is set and no listener is
  * registered, so untraced runs drive the program exactly as a caller
  * would.
  *
  * Each span sets the Spark job group to its own id for the duration
  * of its body; jobs, their tasks and SQL executions are attributed to
  * the innermost span through that group. Everything is held in memory
  * and written when the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  final class Acc {
    var jobs = 0; var tasks = 0
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val acc = mutable.HashMap.empty[Int, Acc]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  /** SQL execution id → its QueryExecution's id (two separate counters). */
  private val execQe = mutable.HashMap.empty[Long, Long]
  private val qePlanMs = mutable.HashMap.empty[Long, Double]
  @volatile private var started, ended, qes = 0

  private val JobGroupKey = "spark.jobGroup.id"

  private def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("perfbench-"))
      .map(_.stripPrefix("perfbench-").toInt)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += 1
      spanOf(e.properties.getProperty(JobGroupKey)).foreach { s =>
        jobSpan(e.jobId) = s
        jobStartMs(e.jobId) = e.time
        acc.getOrElseUpdate(s, new Acc).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += 1
      jobSpan.get(e.jobId).foreach { s =>
        acc(s).jobIntervals += ((jobStartMs(e.jobId), e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val a = acc(s)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        s.jobGroupId.flatMap(spanOf).foreach(execSpan(s.executionId) = _)
      }
      // the end event carries the QueryExecution; its accessor is
      // package-private in Scala but public in bytecode
      case s: SparkListenerSQLExecutionEnd =>
        val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
        if (qe != null) synchronized { execQe(s.executionId) = qe.id }
      case _ =>
    }
  }

  private object PlanListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qes += 1
      qePlanMs(qe.id) = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(PlanListener)
  }

  def span[T](name: String, req: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - n0
        spans += Span(id, name, parent, req, t0, System.currentTimeMillis(), dur)
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-$p", "", false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener bus has delivered every job and plan
    * event of the run (the bus is asynchronous). */
  def drain(): Unit = if (enabled) {
    var last = -1; var stable = 0
    val deadline = System.currentTimeMillis() + 30000
    while (stable < 5 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = synchronized { if (started == ended) qes else -1 }
      if (now >= 0 && now == last) stable += 1 else stable = 0
      last = now
    }
  }

  /** Spark-side totals of one span: jobs, tasks, task CPU, shuffle and
    * spill bytes, planning time, and the driver gap (span wall time not
    * covered by any of its jobs). */
  final case class SparkCost(jobs: Int, tasks: Int, cpuMs: Double,
                             shuffleBytes: Long, spillBytes: Long,
                             planMs: Double, driverGapMs: Double)

  def sparkCost(s: Span): SparkCost = synchronized {
    val a = acc.getOrElse(s.id, new Acc)
    val plan = execSpan.iterator.collect { case (x, sp) if sp == s.id =>
      execQe.get(x).flatMap(qePlanMs.get).getOrElse(0.0) }.sum
    val covered = union(a.jobIntervals.toSeq.map { case (b, e) =>
      (math.max(b, s.startMs), math.min(e, s.endMs)) })
    SparkCost(a.jobs, a.tasks, a.cpuNs / 1e6, a.shuffleBytes, a.spillBytes,
      plan, math.max(0.0, s.durNs / 1e6 - covered))
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curB = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (b, e) => e > b }.sortBy(_._1).foreach { case (b, e) =>
      if (b > curE) { if (curE > curB) total += curE - curB; curB = b; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curB) total += curE - curB
    total.toDouble
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    math.max(0.0, (s.durNs - kids.map(_.durNs).sum) / 1e6)
  }

  def toJson: String = synchronized {
    Serialization.write(spans.map { s =>
      val c = sparkCost(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "req" -> s.req, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> selfMs(s),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_cpu_ms" -> c.cpuMs,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "plan_ms" -> c.planMs, "driver_gap_ms" -> c.driverGapMs)
    }.toSeq)(DefaultFormats)
  }
}
