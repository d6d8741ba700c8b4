package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.{SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the benchmark sets on its own thread; Spark copies them
  * into every job the thread (or a thread it spawns) submits, which is how
  * jobs are attributed to the pass and span that launched them.
  */
object Props {
  val Pass = "perfbench.pass"
  val Span = "perfbench.span"
}

/** In-memory span recorder for the benchmark's own spans. Times are epoch
  * milliseconds with sub-millisecond precision, on the same clock as the
  * listener events' millisecond timestamps.
  */
final class Spans(sc: org.apache.spark.SparkContext) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[(Int, String, Double, Int)]
  private var nextId = 1
  @volatile var pass: Int = -1

  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name, now(), parent) :: stack
    sc.setLocalProperty(Props.Span, id.toString)
    try body
    finally {
      val (_, _, start, par) = stack.head
      stack = stack.tail
      done += Map("id" -> id, "name" -> name, "start_ms" -> start,
        "end_ms" -> now(), "parent" -> par, "pass" -> pass)
      sc.setLocalProperty(Props.Span,
        stack.headOption.map(_._1.toString).orNull)
    }
  }

  def all: Seq[Map[String, Any]] = done.toSeq
}

/** Executor CPU per pass, summed from each completed stage's aggregated
  * task metrics. Always attached: `cpu_s` is an end-to-end metric.
  */
final class CpuCounter extends SparkListener {
  private val stagePass = new ConcurrentHashMap[Int, Int]()
  private val cpuNs = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Props.Pass)))
      .foreach(p => stagePass.put(e.stageInfo.stageId, p.toInt))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stagePass.get(e.stageInfo.stageId)).foreach { p =>
      val m = e.stageInfo.taskMetrics
      if (m != null) cpuNs.merge(p, m.executorCpuTime, (a, b) => a + b)
    }

  def cpuSeconds(pass: Int): Double =
    Option(cpuNs.get(pass)).map(_.toDouble / 1e9).getOrElse(0.0)
}

/** Job, stage and task records for traced passes. */
final class TraceListener extends SparkListener {
  private final class Stage(val id: Int, val job: Int, val pass: Int) {
    var submitMs = 0L
    var doneMs = 0L
    var tasks = 0
    var failedTasks = 0
    var lastTaskEndMs = 0L
    var peakExecMem = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var metrics: Map[String, Long] = Map.empty
  }
  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobOfStage = mutable.Map.empty[Int, (Int, Int)]
  @volatile var pass: Int = -1

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, Props.Pass).map(_.toInt).foreach { p =>
      jobs += mutable.Map("id" -> e.jobId, "pass" -> p,
        "start_ms" -> e.time.toDouble, "end_ms" -> e.time.toDouble,
        "span" -> prop(e.properties, Props.Span).map(_.toInt).getOrElse(0),
        "exec_id" -> prop(e.properties, "spark.sql.execution.id")
          .map(_.toLong).getOrElse(-1L),
        "stages" -> e.stageIds)
      e.stageIds.foreach(s => jobOfStage(s) = (e.jobId, p))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_("id") == e.jobId).foreach(_("end_ms") = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach { case (job, p) =>
        val s = stages.getOrElseUpdate(e.stageInfo.stageId,
          new Stage(e.stageInfo.stageId, job, p))
        s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      s.taskMs += e.taskInfo.duration
      s.lastTaskEndMs = math.max(s.lastTaskEndMs, e.taskInfo.finishTime)
      if (e.taskMetrics != null)
        s.peakExecMem = math.max(s.peakExecMem, e.taskMetrics.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(s.submitMs)
        s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
        val m = e.stageInfo.taskMetrics
        if (m != null) s.metrics = Map(
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead,
          "output_bytes" -> m.outputMetrics.bytesWritten,
          "output_records" -> m.outputMetrics.recordsWritten,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead),
          "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
          "shuffle_write_ns" -> m.shuffleWriteMetrics.writeTime,
          "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime,
          "deser_ms" -> m.executorDeserializeTime,
          "gc_ms" -> m.jvmGCTime,
          "spill_memory_bytes" -> m.memoryBytesSpilled,
          "spill_disk_bytes" -> m.diskBytesSpilled)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if pass >= 0 => synchronized {
      executions += Map("id" -> x.executionId, "pass" -> pass,
        "start_ms" -> x.time.toDouble,
        "is_write" -> x.physicalPlanDescription
          .contains("InsertIntoHadoopFsRelationCommand"))
    }
    case _ =>
  }

  /** This pass's records, removed from the listener's buffers. */
  def take(p: Int): Map[String, Any] = synchronized {
    val js = jobs.filter(_("pass") == p).map(_.toMap).toSeq
    jobs --= jobs.filter(_("pass") == p)
    val ss = stages.values.filter(_.pass == p).toSeq
    ss.foreach(s => stages.remove(s.id))
    val es = executions.filter(_("pass") == p).toSeq
    executions --= es
    Map("jobs" -> js, "executions" -> es, "stages" -> ss.map { s =>
      s.metrics ++ Map("id" -> s.id, "job" -> s.job,
        "submit_ms" -> s.submitMs.toDouble, "done_ms" -> s.doneMs.toDouble,
        "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "last_task_end_ms" -> s.lastTaskEndMs.toDouble,
        "peak_execution_memory_bytes" -> s.peakExecMem,
        "task_ms" -> s.taskMs.toSeq)
    })
  }
}

/** Planning phases and operator SQLMetrics of every query execution that
  * finishes during a traced pass, read from its final (post-AQE) plan.
  */
final class PlanListener extends QueryExecutionListener {
  private val records = mutable.ArrayBuffer.empty[(Int, Map[String, Any])]
  @volatile var pass: Int = -1

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = if (pass >= 0) {
    val phases = qe.tracker.phases
    def phaseMs(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
    val ops = PlanListener.operatorMetrics(qe.executedPlan)
    synchronized {
      records += pass -> (ops ++ Map(
        "func" -> funcName,
        "analysis_ms" -> phaseMs("analysis"),
        "optimization_ms" -> phaseMs("optimization"),
        "planning_ms" -> phaseMs("planning")))
    }
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  def take(p: Int): Seq[Map[String, Any]] = synchronized {
    val mine = records.filter(_._1 == p)
    records --= mine
    mine.map(_._2).toSeq
  }
}

object PlanListener {
  /** Sums of the operator metrics the benchmark reports, over every node
    * of the final plan (query stages, commands and subqueries included;
    * reused exchanges counted once).
    */
  def operatorMetrics(root: SparkPlan): Map[String, Any] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var codegenMs, sortMs, sortSpill, aggMs = 0.0
    var exchanges, broadcasts = 0
    def ms(p: SparkPlan, name: String): Double =
      p.metrics.get(name).map { m =>
        if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
      }.getOrElse(0.0)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case w: WholeStageCodegenExec => codegenMs += ms(w, "pipelineTime")
        case s: SortExec =>
          sortMs += ms(s, "sortTime")
          sortSpill += s.metrics.get("spillSize").map(_.value).getOrElse(0L)
        case a: HashAggregateExec => aggMs += ms(a, "aggTime")
        case a: ObjectHashAggregateExec => aggMs += ms(a, "aggTime")
        case _: ShuffleExchangeExec => exchanges += 1
        case _: BroadcastExchangeExec => broadcasts += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => ()
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    Map("codegen_ms" -> codegenMs, "sort_ms" -> sortMs,
      "sort_spill_bytes" -> sortSpill, "agg_ms" -> aggMs,
      "exchanges" -> exchanges, "broadcasts" -> broadcasts)
  }
}

/** Heap in use when a garbage collection ends, from the JVM's GC
  * notifications: what the program still holds at that moment. `takeMb`
  * returns the largest figure since the previous call, or the latest one
  * when no collection ran in between.
  */
final class HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private var last = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { last = used; peak = math.max(peak, used) }
    }

  def takeMb(): Double = synchronized {
    val p = if (peak > 0) peak else last
    peak = 0L
    p / 1048576.0
  }
}
