package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the benchmark makes into the engine, with the
  * Spark jobs, tasks and Catalyst phases that ran inside each.
  *
  * A span is (id, parent, name, kind, start, end). While a span is open,
  * its id is the Spark job group, so every job started under it carries
  * the id; task metrics roll up from stage to job to span. Catalyst phase
  * times and executed plans arrive through a `QueryExecutionListener`,
  * after the action, and go to the span that was open when the query's
  * analysis started. Spans stay in memory until [[writeSpans]].
  *
  * Outside [[start]] .. [[stop]], [[span]] only runs its body: no
  * listener is registered and no job group is set.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0

  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SparkContext_JobGroup))).flatMap(byId)
      s.foreach { span =>
        e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
        span.synchronized {
          span.jobs += 1
          if (span.firstJobMs < 0) span.firstJobMs = e.time
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) span.synchronized {
        span.tasks += 1
        span.taskRunMs += m.executorRunTime
        span.taskCpuNs += m.executorCpuTime
        span.gcMs += m.jvmGCTime
        span.inputBytes += m.inputMetrics.bytesRead
        span.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        span.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        span.peakExecMem = math.max(span.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val idIndex = new ConcurrentHashMap[String, Span]()
  private def byId(id: String): Option[Span] = Option(idIndex.get(id))

  /** Attribute one finished query's phases and plan to the innermost
    * span open when its first phase started. */
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val startMs = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val span = synchronized {
      spans.reverseIterator.find(s => s.startMs <= startMs &&
        (s.endMs < 0 || startMs <= s.endMs) && s.kind != "cycle")
    }
    span.foreach { s =>
      val plan = qe.executedPlan
      val scans = PlanWalk.collect(plan) { case f: FileSourceScanExec => f }
      val csvBytes = scans.filter(_.relation.fileFormat.toString == "CSV")
        .flatMap(_.metrics.get("filesSize")).map(_.value).sum
      val joins = PlanWalk.antiJoins(plan)
      s.synchronized {
        s.queries += 1
        s.planMs += phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        s.csvBytesScanned += csvBytes
        joins.foreach(j => s.antiJoins(j) = s.antiJoins.getOrElse(j, 0) + 1)
      }
    }
  }

  @volatile private var on = false

  /** Register the listeners; spans are recorded from now on. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Deliver pending events, then unregister the listeners. */
  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc, 60000)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Run `body` inside a span. Nested spans record their parent. */
  def span[A](name: String, kind: String)(body: => A): A =
    if (!on) body
    else {
      val s = synchronized {
        nextId += 1
        val s = new Span(s"perfbench-$nextId", open.headOption.map(_.id), name, kind,
          System.currentTimeMillis())
        spans += s
        idIndex.put(s.id, s)
        open = s :: open
        s
      }
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        synchronized { open = open.tail }
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spans as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(_.json)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  private val SparkContext_JobGroup = "spark.jobGroup.id"

  final class Span(val id: String, val parent: Option[String], val name: String,
                   val kind: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var firstJobMs = -1L
    var jobs = 0L
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
    var queries = 0L
    var planMs = 0L
    var csvBytesScanned = 0L
    val antiJoins = mutable.TreeMap.empty[String, Int]

    def wallMs: Long = endMs - startMs

    def json: String = Json.obj(
      "id" -> id, "parent" -> parent.orNull, "name" -> name, "kind" -> kind,
      "start_ms" -> startMs, "end_ms" -> endMs, "first_job_ms" -> firstJobMs, "jobs" -> jobs, "tasks" -> tasks,
      "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1000000,
      "gc_ms" -> gcMs, "input_bytes" -> inputBytes, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "peak_exec_mem" -> peakExecMem,
      "queries" -> queries, "plan_ms" -> planMs, "csv_bytes_scanned" -> csvBytesScanned,
      "anti_joins" -> antiJoins.map { case (k, v) => s"$k=$v" }.mkString(";"))
  }
}

/** Walks executed plans through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {

  /** The physical strategy of every left-anti join in `plan`. */
  def antiJoins(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => "broadcast_hash"
      case j: SortMergeJoinExec if j.joinType == LeftAnti => "sort_merge"
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => "shuffled_hash"
      case j: BroadcastNestedLoopJoinExec if j.joinType == LeftAnti => "broadcast_nested_loop"
    }
  }
}
