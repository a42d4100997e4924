package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters charged to one span by the listeners. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var runMs, waitMs = 0L
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compiles = 0L
}

final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the Spark listeners that charge jobs,
  * stages, tasks, bytes and query phases to the innermost open span.
  *
  * Job attribution: before each span's body runs, the span id is set as
  * the `perfbench.span` local property; jobs and stages carry it in
  * their properties, tasks are charged through their stage. Query
  * phases (analysis, optimization, planning) arrive without properties,
  * so a query is charged to the innermost span open when its analysis
  * started. Codegen compiles are the change in Spark's compile counter
  * across the span. Spans are written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = outside any span
  private var nextId = 1
  private val byId = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val openAt = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (span, startMs, endMs)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      byId.getOrElseUpdate(spanOf(e.properties), new Counters).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = spanOf(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      byId.getOrElseUpdate(s, new Counters).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = byId.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new Counters)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      c.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      val at = phases.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val s = openAt.filter { case (_, a, b) => a <= at && at <= b }
        .sortBy { case (_, a, _) => -a }.headOption.map(_._1).getOrElse(0)
      val c = byId.getOrElseUpdate(s, new Counters)
      c.queries += 1
      c.analysisMs += ms("analysis"); c.optimizationMs += ms("optimization"); c.planningMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.head
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    val c0 = compileCount
    val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
    synchronized(openAt += ((id, ms0, Long.MaxValue)))
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    try body
    finally {
      sc.setLocalProperty(Prop, prevProp)
      stack = stack.tail
      val (ms1, ns1) = (System.currentTimeMillis(), System.nanoTime())
      synchronized {
        val i = openAt.indexWhere(_._1 == id)
        openAt(i) = (id, ms0, ms1)
        spans += Span(id, parent, name, ms0, ms1, ns0, ns1)
        byId.getOrElseUpdate(id, new Counters).compiles += compileCount - c0
      }
    }
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.SparkInternals.waitForListeners(spark.sparkContext)

  /** Every closed span with its own counters (children's not included). */
  def export: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.sortBy(_.id).map { s =>
      val c = byId.getOrElse(s.id, new Counters)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
        "shuffle_write_bytes" -> c.shuffleWrite, "shuffle_read_bytes" -> c.shuffleRead,
        "spill_bytes" -> c.spill, "input_bytes" -> c.input, "output_bytes" -> c.output,
        "executor_run_s" -> c.runMs / 1e3, "task_wait_s" -> c.waitMs / 1e3,
        "sql_queries" -> c.queries, "analysis_s" -> c.analysisMs / 1e3,
        "optimization_s" -> c.optimizationMs / 1e3, "planning_s" -> c.planningMs / 1e3,
        "codegen_compiles" -> c.compiles)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}
