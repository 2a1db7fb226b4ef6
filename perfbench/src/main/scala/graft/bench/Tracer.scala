package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Out-of-program instrumentation for a traced run.
  *
  * Spans wrap the benchmark's own calls into the library; Spark-side
  * counters come from a SparkListener, a QueryExecutionListener, a
  * StreamingQueryListener and Spark's static codegen counters. Nothing
  * in the library is changed or called differently: the tracer only
  * listens, and tags jobs through two local properties so each job is
  * parented to the span that submitted it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochNs: Long = System.nanoTime()
  private val epochMs: Long = System.currentTimeMillis()

  // ---- spans ------------------------------------------------------------
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Time `f` as a span named `name`, child of the innermost open span.
    * Jobs submitted inside carry the span id (and the unit id, the
    * outermost open span) in their properties. */
  def span[A](name: String, attrs: (String, String)*)(f: => A): A = {
    val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      attrs.toMap, System.nanoTime() - epochNs)
    spans += s
    val unit = stack.lastOption.getOrElse(s)
    val prev = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(UnitProp))
    sc.setLocalProperty(SpanProp, s.id.toString)
    sc.setLocalProperty(UnitProp, unit.id.toString)
    stack = s :: stack
    try f finally {
      s.endNs = System.nanoTime() - epochNs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev._1)
      sc.setLocalProperty(UnitProp, prev._2)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  // ---- Spark-side counters ----------------------------------------------
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  // SQL execution id -> (short call site, modules), from the client thread
  private val executions = new ConcurrentHashMap[Long, (String, Set[String])]()
  private val stagesPlanned = new AtomicLong()
  private val stagesRun = new AtomicLong()
  private val tasks = new AtomicLong()
  private val taskCpuNs = new AtomicLong()
  private val taskRunMs = new AtomicLong()
  private val shuffleWrite = new AtomicLong()
  private val spill = new AtomicLong()
  private val planNs = new AtomicLong()
  private val scanRows = new AtomicLong()
  private val resultRows = new AtomicLong()
  private val triggerMs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val triggerSeq = new AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        .map(_.toInt).getOrElse(-1)
      // Adaptive execution submits a query's stages from a thread pool,
      // so the job's own call site names that pool; the SQL execution
      // it belongs to carries the client thread's call site instead.
      val site = e.stageInfos.sortBy(-_.stageId).headOption
      val execution = props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val (callSite, modules) = Option(executions.get(execution))
        .getOrElse((site.map(_.name).getOrElse(""),
          modulesOf(site.map(_.details).getOrElse(""))))
      val j = JobRec(e.jobId, prop(SpanProp), prop(UnitProp), execution,
        callSite, e.time - epochMs)
      j.modules = modules
      jobs.put(e.jobId, j)
      stagesPlanned.addAndGet(e.stageIds.length)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, (x.description, modulesOf(x.details)))
      case x: SparkListenerSQLExecutionEnd =>
        // a data source's code runs inside the scan, never on the
        // submitting thread: credit its module through the plan
        val scans = org.apache.spark.sql.BenchBridge.queryExecution(x)
          .map(qe => scanModules(qe.executedPlan)).getOrElse(Set.empty[String])
        if (scans.nonEmpty) jobs.values.asScala
          .filter(_.execution == x.executionId).foreach(j => j.modules ++= scans)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time - epochMs)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesRun.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskRunMs.addAndGet(m.executorRunTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      planNs.addAndGet(Seq(QueryPlanningTracker.ANALYSIS,
          QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(phases.get).map(_.durationMs * 1000000L).sum)
      val (leaf, root) = planRows(qe.executedPlan)
      scanRows.addAndGet(leaf)
      resultRows.addAndGet(root)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(e.progress.durationMs.get("triggerExecution")).foreach { ms =>
        triggerMs.put(triggerSeq.incrementAndGet(), ms)
      }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Counter values once every queued listener event is delivered. */
  def snapshot(): Counters = {
    org.apache.spark.sql.BenchBridge.drainListeners(sc)
    Counters(jobs.size, stagesPlanned.get,
      stagesRun.get, tasks.get, taskCpuNs.get, taskRunMs.get,
      shuffleWrite.get, spill.get, planNs.get, scanRows.get, resultRows.get,
      compiles, compileNs, triggerSeq.get)
  }

  def jobsOf(unitSpan: Int): Seq[JobRec] =
    jobs.values.asScala.filter(_.unit == unitSpan).toSeq.sortBy(_.id)

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def triggersBetween(fromSeq: Long, toSeq: Long): Seq[Long] =
    (fromSeq + 1 to toSeq).flatMap(i => Option(triggerMs.get(i))).map(_.longValue)
}

object Tracer {
  val SpanProp = "graft.bench.span"
  val UnitProp = "graft.bench.unit"

  final case class Span(id: Int, name: String, parent: Int,
      attrs: Map[String, String], startNs: Long) {
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class JobRec(id: Int, span: Int, unit: Int, execution: Long,
      callSite: String, startMs: Long) {
    var modules: Set[String] = Set.empty
    var endMs: Long = -1L
    def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  }

  final case class Counters(jobs: Long, stagesPlanned: Long,
      stagesRun: Long, tasks: Long, taskCpuNs: Long, taskRunMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, planNs: Long, scanRows: Long,
      resultRows: Long, compiles: Long, compileNs: Long, triggers: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs,
      stagesPlanned - o.stagesPlanned, stagesRun - o.stagesRun, tasks - o.tasks,
      taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
      planNs - o.planNs, scanRows - o.scanRows, resultRows - o.resultRows,
      compiles - o.compiles, compileNs - o.compileNs, triggers - o.triggers)
  }

  /** Janino compiles so far, JVM-wide: Spark counts one per
    * generated-class cache miss. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** The repo modules a job can be attributed to. */
  val Modules: Seq[String] = Seq("sampling", "weights", "stats", "hazard",
    "variance", "pipeline", "relational", "llm", "streaming", "sources", "core")

  /** The module of a `graft.<module>.…` class or frame, if it is one of
    * `Modules`. */
  def moduleOfName(name: String): Option[String] = {
    val parts = name.takeWhile(_ != '(').split('.')
    if (parts.length > 2 && parts(0) == "graft" && Modules.contains(parts(1)))
      Some(parts(1))
    else None
  }

  /** Every module with a frame in the long call site: a job submitted
    * by `core` code that `hazard` code called counts for both. The
    * benchmark's own frames count for none; a job with no module frame
    * (the benchmark's collect of a query, a stream trigger) counts only
    * in the `spark.*` totals. */
  def modulesOf(longCallSite: String): Set[String] =
    longCallSite.linesIterator.map(_.trim).flatMap(moduleOfName).toSet

  /** Modules whose data-source classes the plan scans. */
  def scanModules(plan: SparkPlan): Set[String] = plan match {
    case a: AdaptiveSparkPlanExec => scanModules(a.executedPlan)
    case q: QueryStageExec => scanModules(q.plan)
    case s: DataSourceV2ScanExecBase => moduleOfName(s.scan.getClass.getName).toSet
    case o => (o.children ++ o.subqueries).flatMap(scanModules).toSet
  }

  /** (rows out of the plan's leaves, rows out of its top operator). Walks
    * through adaptive wrappers and query stages so every scan counts once;
    * reused exchanges are skipped. */
  def planRows(plan: SparkPlan): (Long, Long) = {
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def leaves(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _: ReusedExchangeExec => 0L
      case l if l.children.isEmpty => rows(l)
      case o => o.children.map(leaves).sum
    }
    def top(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => top(a.executedPlan)
      case q: QueryStageExec => top(q.plan)
      case o if o.metrics.contains("numOutputRows") => rows(o)
      case o => o.children.headOption.map(top).getOrElse(0L)
    }
    (leaves(plan), top(plan))
  }

  /** Seconds covered by the union of job intervals inside [from, to] ms. */
  def unionSeconds(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Double = {
    val iv = jobs.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }
}
