package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds. `parent` is a span id,
  * or -1 when the parent is resolved later by time containment (jobs and
  * Catalyst phases, which Spark reports without a link to the caller). */
final case class Span(id: Int, op: Int, name: String, layer: String,
                      start: Long, end: Long, parent: Int)

/** Per-operation task counters, summed from `SparkListenerTaskEnd`. */
final class TaskTotals {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var scanBytes = 0L; var scanRows = 0L; var shWrite = 0L; var shRead = 0L
  var fetchWaitMs = 0L; var spill = 0L; var peakExec = 0L; var outBytes = 0L
}

/** Spans and counters around the calls into each layer, recorded from the
  * benchmark side only: harness spans around `Flow.run`, the write call and
  * each streaming trigger, plus Spark's public listeners. Everything stays in
  * memory until the run ends. With `enabled = false` nothing is registered and
  * every call is a pass-through. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  val qes = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  val tasks = mutable.Map.empty[Int, TaskTotals]
  val codegen = mutable.Map.empty[Int, (Long, Long)]
  @volatile var heapAfterGcPeak = 0L
  @volatile var storagePeak = 0L

  // stage id -> (op, job span id), job id -> (op, span id, start)
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]()
  private val jobOpen = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Long, Boolean)]()
  private val queryOp = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  // SQL execution id -> the call site of the action that started it
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var opWindows = Vector.empty[(Int, Long, Long)]
  @volatile var currentOp: Int = -1

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def nextId(): Int = ids.incrementAndGet()

  /** Run `body` as a span of `layer`; a child of `parent`. */
  def span[T](op: Int, name: String, layer: String, parent: Int)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val id = nextId()
    val s = nowUs
    try body(id) finally spans.add(Span(id, op, name, layer, s, nowUs, parent))
  }

  def opStarted(op: Int): Unit = if (enabled) currentOp = op
  def opEnded(op: Int, startUs: Long, endUs: Long): Unit = if (enabled) {
    opWindows = opWindows :+ ((op, startUs, endUs))
    currentOp = -1
  }

  def bindQuery(queryId: String, op: Int): Unit = if (enabled) queryOp.put(queryId, op)

  /** Codegen compile count and nanoseconds so far (JVM-wide counters). */
  def codegenNow(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def addCodegen(op: Int, before: (Long, Long)): Unit = if (enabled) {
    val after = codegenNow()
    val (c, t) = codegen.getOrElse(op, (0L, 0L))
    codegen(op) = (c + after._1 - before._1, t + after._2 - before._2)
  }

  private def opAt(timeUs: Long): Int =
    opWindows.find { case (_, s, e) => timeUs >= s - 1000 && timeUs <= e + 1000 }
      .map(_._1).getOrElse(currentOp)

  private def opOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.OpKey))).map(_.toInt).getOrElse(currentOp)

  /** Nodes of the executed plan (through AQE and query stages) whose class
    * lives in `graft.plans`, counting expressions too. */
  private def customNodes(plan: SparkPlan): Int = {
    def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.plans.")
    def walk(p: SparkPlan): Int = {
      val here = (if (isGraft(p)) 1 else 0) +
        p.expressions.map(_.collect { case e if isGraft(e) => 1 }.sum).sum
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children ++ other.subqueries
      }
      here + kids.map(walk).sum
    }
    walk(plan)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfProps(e.properties)
      val id = nextId()
      // AQE submits query-stage jobs from its own threads, so the stage's
      // call site can lose the caller; the SQL execution keeps it
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(x => Option(execSite.get(x.toLong)))
        .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
      val inOperators = site.linesIterator.exists(_.contains("graft.operators."))
      jobOpen.put(e.jobId, (op, id, e.time * 1000, inOperators))
      e.stageIds.foreach(s => stageOwner.put(s, (op, id)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, x.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val open = jobOpen.remove(e.jobId)
      if (open != null) {
        val (op, id, start, inOperators) = open
        spans.add(Span(id, op, s"job ${e.jobId}", "sched", start, e.time * 1000, -1))
        jobs.add(mutable.Map("op" -> op, "span" -> id, "operators_site" -> inOperators))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val owner = stageOwner.get(si.stageId)
      if (owner != null && si.submissionTime.isDefined && si.completionTime.isDefined)
        spans.add(Span(nextId(), owner._1, s"stage ${si.stageId}", "exec",
          si.submissionTime.get * 1000, si.completionTime.get * 1000, owner._2))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = stageOwner.get(e.stageId)
      val m = e.taskMetrics
      if (owner != null && m != null) tasks.synchronized {
        val t = tasks.getOrElseUpdate(owner._1, new TaskTotals)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.scanBytes += m.inputMetrics.bytesRead
        t.scanRows += m.inputMetrics.recordsRead
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExec = math.max(t.peakExec, m.peakExecutionMemory)
        t.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L) * 1000
      val op = opAt(start)
      phases.foreach { case (name, ph) =>
        spans.add(Span(nextId(), op, name, "catalyst", ph.startTimeMs * 1000, ph.endTimeMs * 1000, -1))
      }
      val nodes = try customNodes(qe.executedPlan) catch { case _: Throwable => 0 }
      qes.add(mutable.Map("op" -> op, "custom_nodes" -> nodes) ++
        phases.map { case (n, ph) => n -> (ph.endTimeMs - ph.startTimeMs) })
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = Option(queryOp.get(p.id.toString)).map(_.intValue).getOrElse(currentOp)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      var t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      // Progress reports phase durations, not times: lay the phases out in
      // the order MicroBatchExecution runs them, from the trigger's start.
      Tracer.TriggerPhases.foreach { ph =>
        d.get(ph).filter(_ > 0).foreach { ms =>
          spans.add(Span(nextId(), op, ph, "streaming", t, t + ms * 1000, -1))
          t += ms * 1000
        }
      }
      progress.add(mutable.Map[String, Any]("op" -> op,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum) ++ d)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Heap after the last collection and storage memory in use, as peaks. */
  def sampleMemory(spark: SparkSession): Unit = if (enabled) {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapAfterGcPeak = math.max(heapAfterGcPeak, heap)
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    storagePeak = math.max(storagePeak, storage)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val TriggerPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}
