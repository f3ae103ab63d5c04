package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation (a flow, a streaming trigger or a whole streaming
  * pipeline): its wall time and the CPU time the whole JVM spent meanwhile.
  * `ok = false` marks a failed operation; the run goes on with the next one. */
final case class OpRecord(op: Int, kind: String, name: String, round: Int,
                          ms: Double, cpuMs: Double, items: Long, ok: Boolean, error: String)

/** The operation id (shared by all its spans) and the id of its top span. */
final case class Ctx(op: Int, span: Int)

/** Entry point of the measured JVM: `Harness <plan.json>`. The plan, written
  * by run.py, names the workload, its generated inputs and the run length;
  * the harness writes `results.json` (timings, outputs for checking, spans
  * when tracing) into the plan's output directory. */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val h = new Harness(plan)
    val workload = plan.get("workload").asText
    try {
      workload match {
        case "flow_mix"      => new FlowMix(h).run()
        case "stream_replay" => new StreamReplay(h).run()
        case "selftest"      => new SelfTest(h).run()
        case other           => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      h.writeResults()
    } finally h.stop()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, every thread included, in milliseconds. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Minimal JSON rendering for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null                 => "null"
    case s: String            => mapper.writeValueAsString(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => json(f.toDouble)
    case n: Number            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case o: Option[_]         => o.map(json).getOrElse("null")
    case xs: Iterable[_]      => xs.map(json).mkString("[", ",", "]")
    case a: Array[_]          => json(a.toSeq)
    case other                => json(other.toString)
  }
}

final class Harness(val plan: JsonNode) {
  val seconds: Double = plan.get("seconds").asDouble
  val cores: Int = plan.get("cores").asInt
  val out: String = plan.get("out").asText
  val tracer = new Tracer(plan.get("trace").asBoolean)
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  var setupS = 0.0
  val extra = mutable.Map.empty[String, Any]
  var leaked = 0L
  /** While set, operations run as usual but are not recorded (the warm-up
    * and the check pass). */
  var untimed = false
  private var lastOpName = ""
  /** Leaked views and persisted RDDs by the name of the operation that left them. */
  val leaks = mutable.Map.empty[String, Long]
  private var opCounter = 0
  private var session: SparkSession = _

  def spark: SparkSession = session

  def str(k: String): String = plan.get(k).asText
  def strs(node: JsonNode): Seq[String] = node.elements().asScala.map(_.asText).toSeq

  /** The Spark session as `run` configures it: graft's own tuning, local[N]
    * with N shuffle partitions, scratch space inside the output directory. */
  def startSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    session = graft.SparkEntry.tune(b).getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    tracer.attach(session)
    session
  }

  def stop(): Unit = if (session != null) {
    tracer.detach(session)
    session.stop()
    session = null
  }

  /** Set-up, from JVM start through the session, input registration and one
    * warm-up operation, which is not recorded. */
  def setup(register: () => Unit, warmUp: () => Unit): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    startSession()
    register()
    untimed = true
    warmUp()
    hygiene()
    untimed = false
    setupS = (System.currentTimeMillis() - jvmStart) / 1e3
  }

  /** Drop what one operation left in the session. Views, cached plans and
    * persisted RDDs still present here were not released by the program
    * (the harness drops Registry buckets and its own sinks first); they are
    * counted as leaked, then cleared. */
  def hygiene(own: => Unit = ()): Unit = {
    own
    graft.sources.Registry.names.foreach(graft.sources.Registry.drop(spark, _))
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    val persisted = spark.sparkContext.getPersistentRDDs
    val n = views.length + persisted.size
    if (n > 0 && !untimed) {
      leaked += n
      leaks(lastOpName) = leaks.getOrElse(lastOpName, 0L) + n
    }
    spark.catalog.clearCache()
    views.foreach(spark.catalog.dropTempView)
    persisted.values.foreach(_.unpersist(blocking = true))
    deleteTree(new File(s"$out/tmp"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def newOp(): Int = synchronized { opCounter += 1; opCounter }

  /** Time `body` as one operation; failures are recorded, not thrown. */
  def timed(kind: String, name: String, round: Int, items: Long)(body: Ctx => Unit): OpRecord = {
    val op = newOp()
    spark.sparkContext.setLocalProperty(Tracer.OpKey, op.toString)
    val cg = if (tracer.enabled) tracer.codegenNow() else null
    val startUs = tracer.nowUs
    tracer.opStarted(op)
    val t0 = System.nanoTime()
    val c0 = Harness.cpuMs
    val err = try {
      tracer.span(op, s"op $name", "harness", -1)(id => body(Ctx(op, id)))
      ""
    } catch { case NonFatal(e) => Option(e.getMessage).getOrElse(e.toString).linesIterator.toSeq.headOption.getOrElse(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpu = Harness.cpuMs - c0
    tracer.opEnded(op, startUs, tracer.nowUs)
    if (cg != null) tracer.addCodegen(op, cg)
    tracer.sampleMemory(spark)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    val rec = OpRecord(op, kind, name, round, ms, cpu, items, err.isEmpty, err)
    lastOpName = name
    if (!untimed) ops += rec
    rec
  }

  /** Build (`Flow.run` and any frame composition) then execute (the write). */
  def buildAndWrite(c: Ctx, execLayer: String)
                   (build: => Seq[(String, DataFrame)])
                   (write: (String, DataFrame) => Unit): Unit = {
    val outs = tracer.span(c.op, "build", "engine", c.span)(_ => build)
    tracer.span(c.op, "execute", execLayer, c.span)(_ => outs.foreach { case (k, d) => write(k, d) })
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run rounds of `round` until the run length has passed (whole rounds). */
  def runRounds(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(r)
      r += 1
    }
    extra("timed_rounds") = r
  }

  def writeResults(): Unit = {
    val res = mutable.Map[String, Any](
      "setup_s" -> setupS,
      "ops" -> ops.map(o => Map("op" -> o.op, "kind" -> o.kind, "name" -> o.name,
        "round" -> o.round, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "items" -> o.items, "ok" -> o.ok,
        "error" -> o.error)).toSeq,
      "leaked" -> leaked, "leaks" -> leaks) ++ extra
    if (tracer.enabled) res("trace") = Map(
      "spans" -> tracer.spans.asScala.map(s => Seq(s.id, s.op, s.name, s.layer, s.start, s.end, s.parent)).toSeq,
      "jobs" -> tracer.jobs.asScala.toSeq,
      "qes" -> tracer.qes.asScala.toSeq,
      "progress" -> tracer.progress.asScala.toSeq,
      "tasks" -> tracer.tasks.map { case (op, t) => op.toString -> Map(
        "tasks" -> t.tasks, "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs,
        "scan_bytes" -> t.scanBytes, "scan_rows" -> t.scanRows,
        "shuffle_write_bytes" -> t.shWrite, "shuffle_read_bytes" -> t.shRead,
        "fetch_wait_ms" -> t.fetchWaitMs, "spill_bytes" -> t.spill,
        "peak_exec_bytes" -> t.peakExec, "output_bytes" -> t.outBytes) },
      "codegen" -> tracer.codegen.map { case (op, (n, ns)) =>
        op.toString -> Map("compiles" -> n, "ms" -> ns / 1e6) },
      "heap_after_gc_peak_bytes" -> tracer.heapAfterGcPeak,
      "storage_peak_bytes" -> tracer.storagePeak)
    Files.write(Paths.get(out, "results.json"),
      Harness.json(res).getBytes(StandardCharsets.UTF_8))
  }
}
