package perfbench

import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Flow
import graft.sources.Sinks
import graft.streaming.Streams

/** Shared helpers: flow templates and `#{var}` maps from the plan. */
abstract class Workload(val h: Harness) {
  def spark = h.spark
  def run(): Unit

  def vars(node: JsonNode): Map[String, String] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** Every terminal of a flow, in id order. */
  def flow(json: String, v: Map[String, String]): Seq[(String, DataFrame)] =
    Flow.run(spark, json, v).toSeq.sortBy(_._1)
}

/** Many small Tuktu-style JSON flows, each run through `Flow.run` and written
  * to the noop sink; per-flow fixed cost dominates. */
final class FlowMix(h: Harness) extends Workload(h) {
  private val templates = h.plan.get("templates").elements().asScala.toIndexedSeq
  private val varsByRound = h.plan.get("vars").elements().asScala.toIndexedSeq
  private def varsOf(round: Int, t: Int): Map[String, String] =
    vars(varsByRound(round % varsByRound.size).get(t))

  private def register(): Unit = {
    // the one model_apply flow scores with a min/max normalizer fitted here
    val li = spark.read.parquet(h.str("model_input"))
    val fields = h.strs(h.plan.get("model_fields"))
    val aggs = fields.flatMap(f => Seq(min(f), max(f)))
    val row = li.agg(aggs.head, aggs.tail: _*).head()
    val stats = fields.zipWithIndex.map { case (f, i) =>
      f -> (row.get(2 * i).toString.toDouble, row.get(2 * i + 1).toString.toDouble) }.toMap
    graft.ml.ModelRegistry.put(h.str("model_name"), new graft.ml.FieldNormalizer(stats, 0.0, 1.0))
  }

  private def runFlow(t: Int, round: Int, write: (String, DataFrame) => Unit, items: Long,
                      execLayer: String = "sched"): OpRecord = {
    val tpl = templates(t)
    h.timed("flow", tpl.get("name").asText, round, items) { c =>
      h.buildAndWrite(c, execLayer)(flow(tpl.get("json").asText, varsOf(round, t)))(write)
    }
  }

  /** One untimed pass over every template on round-0 variables, on
    * CheckThreads client threads, writing every terminal to parquet: these
    * are the outputs run.py checks. */
  private def checkPass(): Seq[Map[String, Any]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(FlowMix.CheckThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val pending = templates.indices.map { t =>
      Future {
        val name = templates(t).get("name").asText
        val dir = s"${h.out}/check/$name"
        val rec = runFlow(t, 0, (k, d) => Sinks.parquet(d, s"$dir/$k"), 0, "sources")
        Map("template" -> name, "round" -> 0, "dir" -> dir, "ok" -> rec.ok, "error" -> rec.error)
      }
    }
    try pending.map(Await.result(_, Duration.Inf)) finally pool.shutdown()
  }

  /** Set-up warms up with one flow. The check pass follows, outside set-up
    * and the timed rounds; it also runs every template once, so the timed
    * rounds measure flows past their first, cold execution. Timed rounds use
    * the variables of rounds 1, 2, ... on one client thread and write to the
    * noop sink, so verbatim templates find their generated code cached and
    * fresh ones do not. */
  def run(): Unit = {
    h.setup(() => register(), () => runFlow(0, 0, (_, d) => h.noop(d), 0))
    h.untimed = true
    h.extra("checks") = checkPass()
    h.hygiene()
    h.untimed = false
    h.runRounds { r =>
      templates.indices.foreach { t =>
        runFlow(t, r + 1, (_, d) => h.noop(d), templates(t).get("items").asLong)
        h.hygiene()
      }
    }
  }
}

object FlowMix {
  val CheckThreads = 3
}

/** The events table replayed through MemoryStream in fixed micro-batches,
  * ending with a watermark flush, through graft's streaming operators. Each
  * pipeline is one operation; each trigger (addData until processAllAvailable
  * returns) is timed on its own. */
final class StreamReplay(h: Harness) extends Workload(h) {
  type E = (Long, Timestamp, Long, String, Double)
  private val cfg = h.plan.get("stream")
  private def c(k: String) = cfg.get(k).asText
  private var batches: IndexedSeq[Seq[E]] = IndexedSeq.empty
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

  private def load(path: String): IndexedSeq[Seq[E]] = {
    val rows = spark.read.parquet(path).orderBy("batch", "seq").collect()
    rows.groupBy(_.getAs[Int]("batch")).toIndexedSeq.sortBy(_._1).map(_._2.toSeq.map { r =>
      val us = r.getAs[Long]("ts_us")
      val ts = Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      (r.getAs[Long]("event_id"), ts, r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"))
    })
  }

  /** Start a query over `nIn` MemoryStreams, replay every batch into each
    * (split by `route` when there are two inputs), stop, then write the sink's
    * contents to parquet for checking. The last batch is the watermark flush. */
  private def pipeline(r: Int, name: String, bs: IndexedSeq[Seq[E]], nIn: Int,
                       route: E => Int = _ => 0)
                      (query: (Seq[DataFrame], String) => StreamingQuery)
                      (result: String => DataFrame): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val session = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    val sink = s"pb_${name}_$r"
    var done = 0
    val events = bs.map(_.size.toLong).sum
    val rec = h.timed("pipeline", name, r, events) { ctx =>
      val ins = Seq.fill(nIn)(MemoryStream[E])
      val q = query(ins.map(_.toDF().toDF(cols: _*)), sink)
      h.tracer.bindQuery(q.id.toString, ctx.op)
      try bs.zipWithIndex.foreach { case (b, i) =>
        val t0 = System.nanoTime()
        val c0 = Harness.cpuMs
        h.tracer.span(ctx.op, s"trigger $i", "streaming", ctx.span) { _ =>
          b.groupBy(route).foreach { case (k, rows) => ins(k).addData(rows: _*) }
          q.processAllAvailable()
        }
        if (!h.untimed) h.ops += OpRecord(ctx.op, triggerKind(i, bs.size), name, r,
          (System.nanoTime() - t0) / 1e6, Harness.cpuMs - c0, b.size, ok = true, "")
        done += 1
      } finally q.stop()
      // the memory sink's contents, written out through graft.sources (a
      // file sink's output is checked where it was written)
      val df = result(sink)
      if (df != null) h.tracer.span(ctx.op, "execute", "sources", ctx.span) { _ =>
        Sinks.parquet(df, s"${h.out}/check/stream/$name")
      }
    }
    if (!h.untimed) (done until bs.size).foreach(i =>
      h.ops += OpRecord(rec.op, triggerKind(i, bs.size), name, r, 0, 0, bs(i).size, ok = false, rec.error))
    h.hygiene(spark.catalog.dropTempView(sink))
  }

  /** The last batch is the watermark flush: an operation, but not a latency
    * sample of a data trigger. */
  private def triggerKind(i: Int, n: Int) = if (i == n - 1) "flush" else "trigger"

  private def memory(df: DataFrame, sink: String, mode: String): StreamingQuery =
    df.writeStream.format("memory").queryName(sink).outputMode(mode).start()

  private def micros(col: org.apache.spark.sql.Column) = unix_micros(col)

  private def round(r: Int, bs: IndexedSeq[Seq[E]]): Unit = {
    val wm = c("watermark")
    // deduplicated events go through the checkpointed file sink: the commit
    // path (offset and commit logs, state commit) beside the memory sinks
    val fileOut = s"${h.out}/check/stream/dedup"
    h.deleteTree(new java.io.File(fileOut))
    pipeline(r, "dedup", bs, 1) { (in, _) =>
      Streams.fileSink(Streams.streamingDedup(in.head, Seq("event_id"), Some("ts"), Some(wm))
        .withColumn("ts", micros(col("ts"))), fileOut, s"${h.out}/tmp/ckpt_dedup_$r")
    } { _ => null }

    pipeline(r, "session", bs, 1) { (in, s) =>
      memory(Streams.sessionAgg(in.head, "ts", c("gap"), wm, Seq("user_id"),
        Seq(count(lit(1)).as("n"), sum("value").as("total"))), s, "append")
    } { s => spark.table(s).select(micros(col("session_window.start")).as("start_us"),
      micros(col("session_window.end")).as("end_us"), col("user_id"), col("n"), col("total")) }

    pipeline(r, "running_count", bs, 1) { (in, s) =>
      memory(Streams.runningCountPerKey(in.head, "user_id"), s, "update")
    } { s => spark.table(s).groupBy("key").agg(max("running_count").as("running_count")) }

    val (left, right) = (c("join_left"), c("join_right"))
    pipeline(r, "stream_join", bs.map(_.filter(e => e._4 == left || e._4 == right)), 2,
      e => if (e._4 == left) 0 else 1) { (in, s) =>
      def side(d: DataFrame, p: String) = d.select(col("event_id").as(s"${p}_id"),
        col("ts").as(s"${p}_ts"), col("user_id"), col("value").as(s"${p}_value"))
      memory(Streams.streamJoin(side(in(0), "l"), side(in(1), "r"), Seq("user_id"),
        "l_ts", "r_ts", wm, c("within")), s, "append")
    } { s => spark.table(s).select("l_id", "r_id", "user_id") }

    pipeline(r, "hll", bs, 1) { (in, s) =>
      memory(Streams.streamingHllDistinct(in.head.withColumn("uid", col("user_id").cast("string")),
        "event_type", "uid", p = cfg.get("hll_p").asInt), s, "update")
    } { s => spark.table(s).groupBy("event_type").agg(min("n_zero").as("n_zero"),
      min("sum_scaled").as("sum_scaled"), max("hll_est").as("hll_est")) }
  }

  def run(): Unit = {
    h.setup(() => { batches = load(h.str("replay")) },
      () => pipeline(0, "warm", batches.take(1), 1)((in, s) => memory(in.head, s, "append"))(_ => null))
    h.runRounds(r => round(r, batches))
  }
}

/** Checks the harness's own counting: a flow with an unknown processor must
  * count as one failed operation and must not stop the run. */
final class SelfTest(h: Harness) extends Workload(h) {
  def run(): Unit = {
    h.setup(() => (), () => ())
    h.runRounds { r =>
      h.strs(h.plan.get("flows")).zipWithIndex.foreach { case (json, i) =>
        h.timed("flow", s"flow$i", r, 1) { c =>
          h.buildAndWrite(c, "sched")(flow(json, Map.empty))((_, d) => h.noop(d))
        }
        h.hygiene()
      }
    }
  }
}
