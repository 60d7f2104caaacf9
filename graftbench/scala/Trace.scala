package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program: `name` is the kind of call
  * ("publish", "replay", "exec", ...), `tag` the item it worked on (a
  * query name, a cycle number). Times are wall-clock epoch ms so that
  * listener events, which carry epoch ms, can be placed inside them. */
final case class Span(name: String, tag: String, startMs: Long, endMs: Long,
    nanos: Long, extra: Map[String, Any] = Map.empty)

/** Records spans around calls into the program and, when `traced`,
  * the Spark, SQL and streaming listener events that fall inside them.
  *
  * Events are attributed to spans by time, not by thread-local job
  * properties: graft runs part of a query's construction on its own
  * thread pool, whose threads do not see properties set later on the
  * caller's thread. The harness makes one call at a time, so every job
  * submitted between a span's start and end belongs to that span. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]

  final case class Job(id: Int, submitMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      recordsRead: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Qe(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int)
  final case class Progress(id: String, startMs: Long, durations: Map[String, Long],
      inputRows: Long)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val qes = ArrayBuffer.empty[Qe]
  val streamStarts = ArrayBuffer.empty[(String, Long)]
  val progress = ArrayBuffer.empty[Progress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        streamStarts += ((e.id.toString, java.time.Instant.parse(e.timestamp).toEpochMilli))
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        val keys = d.keySet.toArray(new Array[String](0)).toSeq
        progress += Progress(p.id.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          keys.map(k => k -> d.get(k).longValue).toMap, p.numInputRows)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val ex = try Trace.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
    synchronized { qes += Qe(start, ms("analysis"), ms("optimization"), ms("planning"), ex) }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as one span. */
  def span[T](name: String, tag: String = "")(body: => T): T = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    spans += Span(name, tag, s, math.max(s, System.currentTimeMillis()), dt)
    r
  }

  /** Attach measured values to the most recent span. */
  def note(kv: (String, Any)*): Unit =
    spans(spans.size - 1) = spans.last.copy(extra = spans.last.extra ++ kv)

  /** Stop listening once every posted event has been delivered. */
  def close(): Unit = if (traced) {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Per-span event totals, as JSON-ready maps. */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    spans.toSeq.map { sp =>
      def inside(ms: Long) = ms >= sp.startMs && ms <= sp.endMs
      val base = Map[String, Any]("name" -> sp.name, "tag" -> sp.tag,
        "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "s" -> sp.nanos / 1e9) ++ sp.extra
      if (!traced) base
      else {
        val js = jobs.filter(j => inside(j.submitMs))
        val jobIds = js.map(_.id).toSet
        val ts = tasks.filter(t => jobOfStage.get(t.stage).exists(j => jobIds(j.id)))
        val stageTasks = ts.groupBy(_.stage)
        // skew inputs: per multi-task stage, its slowest and its mean
        // task; a stage waits for its slowest task
        val multi = stageTasks.values.filter(_.size >= 2)
        val qs = qes.filter(q => inside(q.startMs))
        val ss = streamStarts.filter(x => inside(x._2))
        val ps = progress.filter(p => inside(p.startMs))
        base ++ Map(
          "jobs" -> js.size,
          "stages" -> stageTasks.size,
          "tasks" -> ts.size,
          "task_run_ms" -> ts.map(_.runMs).sum,
          "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
          "task_gc_ms" -> ts.map(_.gcMs).sum,
          "records_read" -> ts.map(_.recordsRead).sum,
          "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
          "spill_bytes" -> ts.map(_.spill).sum,
          "stage_max_task_ms" -> multi.map(_.map(_.runMs).max).sum,
          "stage_mean_task_ms" -> multi.map(g => g.map(_.runMs).sum.toDouble / g.size).sum,
          "analysis_ms" -> qs.map(_.analysisMs).sum,
          "optimization_ms" -> qs.map(_.optimizationMs).sum,
          "planning_ms" -> qs.map(_.planningMs).sum,
          "exchanges" -> qs.map(_.exchanges).sum,
          "stream_start_ms" -> ss.map(_._2 - sp.startMs).toSeq,
          "stream_triggers" -> ps.map(p => Map[String, Any](
            "start_ms" -> p.startMs, "input_rows" -> p.inputRows) ++ p.durations).toSeq)
      }
    }
  }
}

object Trace {
  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collect(p) { case e: Exchange => e }.size
  }
  def exchanges(p: SparkPlan): Int = Plans.exchanges(p)
}
