package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener bus reported it, with its stage and task
  * aggregates. Times are epoch milliseconds. */
final class JobRec(val id: Int, val startMs: Long, val queryId: String,
    val batchId: Long, val barrier: Long) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0
  var taskMs, shuffleBytes, inputBytes = 0L
}

/** Jobs, stages and tasks from a [[SparkListener]]. A streaming job carries
  * its trigger's `sql.streaming.queryId` and `streaming.sql.batchId`
  * properties; the call site does not tell triggers apart. */
final class JobCollector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var barrierSeen = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, e.time, prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop(JobCollector.BarrierKey).map(_.toLong).getOrElse(0L))
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      if (j.barrier > barrierSeen) barrierSeen = j.barrier
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  def all: Seq[JobRec] = jobs.values.asScala.filter(_.barrier == 0L).toSeq.sortBy(_.id)
}

object JobCollector { val BarrierKey = "perfbench.barrier" }

/** Planning time of every finished batch query, from its
  * `QueryExecution.tracker` phases (analysis, optimization, planning). */
final class PlanCollector extends QueryExecutionListener {
  final case class Rec(startMs: Long, endMs: Long, planningMs: Long, phases: Int)
  val recs = new ConcurrentLinkedQueue[Rec]()
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      recs.add(Rec(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
        ph.map(_.durationMs).sum, ph.size))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Every streaming query's progress events and lifecycle. */
final class StreamCollector extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val started = ConcurrentHashMap.newKeySet[String]()
  val terminated = ConcurrentHashMap.newKeySet[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(e.runId.toString)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId.toString)

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** Trigger-level facts of one progress event. */
final case class Trig(queryId: String, name: String, batchId: Long,
    startMs: Long, durations: Map[String, Long], rows: Long,
    endOffset: String, stateRows: Long, stateBytes: Long) {
  def endMs: Long = startMs + dur("triggerExecution")
  def dur(k: String): Long = durations.getOrElse(k, 0L)
}

object Trig {
  def apply(p: StreamingQueryProgress): Trig = Trig(p.id.toString, p.name,
    p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    p.numInputRows, p.sources.headOption.map(_.endOffset).orNull,
    p.stateOperators.map(_.numRowsTotal).sum,
    p.stateOperators.map(_.memoryUsedBytes).sum)
}

/** A recorded interval. Spans are kept in memory and written at the end. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Any])

/** The benchmark's collectors. The stream collector is always on (the txn
  * latency mapping needs the correlator's progress); job, planning,
  * file-system and span collection are on only in a traced run. */
final class Trace(val spark: SparkSession, val on: Boolean) {
  val jobs = new JobCollector
  val plans = new PlanCollector
  val streams = new StreamCollector
  private val nextId = new AtomicLong(1)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private var barriers = 0L

  spark.streams.addListener(streams)
  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def newId(): Long = nextId.getAndIncrement()

  def record(s: Span): Unit = if (on) spanQ.add(s)

  /** Time `f` as a span of the benchmark's own (recorded when tracing). */
  def span[A](name: String, parent: Long = 0L, attrs: Map[String, Any] = Map.empty)(
      f: Long => A): A = {
    val id = newId()
    val t0 = System.currentTimeMillis()
    try f(id)
    finally record(Span(id, parent, name, t0, System.currentTimeMillis(), attrs))
  }

  /** Wait until the shared listener queue has delivered everything posted so
    * far: a marker job's end arrives after all earlier job, task and
    * query-execution events. */
  def barrier(): Unit = if (on) {
    barriers += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(JobCollector.BarrierKey, barriers.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobCollector.BarrierKey, null)
    Main.await(s"listener barrier $barriers", 30000)(jobs.barrierSeen >= barriers)
  }

  /** Wait until every streaming query seen starting has also been seen
    * terminating, so its last progress events are in. */
  def awaitStreamsDone(): Unit =
    Main.await("streaming listener", 30000)(
      streams.started.asScala.forall(streams.terminated.contains))

  def spans: Seq[Span] = spanQ.asScala.toSeq.sortBy(s => (s.startMs, s.id))
}

/** Arithmetic over the collectors for a set of operations. */
object Attr {
  /** Total time covered by the union of the intervals, clipped to [lo, hi]. */
  def busyMs(iv: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  /** Job-level totals over a set of jobs. */
  def jobTotals(js: Seq[JobRec]): Map[String, Double] = Map(
    "jobs" -> js.size.toDouble,
    "stages" -> js.map(_.stages).sum.toDouble,
    "tasks" -> js.map(_.tasks).sum.toDouble,
    "task_ms" -> js.map(_.taskMs).sum.toDouble,
    "job_ms" -> js.map(j => math.max(0L, j.endMs - j.startMs)).sum.toDouble,
    "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
    "input_bytes" -> js.map(_.inputBytes).sum.toDouble)

  def intervals(js: Seq[JobRec]): Seq[(Long, Long)] =
    js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))

  def jobSpans(tr: Trace, js: Seq[JobRec], parent: JobRec => Long): Seq[Span] =
    js.map(j => Span(tr.newId(), parent(j), "spark.job", j.startMs, j.endMs,
      Map("job_id" -> j.id, "query_id" -> Option(j.queryId).getOrElse(""),
        "batch_id" -> j.batchId, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
        "input_bytes" -> j.inputBytes)))

  def sumMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  /** The per-layer metrics every workload reports: means per operation,
    * where an operation is one query call (query workloads) or one
    * micro-batch trigger (txn_loop). */
  def perOp(ops: Seq[Map[String, Double]]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val tot = Attr.sumMaps(ops)
    def m(k: String) = tot.getOrElse(k, 0.0) / n
    Map(
      "op.wall_ms" -> m("wall_ms"),
      "op.exec_ms" -> m("exec_ms"),
      "op.coord_ms" -> m("driver_gap_ms"),
      "sql.planning_ms" -> m("planning_ms"),
      "spark.jobs" -> m("jobs"),
      "spark.stages" -> m("stages"),
      "spark.tasks" -> m("tasks"),
      "spark.task_ms" -> m("task_ms"),
      "spark.shuffle_bytes" -> m("shuffle_bytes"),
      "spark.input_bytes" -> m("input_bytes"),
      "stream.micro_batches" -> m("micro_batches"),
      "fs.list_calls" -> m("list_calls"),
      "fs.create_calls" -> m("create_calls"),
      "fs.rename_calls" -> m("rename_calls"),
      "fs.delete_calls" -> m("delete_calls"),
      "fs.bytes_written" -> m("bytes_written"))
  }
}
