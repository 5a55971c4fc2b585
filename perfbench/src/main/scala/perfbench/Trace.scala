package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds;
  * `parent` is the enclosing span's id (0 for ops, which are roots) and
  * `op` the op that started the work. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Double, end: Double)

/** In-memory recorder the listeners and the harness write into. Spans and
  * counters are kept until the run ends and written out once. Recording
  * happens only while `enabled`, which a traced run sets for its timed
  * phase; the warm pass and untraced runs record nothing. */
object Trace {
  @volatile var enabled = false
  /** The op currently running on the harness thread (0 between ops). */
  @volatile var currentOp = 0L
  val OpProperty = "perfbench.op"

  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[String, Double]
  /** Op intervals, for attributing events that carry only a time. */
  private val opIntervals = mutable.ArrayBuffer.empty[(Long, Double, Double)]

  // Clock: epoch ms with sub-ms resolution from one (wall, nano) anchor.
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Ends recording once every event already posted has been delivered. */
  def stop(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    enabled = false
  }

  def add(s: Span): Unit = synchronized { spans += s }
  def count(key: String, v: Double = 1.0): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allCounters: Map[String, Double] = synchronized(counters.toMap)

  def opDone(op: Long, start: Double, end: Double): Unit = synchronized {
    opIntervals += ((op, start, end))
  }
  /** The op whose interval holds `t`, else the op running now. */
  def opAt(t: Double): Long = synchronized {
    opIntervals.reverseIterator.find { case (_, s, e) => t >= s && t <= e }
      .map(_._1).getOrElse(currentOp)
  }

  /** Times a harness call into a library layer as a child span of the
    * current op; the elapsed seconds also accumulate under `key`. */
  def call[T](layer: String, name: String, key: String)(body: => T): T = {
    val s = nowMs()
    try body
    finally {
      val e = nowMs()
      if (enabled) {
        add(Span(nextId(), currentOp, currentOp, layer, name, s, e))
        count(key, (e - s) / 1000.0)
      }
    }
  }

  // Streams started and terminated, counted whether or not recording is
  // enabled, so resource state after each op sees leaked queries.
  val streamsStarted = new AtomicLong(0)
  val streamsTerminated = new AtomicLong(0)
}

/** Job, stage and task metrics, attributed to ops through the local
  * property the harness sets before each op. Registered through
  * `spark.extraListeners`, so it sees every session of the context. */
class JobListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Double)]()
  private val stageJob = new ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.enabled) {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.OpProperty))).map(_.toLong)
      .getOrElse(Trace.opAt(e.time.toDouble))
    val id = Trace.nextId()
    jobSpan.put(e.jobId, (id, op, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, (id, op)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobSpan.remove(e.jobId)
    if (j != null) {
      val (id, op, start) = j
      Trace.add(Span(id, op, op, "spark", s"job ${e.jobId}", start,
        e.time.toDouble))
      Trace.count("spark.jobs")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val j = stageJob.get(si.stageId)
    if (j != null) {
      val (jobId, op) = j
      for (s <- si.submissionTime; c <- si.completionTime)
        Trace.add(Span(Trace.nextId(), jobId, op, "spark",
          s"stage ${si.stageId}", s.toDouble, c.toDouble))
      Trace.count("spark.stages")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageJob.containsKey(e.stageId)) return
    Trace.count("spark.tasks")
    if (!e.taskInfo.successful) Trace.count("spark.tasks_failed")
    val m = e.taskMetrics
    if (m != null) {
      val runS = m.executorRunTime / 1000.0
      Trace.count("spark.task_run_s", runS)
      Trace.count("spark.task_cpu_s", m.executorCpuTime / 1e9)
      Trace.count("spark.task_wait_s",
        math.max(0.0, e.taskInfo.duration / 1000.0 - runS))
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      Trace.count("spark.shuffle_read_mb", sr.totalBytesRead / 1048576.0)
      Trace.count("spark.shuffle_write_mb", sw.bytesWritten / 1048576.0)
      Trace.count("spark.spill_mb",
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0 &&
          sw.recordsWritten == 0)
        Trace.count("spark.empty_tasks")
    }
  }
}

/** Catalyst phase times of every query execution, from each execution's
  * `QueryPlanningTracker`. Registered through the static conf
  * `spark.sql.queryExecutionListeners`, so every session built from the
  * context (stream child sessions and foreachBatch clones included)
  * loads it; a shared seen-set keeps an execution from counting twice. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit =
    if (Trace.enabled && PlanListener.seen.add(qe.id)) {
      val phases = qe.tracker.phases
      Trace.count("plans.executions")
      val starts = phases.values.map(_.startTimeMs)
      val op = if (starts.isEmpty) Trace.currentOp
        else Trace.opAt(starts.min.toDouble)
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach { s =>
          Trace.count(s"plans.${p}_s", s.durationMs / 1000.0)
          Trace.add(Span(Trace.nextId(), op, op, "plans", p,
            s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      }
    }
}

object PlanListener {
  val seen: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
}

/** Trigger progress of every streaming query. Registered through the
  * static conf `spark.sql.streaming.streamingQueryListeners`, so the child
  * sessions the drains run in load it too. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (StreamListener.started.add(e.runId.toString)) {
      Trace.streamsStarted.incrementAndGet()
      // delivered synchronously from start(): the current op started it
      StreamListener.runOp.put(e.runId.toString, Trace.currentOp)
      if (Trace.enabled) Trace.count("streaming.queries")
    }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (StreamListener.terminated.add(e.runId.toString))
      Trace.streamsTerminated.incrementAndGet()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (!Trace.enabled ||
        !StreamListener.progressSeen.add(s"${p.runId}/${p.batchId}")) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = d.getOrElse("triggerExecution", 0L)
    val op = Option(StreamListener.runOp.get(p.runId.toString))
      .map(_.longValue).getOrElse(Trace.opAt(start))
    Trace.add(Span(Trace.nextId(), op, op, "streaming",
      s"trigger ${p.batchId}", start, start + total))
    Trace.count("streaming.triggers")
    if (p.numInputRows == 0) Trace.count("streaming.empty_triggers")
    Trace.count("streaming.input_rows", p.numInputRows.toDouble)
    Seq("addBatch" -> "add_batch_s", "queryPlanning" -> "query_planning_s",
      "walCommit" -> "wal_commit_s", "commitOffsets" -> "commit_offsets_s",
      "latestOffset" -> "latest_offset_s", "getBatch" -> "get_batch_s")
      .foreach { case (k, m) =>
        Trace.count(s"streaming.$m", d.getOrElse(k, 0L) / 1000.0) }
    p.stateOperators.foreach(s =>
      Trace.count("streaming.state_commit_s", s.commitTimeMs / 1000.0))
  }
}

object StreamListener {
  val started: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val terminated: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val progressSeen: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val runOp = new ConcurrentHashMap[String, java.lang.Long]()
}
