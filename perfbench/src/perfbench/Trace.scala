package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the traced runs.
  *
  * The client thread tags every Spark job it causes with the local
  * properties `perfbench.span` (one id per query) and `perfbench.phase`
  * (`build`, `plan` or `action`); Spark hands those properties to the listener
  * with each job. Listener callbacks append to lock-free queues and time
  * themselves, so the tracing cost is reported next to the numbers it
  * perturbs. No QueryExecutionListener is attached: it fed no number, and
  * with one registered the traced batch queries ran 7-16% slower than
  * untraced ones on a 4-core box.
  */
final class Trace {
  /** A Spark job. `batch` is the key of the micro-batch that ran it
    * (`<query id>/<batch id>`, as Spark tags stream jobs), else empty. */
  final case class Job(id: Int, span: String, phase: String, batch: String, start: Long,
      var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, job: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long, inputRows: Long)
  final case class Batch(query: String, batchId: Long, key: String, startMs: Long, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateMem: Long, stateCommitMs: Long,
      dropped: Long, endOffset: String)
  /** Client-side span: one per query and phase, or one per stream phase. */
  final case class Span(id: String, name: String, phase: String, startNs: Long, endNs: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val listenerNs = new AtomicLong()

  /** Seconds spent inside the listener callbacks. */
  def listenerSeconds: Double = listenerNs.get / 1e9

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(stageJob.put(_, e.jobId))
      val batch = if (prop("sql.streaming.queryId").isEmpty) ""
        else s"${prop("sql.streaming.queryId")}/${prop("streaming.sql.batchId")}"
      jobs.put(e.jobId, Job(e.jobId, prop("perfbench.span"), prop("perfbench.phase"), batch,
        e.time, -1L, ids))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) stages.add(Stage(s.stageId, stageJob.getOrDefault(s.stageId, -1), s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      val ops = p.stateOperators
      batches.add(Batch(p.name, p.batchId, s"${p.id}/${p.batchId}", java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
        p.sources.headOption.map(_.endOffset).getOrElse("")))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners once the listener bus has delivered every
    * event already posted, so the recorded spans are complete. */
  def detach(spark: SparkSession): Unit = {
    Trace.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** The `exec.*` and `Tables.*` numbers over the jobs `all`, as totals
    * divided by `n` or as ratios. `action` (a subset of `all`) gives
    * `exec.jobs`, `exec.stages` and `exec.tasks`; the caller measures the
    * plan and driver-gap seconds. `Tables.*` cover the stages that read
    * input. */
  def execLayers(all: Seq[Job], action: Seq[Job], planS: Double, gapS: Double, n: Double)
      : Seq[(String, Double, String)] = {
    val ids = all.map(_.id).toSet
    val st = stages.asScala.toSeq.filter(s => ids(s.job))
    val actionStageIds = action.flatMap(_.stages).toSet
    val actionStages = st.filter(s => actionStageIds(s.id))
    // wall time with a job of the same query span or micro-batch running
    val jobWallMs = all.groupBy(j => (j.span, j.batch)).values
      .map(js => Stats.covered(js.map(j => (j.start, j.end)))).sum
    val runMs = st.map(_.runMs).sum.toDouble
    val scan = st.filter(_.inputRows > 0)
    def per(x: Double) = x / n
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val mb = 1024.0 * 1024.0
    val values = Seq(
      per(planS), per(action.size), per(actionStages.size), per(actionStages.map(_.tasks).sum),
      per(gapS), ratio(st.map(_.tasks).sum, st.size), ratio(runMs, jobWallMs.toDouble),
      per(runMs / 1e3), per(st.map(_.cpuNs).sum / 1e9), per(st.map(_.gcMs).sum / 1e3),
      per(st.map(_.shuffleWrite).sum / mb), per(st.map(_.shuffleRead).sum / mb),
      per(st.map(_.spill).sum / mb),
      per(scan.map(_.inputBytes).sum / mb), per(scan.map(_.inputRows).sum),
      ratio(scan.map(_.tasks).sum, scan.size))
    Trace.execLayerNames.zip(values).map { case ((k, u), v) => (k, v, u) }
  }

  /** Writes every recorded span and event as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    def line(fields: (String, Any)*): String =
      Json.mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*).asJava)
    val lines = spans.asScala.map(s => line("kind" -> "span", "id" -> s.id, "name" -> s.name,
        "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) ++
      jobs.values.asScala.toSeq.sortBy(_.id).map(j => line("kind" -> "job", "job" -> j.id,
        "span" -> j.span, "phase" -> j.phase, "batch" -> j.batch, "start_ms" -> j.start,
        "end_ms" -> j.end, "stages" -> j.stages.asJava)) ++
      stages.asScala.map(s => line("kind" -> "stage", "stage" -> s.id, "job" -> s.job,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
        "input_bytes" -> s.inputBytes, "input_rows" -> s.inputRows)) ++
      batches.asScala.map(b => line("kind" -> "batch", "query" -> b.query, "batch" -> b.batchId,
        "key" -> b.key, "start_ms" -> b.startMs, "rows" -> b.rows,
        "durations" -> scala.collection.immutable.TreeMap(b.durations.toSeq: _*).asJava,
        "state_rows" -> b.stateRows, "state_mem" -> b.stateMem, "state_commit_ms" -> b.stateCommitMs,
        "dropped" -> b.dropped, "end_offset" -> b.endOffset))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

object Trace {
  /** Names and units of [[Trace#execLayers]], in its order. */
  val execLayerNames: Seq[(String, String)] = Seq(
    "exec.plan_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.driver_gap_s" -> "s",
    "exec.tasks_per_stage" -> "count", "exec.busy_cores" -> "cores",
    "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "Tables.input_mb" -> "MB", "Tables.input_rows" -> "count", "Tables.scan_tasks_per_stage" -> "count")

  /** Blocks until the listener bus has delivered every posted event. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
