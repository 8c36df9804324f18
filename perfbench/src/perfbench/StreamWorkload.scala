package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamingJobs

/** Parameters of the stream load, read from the benchmark's config. */
final case class StreamParams(
    eventsPerFile: Int,
    drainFiles: Int,
    steadyFiles: Int,
    steadyFilesPerS: Double,
    warmupFiles: Int,
    maxFilesPerTrigger: Int,
    eventSpanS: Int,
    users: Int,
    dupShare: Double,
    outOfOrderShare: Double,
    outOfOrderMaxS: Int,
    lateShare: Double,
    genLateBoundMs: Long,
    catchupS: Double)

/** The Kinesis → Lambda → DynamoDB pipeline as three concurrent queries
  * over one landing directory.
  *
  * Input: seeded event files staged during set-up and released through
  * atomic renames into the landing directory as one continuous stream:
  * the untimed warm-up files, then a backlog all at once (`drain`), then
  * files on an open-loop schedule kept by one generator thread
  * (`steady`). Event time advances by
  * `eventSpanS` per file. The generator places three kinds of irregular
  * rows so that which rows the 10-minute watermark drops does not depend
  * on where the micro-batch boundaries fall:
  *  - redelivered duplicates and out-of-order rows stay within 6 minutes
  *    of their file's event time, so the watermark never drops them;
  *  - late rows lie more than 10 minutes plus one 1-hour window behind
  *    every file released `2 * maxFilesPerTrigger` files earlier, so the
  *    watermark has always passed both the row (the dedup drops it) and
  *    the end of its window (the aggregation drops it). Spark filters
  *    late rows with the watermark of the batch before the previous one,
  *    hence the two batches of lag.
  * That makes every sink's final contents a batch function of the files,
  * which is what the result check compares against.
  */
final class StreamWorkload(run: Run, p: StreamParams, customerDir: String) {
  import StreamWorkload._
  private val spark = run.spark
  private val E = p.eventsPerFile.toLong
  private val lateLagFiles = 2 * p.maxFilesPerTrigger + 2
  private val root = run.workDir.resolve("stream")

  // ---- input generation ----

  private def idiv(c: Column): Column = floor(c / E).cast("long")

  /** Events of `files` files plus the generator's own columns: `f` (file
    * index), `r` (row in file) and `late` (the watermark drops the row). */
  def generate(seed: Long, files: Int): DataFrame = {
    val g = col("id")
    val f = idiv(g)
    def kindOf(s: Column): Column = {
      val k = DataGen.u(seed, "kind", s)
      val fs = idiv(s)
      when(s % E === 0, lit("normal"))
        .when(k < p.dupShare && fs >= 1, lit("dup"))
        .when(k < p.dupShare + p.lateShare && fs >= lateLagFiles, lit("late"))
        .otherwise(lit("normal"))
    }
    // a duplicate redelivers the row 1-3 files back; the fields of every
    // row are a function of its source row
    val back = least(floor(DataGen.u(seed, "back", g) * 3).cast("long") + 1, f)
    val src = when(col("kind") === "dup", g - col("back") * E).otherwise(g)
    val span = p.eventSpanS * 1000000L
    val fileStart = idiv(col("src")) * span
    val inFile = (DataGen.u(seed, "ts", col("src")) * span).cast("long")
    val ooo = when(DataGen.u(seed, "ooo", col("src")) < p.outOfOrderShare,
      (DataGen.u(seed, "ooo_by", col("src")) * p.outOfOrderMaxS * 1000000L).cast("long")).otherwise(lit(0L))
    // the watermark delay plus one tumbling window: the row's window has
    // closed too, so the windowed aggregation drops it like the dedup does
    val lateBy = lit(lateLagFiles * span + (600L + 3600L) * 1000000L) +
      (DataGen.u(seed, "late_by", col("src")) * 1800 * 1000000L).cast("long")
    val offsetUs =
      when(col("src") % E === 0, fileStart + span / 2)
        .when(col("src_kind") === "late", fileStart + inFile - lateBy)
        .otherwise(fileStart + inFile - ooo)
    val users = p.users.toDouble
    // Zipf-like (log-uniform) user ids: a few hot keys, a long tail
    val zipfUser = least(floor(exp(DataGen.u(seed, "user", col("src")) * math.log(users + 1))) - 1,
      lit(users - 1)).cast("long")
    spark.range(0, files * E, 1, math.max(1, math.min(files, 8)))
      .withColumn("kind", kindOf(g))
      .withColumn("back", back)
      .withColumn("src", src)
      .withColumn("src_kind", when(kindOf(col("src")) === "late", lit("late")).otherwise(lit("normal")))
      .select(
        f.cast("int").as("f"), (g % E).cast("int").as("r"), (col("src_kind") === "late").as("late"),
        col("src").as("event_id"),
        DataGen.ntzMicros(lit(DataGen.EventEpochUs) + offsetUs).as("ts"),
        zipfUser.as("user_id"),
        element_at(array(Seq("click", "signup", "error", "view", "purchase").map(lit): _*),
          (floor(DataGen.u(seed, "type", col("src")) * 5) + 1).cast("int")).as("event_type"),
        round(DataGen.u(seed, "value", col("src")) * 490.01 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", floor(DataGen.u(seed, "props", col("src")) * 100).cast("int")).as("props"))
  }

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  private val total = p.warmupFiles + p.drainFiles + p.steadyFiles
  private val drainFrom = p.warmupFiles
  private val steadyFrom = drainFrom + p.drainFiles
  private val staged = root.resolve("staged")
  private val landing = root.resolve("landing")
  private val ck = root.resolve("checkpoints")
  private val out = root.resolve("out")
  private val dueMs = new Array[Long](total)
  private val releasedMs = new Array[Long](total)
  private var qs = Map.empty[String, StreamingQuery]

  private def fileName(i: Int) = f"$i%05d.parquet"

  /** Stages every event file of the run in one job: one parquet file per
    * event file, named and timestamped in release order. The generator's
    * own columns stay out of the files; the result check recomputes them. */
  def stage(): Unit = {
    val parts = root.resolve("parts")
    generate(run.seed, total).repartition(8, col("f")).sortWithinPartitions("f", "r")
      .select((col("f") +: eventCols.map(col)): _*)
      .write.partitionBy("f").parquet(parts.toString)
    Files.createDirectories(staged)
    Files.createDirectories(landing)
    val t0 = System.currentTimeMillis() - total * 1000L
    (0 until total).foreach { i =>
      val part = Files.list(parts.resolve(s"f=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"event file $i was written as ${part.size} parts")
      val target = staged.resolve(fileName(i))
      Files.move(part.head, target)
      // the file source takes files in modification-time order
      target.toFile.setLastModified(t0 + i * 1000L)
    }
  }

  private def release(i: Int): Unit = {
    Files.move(staged.resolve(fileName(i)), landing.resolve(fileName(i)), StandardCopyOption.ATOMIC_MOVE)
    releasedMs(i) = System.currentTimeMillis()
  }

  /** Releases files `from until to` at once: all are due now. */
  private def releaseBacklog(from: Int, to: Int): Unit = {
    val now = System.currentTimeMillis()
    (from until to).foreach { i => dueMs(i) = now; release(i) }
  }

  /** Releases files `from until to` on the open-loop schedule from `t0`. */
  private def releaseSteady(from: Int, to: Int, t0: Long): Unit = (from until to).foreach { i =>
    dueMs(i) = t0 + ((i - from) * 1000.0 / p.steadyFilesPerS).toLong
    val wait = dueMs(i) - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
    release(i)
  }

  // ---- queries ----

  private def start(): Map[String, StreamingQuery] = {
    import spark.implicits._
    val customer = spark.read.parquet(s"$customerDir/customer.parquet")
    def source() = StreamingJobs.fileSource(spark, landing.toString, p.maxFilesPerTrigger)
    val tumbling = StreamingJobs.tumblingCounts(source())
      .writeStream.format("noop").outputMode("update").queryName("tumbling")
      .option("checkpointLocation", ck.resolve("tumbling").toString).start()
    val counters = StreamingJobs.upsertSink(
        StreamingJobs.runningCounters(source().select("user_id", "ts", "value")
          .as[StreamingJobs.SessionInput]).toDF(),
        out.resolve("counters").toString, ck.resolve("counters_upsert").toString,
        key = "user_id", versionCol = "n")
      .queryName("counters_upsert").start()
    val dedup = StreamingJobs.enrich(StreamingJobs.dedupByEventId(source()), customer)
      .writeStream.format("parquet").outputMode("append").queryName("dedup_enrich")
      .option("path", out.resolve("dedup").toString)
      .option("checkpointLocation", ck.resolve("dedup_enrich").toString).start()
    Map("tumbling" -> tumbling, "counters_upsert" -> counters, "dedup_enrich" -> dedup)
  }

  private def inputRows(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  /** Waits until every query has read `rows` input rows; false on timeout
    * or when a query died. */
  private def awaitRows(rows: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    def done = qs.values.forall(q => inputRows(q) >= rows)
    while (!done && System.nanoTime() < deadline && qs.values.forall(_.isActive)) Thread.sleep(5)
    done
  }

  private var stopped = false

  /** Stops the queries, once idle so no batch is cut short. */
  def stopAll(): Unit = if (!stopped) {
    stopped = true
    val deadline = System.nanoTime() + 5000000000L
    while (qs.values.exists(q => q.isActive && q.status.isTriggerActive) && System.nanoTime() < deadline)
      Thread.sleep(5)
    qs.foreach { case (n, q) =>
      q.exception.foreach(e => run.fail(s"stream query $n died: ${e.getMessage}"))
      q.stop()
    }
  }

  private val mapper = Json.mapper

  /** Source-log batch id of every landing file a query took, by file index. */
  private def fileLogIds(ckpt: Path): Map[Int, Long] = {
    val log = ckpt.resolve("sources").resolve("0")
    Files.list(log).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map(mapper.readTree)
      .map { n =>
        val name = n.get("path").asText.split('/').last.stripSuffix(".parquet")
        name.toInt -> n.get("batchId").asLong
      }.toMap
  }

  private def logOffset(json: String): Long =
    if (json == null || json.isEmpty || json == "null") -1L
    else mapper.readTree(json).get("logOffset").asLong

  /** Wall-clock end (ms) of the first micro-batch of `q` that covers each file. */
  private def fileDone(q: StreamingQuery, ckpt: Path): Map[Int, Long] = {
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId).map { b =>
      (logOffset(b.sources.head.endOffset),
        java.time.Instant.parse(b.timestamp).toEpochMilli + b.durationMs.get("triggerExecution").longValue)
    }
    fileLogIds(ckpt).flatMap { case (file, id) =>
      batches.find(_._1 >= id).map(b => file -> b._2)
    }
  }

  // ---- result check ----

  private def check(): Unit = {
    val truth = generate(run.seed, total).cache()
    val all = graft.Tables.normalizeEventTs(truth.select(eventCols.map(col): _*))
    val kept = graft.Tables.normalizeEventTs(truth.filter(!col("late")).select(eventCols.map(col): _*))
    def verify(name: String)(mismatches: => Long): Unit = {
      run.attempted += 1
      try {
        val bad = mismatches
        if (bad != 0) run.fail(s"$name: $bad rows differ from the batch evaluation")
      } catch {
        case e: Throwable => run.fail(s"$name check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    verify("tumbling") {
      // open windows are still in the state store; closed ones were evicted
      val wm = qs("tumbling").recentProgress.last.eventTime.get("watermark")
      val wmTs = to_timestamp(lit(wm))
      val state = spark.read.format("statestore").load(ck.resolve("tumbling").toString)
      val vf = state.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
      val actual = state.select(col("key.window.start").as("w_start"), col("key.event_type").as("event_type"),
        col("value").getField(vf(0)).as("n"), col("value").getField(vf(1)).as("sum_value"))
      val expected = StreamingJobs.tumblingCounts(kept)
        .filter(col("w_start") + expr("INTERVAL 1 HOUR") > wmTs)
      Check.keyedMismatches(actual, expected, Seq("w_start", "event_type"), Seq("n"), Seq("sum_value"))
    }
    verify("counters_upsert") {
      val actual = StreamingJobs.readUpserted(spark, out.resolve("counters").toString)
        .getOrElse(throw new IllegalStateException("no upserted table"))
      val expected = all.groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("total"))
      Check.keyedMismatches(actual, expected, Seq("user_id"), Seq("n"), Seq("total"))
    }
    verify("dedup_enrich") {
      val customer = spark.read.parquet(s"$customerDir/customer.parquet")
      val actual = spark.read.parquet(out.resolve("dedup").toString)
      val expected = StreamingJobs.enrich(StreamingJobs.dedupByEventId(kept), customer)
      val (a, e) = (Check.fingerprint(actual), Check.fingerprint(expected))
      if (a == e) 0L else { System.err.println(s"[perfbench] dedup_enrich $a vs $e"); 1L }
    }
    truth.unpersist()
  }

  // ---- phases ----

  /** The untimed warm-up: the queries start and take the first
    * `warmupFiles` files, one trigger's worth at once and the rest at the
    * steady rate, so both batch sizes are compiled before anything is
    * timed. The timed phases continue the same queries and event stream. */
  def warmup(): Unit = {
    qs = start()
    val backlog = math.min(p.maxFilesPerTrigger, drainFrom)
    releaseBacklog(0, backlog)
    awaitRows(backlog * E, 120)
    releaseSteady(backlog, drainFrom, System.currentTimeMillis())
    if (!awaitRows(drainFrom * E, 120)) run.fail("the stream queries did not take the warm-up files")
    awaitIdle()
  }

  /** Waits until no query has run a batch for 300 ms, so that the backlog
    * does not queue behind the no-data batch that advances the watermark
    * after the last data batch. An idle query still polls its source every
    * few milliseconds; an active trigger counts as a batch once it has run
    * for 50 ms. Proceeds after 30 s regardless. */
  private def awaitIdle(): Unit = {
    val activeSince = scala.collection.mutable.Map.empty[String, Long]
    val deadline = System.nanoTime() + 30000000000L
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < 300000000L && System.nanoTime() < deadline) {
      val t = System.nanoTime()
      qs.foreach { case (n, q) =>
        if (!q.status.isTriggerActive) activeSince -= n
        else if (t - activeSince.getOrElseUpdate(n, t) > 50000000L) quietSince = t
      }
      Thread.sleep(2)
    }
  }

  final case class Result(drainS: Map[String, Double], latencyMs: Seq[Double],
      layers: Seq[(String, Double, String)])

  def measure(): Result = {
    run.trace.foreach(_.attach(spark))
    val drainT0 = System.currentTimeMillis()
    var steadyT0 = Long.MaxValue
    try {
      releaseBacklog(drainFrom, steadyFrom)
      if (!awaitRows(steadyFrom * E, 120)) run.fail("stream queries did not drain the backlog")
      run.mark("drained")
      // one generator thread, on a schedule that does not wait for the queries
      steadyT0 = System.currentTimeMillis() + 50
      val gen = new Thread(() => releaseSteady(steadyFrom, total, steadyT0), "perfbench-generator")
      gen.start()
      gen.join()
      run.mark("steady files released")
      val lastDue = dueMs(total - 1)
      if (!awaitRows(total * E, p.catchupS - (System.currentTimeMillis() - lastDue) / 1e3)) {
        run.fail(s"steady backlog grew: not all files processed ${p.catchupS}s after the last was due")
        awaitRows(total * E, 60)
      }
    } finally stopAll()
    run.mark("stream queries stopped")
    run.trace.foreach(_.detach(spark))

    val genLate = (steadyFrom until total).map(i => releasedMs(i) - dueMs(i))
    if (genLate.max > p.genLateBoundMs)
      run.fail(s"generator ran ${genLate.max} ms behind schedule (bound ${p.genLateBoundMs} ms)")

    val done = queryNames.map(n => n -> fileDone(qs(n), ck.resolve(n))).toMap
    // one operation per file and query: delivered, or failed
    val delivered = for (n <- queryNames; i <- 0 until total) yield {
      run.attempted += 1
      done(n).get(i) match {
        case Some(end) => Some((n, i, end - dueMs(i)))
        case None => run.fail(s"$n never processed event file $i"); None
      }
    }
    val samples = delivered.flatten
    val drainS = queryNames.map { n =>
      n -> samples.filter(d => d._1 == n && d._2 >= drainFrom && d._2 < steadyFrom)
        .map(_._3).maxOption.getOrElse(0L) / 1e3
    }.toMap
    check()
    run.mark("results checked")

    val layers = run.trace.map { tr =>
      execLayers(tr, drainT0) ++ streamLayers(tr, drainT0, steadyT0) ++ Seq(
        ("gen.late_ms_max", genLate.max.toDouble, "ms"),
        ("gen.files", total.toDouble, "count"))
    }.getOrElse(Nil)
    Result(drainS, samples.filter(_._2 >= steadyFrom).map(_._3.toDouble), layers)
  }

  /** `exec.*` and `Tables.*` over the micro-batches of both timed phases,
    * as totals per run: `exec.plan_s` sums their `queryPlanning`, and
    * `exec.driver_gap_s` their trigger time with no job of the batch
    * running. Every job of a micro-batch counts as an action job. */
  private def execLayers(tr: Trace, drainT0: Long): Seq[(String, Double, String)] = {
    val measured = tr.batches.asScala.toSeq.filter(_.startMs >= drainT0)
    val keys = measured.map(_.key).toSet
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => keys(j.batch) && j.end >= j.start)
    val byBatch = jobs.groupBy(_.batch)
    val planS = measured.map(_.durations.getOrElse("queryPlanning", 0L)).sum / 1e3
    val gapS = measured.map { b =>
      val busy = Stats.covered(byBatch.getOrElse(b.key, Nil).map(j => (j.start, j.end)))
      math.max(0L, b.durations.getOrElse("triggerExecution", 0L) - busy)
    }.sum / 1e3
    tr.execLayers(jobs, jobs, planS, gapS, 1.0)
  }

  private def streamLayers(tr: Trace, drainT0: Long, steadyT0: Long): Seq[(String, Double, String)] = {
    val all = tr.batches.asScala.toSeq
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    queryNames.flatMap { n =>
      val bs = all.filter(_.query == n).sortBy(_.batchId)
      val withRows = bs.filter(_.rows > 0)
      val phases = Seq("drain" -> withRows.filter(b => b.startMs >= drainT0 && b.startMs < steadyT0),
        "steady" -> withRows.filter(_.startMs >= steadyT0))
      val perPhase = phases.flatMap { case (ph, b) =>
        val values = phaseMetrics.map {
          case "trigger_ms_p50" => p50(b.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
          case "rows_per_batch_p50" => p50(b.map(_.rows.toDouble))
          case "batches" => b.size.toDouble
          case k => p50(b.map(_.durations.getOrElse(k.stripSuffix("_ms_p50"), 0L).toDouble))
        }
        phaseMetrics.zip(values).map { case (k, v) => (s"streaming.$n.$ph.$k", v, unit(k)) }
      }
      // files released but not yet covered when each steady batch started
      val logIds = fileLogIds(ck.resolve(n))
      val lagMax = bs.zipWithIndex.filter(_._1.startMs >= steadyT0).map { case (b, i) =>
        val coveredBefore = if (i == 0) -1L else logOffset(bs(i - 1).endOffset)
        val released = releasedMs.count(t => t > 0 && t <= b.startMs)
        val covered = logIds.count(_._2 <= coveredBefore)
        (released - covered).toDouble
      }.maxOption.getOrElse(0.0)
      val last = bs.lastOption
      val values = Seq(last.map(_.stateRows.toDouble).getOrElse(0.0),
        last.map(_.stateMem / 1048576.0).getOrElse(0.0),
        p50(withRows.map(_.stateCommitMs.toDouble)), bs.map(_.dropped).sum.toDouble, lagMax)
      perPhase ++ queryMetrics.zip(values).map { case (k, v) => (s"streaming.$n.$k", v, unit(k)) }
    }
  }
}

object StreamWorkload {
  val queryNames: Seq[String] = Seq("tumbling", "counters_upsert", "dedup_enrich")
  private val phases = Seq("drain", "steady")
  private val phaseMetrics = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
    "commitOffsets", "addBatch").map(_ + "_ms_p50") ++ Seq("trigger_ms_p50", "rows_per_batch_p50", "batches")
  private val queryMetrics = Seq("state_rows", "state_mem_mb", "state_commit_ms_p50",
    "late_rows_dropped", "lag_files_max")

  private def unit(metric: String): String =
    if (metric.endsWith("_ms_p50")) "ms" else if (metric.endsWith("_mb")) "MB" else "count"

  /** Per-layer metric names and units. */
  val layerNames: Seq[(String, String)] =
    queryNames.flatMap { n =>
      phases.flatMap(ph => phaseMetrics.map(m => s"streaming.$n.$ph.$m" -> unit(m))) ++
        queryMetrics.map(m => s"streaming.$n.$m" -> unit(m))
    } ++ Seq("gen.late_ms_max" -> "ms", "gen.files" -> "count")
}
