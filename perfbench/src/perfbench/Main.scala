package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State shared by one benchmark run: the session, the seed, the result
  * check and the failure count. */
final class Run(val spark: SparkSession, val seed: Long, val workDir: Path,
    val trace: Option[Trace], golden: Map[String, String], recordTo: Option[Path]) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val recorded = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs a step of the run with the seconds since the JVM started. */
  def mark(step: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $step")

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Compares a query fingerprint with its golden value (or records it). */
  def checkResult(name: String, got: String): Boolean = recordTo match {
    case Some(_) =>
      recorded.getOrElseUpdate(name, mutable.LinkedHashSet.empty) += got
      true
    case None => golden.get(name) match {
      case Some(want) if want == got => true
      case Some(want) => fail(s"$name fingerprint $got, golden $want"); false
      case None => fail(s"$name has no golden fingerprint"); false
    }
  }

  /** Writes the recorded fingerprints: `name<TAB>fp` per line, several
    * lines for a query whose fingerprint changed between passes. */
  def writeRecorded(): Unit = recordTo.foreach { path =>
    Files.write(path, recorded.toSeq.flatMap { case (n, fps) => fps.map(fp => s"$n\t$fp") }.asJava)
  }
}

object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == key => v }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(sys.error("--seconds is required"))
    val traced = arg(args, "--trace").contains("1")
    val scale = arg(args, "--scale").getOrElse("bench")
    val workDir = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val config = Json.read(arg(args, "--config").getOrElse(sys.error("--config is required")))
    val recordTo = arg(args, "--record-golden").map(Paths.get(_))
    val traceOut = arg(args, "--trace-out").map(Paths.get(_))

    val sfNode = config.get("sf").get(scale)
    require(sfNode != null, s"unknown scale $scale")
    val goldenNode = Json.read(arg(args, "--golden").getOrElse(sys.error("--golden is required"))).get(scale)
    val golden = Option(goldenNode).toSeq.flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue.asText)).toMap

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the counters processor needs RocksDB; every stream query uses it
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val trace = if (traced) Some(new Trace) else None
    val run = new Run(spark, seed, workDir, trace, golden, recordTo)
    // set-up repeated where it can be: the tables are generated three
    // times into separate directories and the median time is counted
    val sf = sfNode.asDouble
    val tables = config.get("workloads").get(workload).get("tables").elements().asScala.map(_.asText).toSet
    val genTimes = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      DataGen.writeTables(spark, workDir.resolve(s"tables$i").toString, sf, tables)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] session ready at $sessionReadyS%.2f s, tables generated in " +
      genTimes.map(t => f"$t%.2f s").mkString(", "))
    val dataDir = workDir.resolve("tables2").toString
    val setupBase = sessionReadyS + Stats.median(genTimes)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    // a layer the workload does not run reads 0: operators.* on stream,
    // streaming.* and gen.* on batch
    (BatchWorkload.layerNames ++ StreamWorkload.layerNames).foreach { case (k, u) => layers(k) = (0.0, u) }
    val info = mutable.LinkedHashMap.empty[String, Any]
    workload match {
      case "batch" =>
        val w = config.get("workloads").get(workload)
        val mix = Seq("short", "heavy").flatMap(k => w.get(k).elements().asScala.map(_.asText))
        val res = new BatchWorkload(run, mix, dataDir).measure(seconds)
        val lat = res.latencyMs
        require(lat.nonEmpty, "no query completed")
        metrics ++= Seq(
          "setup_s" -> (setupBase + res.warmupS, "s"),
          "wall_s" -> (res.wallS, "s"),
          "latency_p50_ms" -> (Stats.median(lat), "ms"),
          "latency_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"))
        info ++= Seq("passes" -> res.passes.size, "samples" -> lat.size)
        trace.foreach(tr => res.layers(tr).foreach { case (k, v, u) => layers(k) = (v, u) })
      case "stream" =>
        val st = config.get("workloads").get("stream").get("params").get(scale)
        def i(k: String) = st.get(k).asInt
        def d(k: String) = st.get(k).asDouble
        val steadyFiles = math.max(1, math.round(seconds * d("steady_files_per_s")).toInt)
        val p = StreamParams(i("events_per_file"), i("drain_files"), steadyFiles,
          d("steady_files_per_s"), i("warmup_files"), i("max_files_per_trigger"), i("event_span_s"),
          i("users"), d("dup_share"), d("out_of_order_share"), i("out_of_order_max_s"), d("late_share"),
          st.get("gen_late_bound_ms").asLong, d("catchup_s"))
        var streamSetup = 0.0
        val sw = new StreamWorkload(run, p, dataDir)
        val t0 = System.nanoTime()
        val res = try {
          sw.stage()
          run.mark("events staged")
          sw.warmup()
          run.mark("warm-up done")
          streamSetup = (System.nanoTime() - t0) / 1e9
          sw.measure()
        } finally sw.stopAll()
        val drain = res.drainS.values.max
        val lat = res.latencyMs
        require(lat.nonEmpty, "no steady-phase file was delivered")
        metrics ++= Seq(
          "setup_s" -> (setupBase + streamSetup, "s"),
          "wall_s" -> (drain, "s"),
          "latency_p50_ms" -> (Stats.median(lat), "ms"),
          "latency_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"))
        val events = p.drainFiles.toLong * p.eventsPerFile
        info ++= Seq(
          "stream_drain_eps" -> events / drain,
          "stream_latency_p50_ms" -> Stats.median(lat),
          "stream_latency_p95_ms" -> Stats.quantile(lat, 0.95),
          "samples" -> lat.size)
        layers ++= res.layers.map { case (k, v, u) => k -> (v, u) }
      case other => sys.error(s"unknown workload $other")
    }
    metrics("peak_rss_mb") = (peakRssMb(), "MB")
    // heap retained after a full collection, for reading next to the
    // fixed-heap RSS; not a bounded metric, it spreads by about a fifth
    System.gc()
    info("heap_live_mb") = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    trace.foreach(tr => layers("trace.listener_s") = (tr.listenerSeconds, "s"))
    trace.foreach(tr => traceOut.foreach(tr.write))
    run.writeRecorded()
    spark.stop()

    val errorRate = run.failures.size.toDouble / math.max(1L, run.attempted)
    info ++= Seq("seed" -> seed, "error_rate" -> errorRate, "trace" -> traced) ++
      metrics.map { case (k, (v, _)) => k -> v }
    val line = Json.obj().put("workload", workload)
    info.foreach {
      case (k, v: Double) => line.put(k, Json.finite(v))
      case (k, v: Long) => line.put(k, v)
      case (k, v: Int) => line.put(k, v)
      case (k, v: Boolean) => line.put(k, v)
      case (k, v) => line.put(k, v.toString)
    }
    println("perfbench " + Json.write(line))
    val result = Json.obj()
      .put("correct", run.failures.isEmpty)
      .put("attempted", math.max(1L, run.attempted))
      .put("failed", run.failures.size)
    val ms = result.putObject("metrics")
    (if (traced) layers else metrics).foreach { case (k, (v, u)) =>
      ms.putObject(k).put("value", Json.finite(v)).put("unit", u)
    }
    println(Json.write(result))
  }
}
