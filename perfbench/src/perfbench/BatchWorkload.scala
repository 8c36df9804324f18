package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A closed loop of one client over a fixed query mix.
  *
  * Each query is one operation: the query function call (`build`, which
  * includes any eager checkpoints and collects the query makes), the
  * result frame's `executedPlan` (`plan`) and the collect of its
  * fingerprint (`action`). A pass runs every query of the mix once in an
  * order drawn from the seed; the first pass is untimed warm-up.
  */
final class BatchWorkload(run: Run, mix: Seq[String], dataDir: String) {
  private val spark = run.spark
  private val sc = spark.sparkContext
  private val queries = graft.SparkEntry.queries

  final case class Sample(span: String, name: String, buildNs: Long, planNs: Long, actionNs: Long) {
    def totalNs: Long = buildNs + planNs + actionNs
  }

  /** Runs one query; returns its sample, or None when it failed or its
    * fingerprint differed from the golden value. */
  private def one(pass: Int, idx: Int, name: String): Option[Sample] = {
    val span = s"p$pass-$idx-$name"
    run.attempted += 1
    sc.setLocalProperty("perfbench.span", span)
    try {
      sc.setLocalProperty("perfbench.phase", "build")
      val t0 = System.nanoTime()
      val df: DataFrame = queries(name)(spark, dataDir)
      val t1 = System.nanoTime()
      val fp = Check.fingerprintFrame(df)
      sc.setLocalProperty("perfbench.phase", "plan")
      fp.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty("perfbench.phase", "action")
      val got = Check.render(fp.head())
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] pass $pass%d $name%-28s build ${(t1 - t0) / 1e6}%8.1f ms" +
        f"  plan ${(t2 - t1) / 1e6}%6.1f ms  action ${(t3 - t2) / 1e6}%8.1f ms")
      run.trace.foreach { tr =>
        tr.spans.add(tr.Span(span, name, "build", t0, t1))
        tr.spans.add(tr.Span(span, name, "plan", t1, t2))
        tr.spans.add(tr.Span(span, name, "action", t2, t3))
      }
      if (run.checkResult(name, got)) Some(Sample(span, name, t1 - t0, t2 - t1, t3 - t2))
      else None
    } catch {
      case e: Throwable =>
        run.fail(s"$name (pass $pass) threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally {
      sc.setLocalProperty("perfbench.span", null)
      sc.setLocalProperty("perfbench.phase", null)
      // queries that cache must not tax the ones after them
      spark.catalog.clearCache()
    }
  }

  private def pass(p: Int, names: Seq[String]): (Seq[Sample], Double) = {
    val order = new scala.util.Random(run.seed * 1000003L + p).shuffle(names)
    val t0 = System.nanoTime()
    val samples = order.zipWithIndex.flatMap { case (n, i) => one(p, i, n) }
    val wall = (System.nanoTime() - t0) / 1e9
    System.gc()
    (samples, wall)
  }

  /** Warm-up pass, then timed passes: at least two, so that `wall_s` is a
    * median over passes, and more until `seconds` have passed. */
  def measure(seconds: Double): Result = {
    val unknown = mix.filterNot(queries.contains)
    unknown.foreach(n => run.fail(s"$n is not a registered query"))
    val known = mix.filter(queries.contains)
    require(known.nonEmpty, "empty query mix")
    val warmT0 = System.nanoTime()
    pass(0, known)
    val warmS = (System.nanoTime() - warmT0) / 1e9
    run.trace.foreach(_.attach(spark))
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[(Seq[Sample], Double)]
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += pass(passes.size + 1, known)
    run.trace.foreach(_.detach(spark))
    Result(warmS, passes.toSeq)
  }

  final case class Result(warmupS: Double, passes: Seq[(Seq[Sample], Double)]) {
    def samples: Seq[Sample] = passes.flatMap(_._1)
    def wallS: Double = Stats.median(passes.map(_._2))
    def latencyMs: Seq[Double] = samples.map(_.totalNs / 1e6)

    /** Per-layer numbers from the trace, per timed pass. `exec.jobs`,
      * `exec.stages`, `exec.tasks` and `exec.driver_gap_s` cover the
      * action span; the other `exec.*` and `Tables.*` numbers cover every
      * job of the query, build and action. */
    def layers(tr: Trace): Seq[(String, Double, String)] = {
      val n = passes.size.toDouble
      val spanIds = samples.map(_.span).toSet
      val jobs = tr.jobs.values.asScala.toSeq.filter(j => spanIds(j.span) && j.end >= j.start)
      val actionJobs = jobs.filter(_.phase == "action")
      val buildS = samples.map(_.buildNs).sum / 1e9
      val planS = samples.map(_.planNs).sum / 1e9
      val actionS = samples.map(_.actionNs).sum / 1e9
      // action span minus the time some job of that span was running
      val gapS = tr.spans.asScala.toSeq.filter(s => s.phase == "action" && spanIds(s.id)).map { s =>
        val spanMs = (s.endNs - s.startNs) / 1e6
        val busy = Stats.covered(actionJobs.filter(_.span == s.id).map(j => (j.start, j.end)))
        math.max(0.0, spanMs - busy)
      }.sum / 1e3
      val totalS = buildS + planS + actionS
      Seq(("operators.build_s", buildS / n, "s"),
        ("operators.build_jobs", jobs.count(_.phase == "build") / n, "count"),
        ("operators.build_share", if (totalS > 0) buildS / totalS else 0.0, "ratio")) ++
        tr.execLayers(jobs, actionJobs, planS, gapS, n)
    }
  }
}

object BatchWorkload {
  /** Per-layer metric names and units of `layers`. */
  val layerNames: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count", "operators.build_share" -> "ratio") ++
    Trace.execLayerNames
}
