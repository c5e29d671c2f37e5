package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run in this JVM:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <workdir> <spans-file>
  * }}}
  *
  * Starts the session the product ships (`graft.Sessions.local`), runs the
  * workload's set-up repetitions and then its measured closed loop, checks
  * every op's output, and prints one line `PERFBENCH_RESULT <json>` with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "daily_ingest" -> DailyIngest.run,
    "analytics_read" -> AnalyticsRead.run)

  /** Wall-clock budget for the measured loop, well inside the run limit. */
  private val DeadlineS = 120

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, workdir, spansFile) = args
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = graft.Sessions.local("perfbench", coresS)
    val sessionUs = Clock.us() - jvmStartUs
    val traced = traceS == "1"
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, tracer, seedS.toLong, secondsS.toDouble,
      Paths.get(workdir).toAbsolutePath, Clock.us() + DeadlineS * 1000000L)
    try {
      run(ctx)
      val lat = ctx.latencies.map(_ / 1000.0).toSeq
      require(lat.nonEmpty, "no measured operation completed")
      val e2e = Map(
        "setup_s" -> (sessionUs / 1e6 + Stats.median(ctx.setups.map(_ / 1e6).toSeq)),
        "op_p50_ms" -> Stats.median(lat),
        "op_tail_ms" -> Stats.tail(lat),
        "ops_per_s" -> lat.size / (lat.sum / 1000.0),
        "stored_bytes_per_input_byte" -> ctx.storedBytes.toDouble / ctx.inputBytes)
      println(f"$workload seed $seedS: ${lat.size} ops, p50 ${e2e("op_p50_ms")}%.1f ms, " +
        f"tail ${e2e("op_tail_ms")}%.1f ms (p${Stats.tailPercentile(lat.size)}%.0f of ${lat.size}), " +
        f"setup ${e2e("setup_s")}%.2f s, ${ctx.failed} of ${ctx.attempted} ops failed")
      val values =
        if (!traced) Metrics.EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
        else {
          val t = tracer.get
          t.drain()
          perLayer(ctx, t, sessionUs, e2e, lat)
          t.write(Paths.get(spansFile))
          Metrics.PerLayer.map { case (n, u) =>
            (n, u, ctx.layer.get(n).map(v => Stats.median(v.toSeq)).getOrElse(0.0))
          }
        }
      println("PERFBENCH_RESULT " + Metrics.json(ctx.failed == 0, ctx.attempted, ctx.failed, values))
    } finally spark.stop()
  }

  /** Per-layer numbers common to both workloads. */
  private def perLayer(ctx: Ctx, t: Tracer, sessionUs: Long, e2e: Map[String, Double],
                       lat: Seq[Double]): Unit = {
    ctx.note("sessions.start_s", sessionUs / 1e6)
    val spans = t.all
    val byId = spans.map(s => s.id -> s).toMap
    // spans of measured ops only, not of set-up
    val measured = ctx.measuredSpans.toSet
    def measuredRoot(s: Span): Boolean =
      measured(s.id) || (s.parent != 0 && byId.get(s.parent).exists(measuredRoot))
    Metrics.QueryOps.foreach { op =>
      spans.filter(s => s.name == op && measuredRoot(s)).foreach(s => ctx.note(s"${op}_ms", s.us / 1e3))
    }
    spans.filter(s => (s.name == "plan" || s.name == "exec") && measuredRoot(s))
      .foreach(s => ctx.note(s"analytics.${s.name}_ms", s.us / 1e3))
    val queryJobs = spans.filter(s => Metrics.QueryOps.contains(s.name) && measuredRoot(s))
      .map(s => t.jobsUnder(s.id).size)
    ctx.note("analytics.jobs_per_query", queryJobs.sum.toDouble / math.max(queryJobs.size, 1))

    val jobs = ctx.measuredSpans.toSeq.flatMap(t.jobsUnder)
    val wallS = lat.sum / 1000.0
    val taskS = jobs.map(_.runMs).sum / 1e3
    val cores = ctx.spark.sparkContext.defaultParallelism
    Seq(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> (0L +: jobs.map(_.peakMem)).max.toDouble,
      "spark.task_failures" -> jobs.map(_.failures).sum.toDouble,
      "spark.core_busy_frac" -> taskS / (wallS * cores),
      "failed_frac" -> ctx.failed.toDouble / ctx.attempted,
      "op.samples" -> lat.size.toDouble,
      "op.tail_pct" -> Stats.tailPercentile(lat.size),
      "trace.spans" -> spans.size.toDouble,
      "traced.setup_s" -> e2e("setup_s"),
      "traced.op_p50_ms" -> e2e("op_p50_ms"),
      "traced.op_tail_ms" -> e2e("op_tail_ms"),
      "traced.ops_per_s" -> e2e("ops_per_s"),
      "peak_rss_mb" -> peakRssMb()).foreach { case (n, v) => ctx.note(n, v) }
  }

  /** VmHWM: the process's peak resident set, MB. Per-layer only: it moves
    * by more than a tenth between runs of the same code, with the GC.
    */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
