package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** State one workload run shares with the harness: the session, the tracer
  * (traced runs only), the op and set-up timings, and the failure count.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val seed: Long,
                val seconds: Double, val work: Path, deadlineUs: Long) {
  /** Latency of each measured operation, µs. */
  val latencies: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** Wall time of each set-up repetition, µs. */
  val setups: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** Root span ids of the measured operations (traced runs). */
  val measuredSpans: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  /** Per-layer numbers a workload adds; several values of a name are reduced by median. */
  val layer: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  var inputBytes = 0L
  var storedBytes = 0L

  def note(name: String, v: Double): Unit = layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** True while the measured phase should go on: until one op is measured,
    * then while there is less than `seconds` of measured op time and the
    * run's wall-clock deadline is not reached.
    */
  def measuring: Boolean =
    latencies.isEmpty || (latencies.sum < seconds * 1e6 && Clock.us() < deadlineUs)

  def span[T](name: String, request: String)(body: => T): T =
    tracer.fold(body)(_.span(name, request)(body))

  /** One checked operation. A throw counts as a failure (and ends the
    * caller's loop by returning None); `measured` ops add their latency.
    */
  def op[T](name: String, request: String, measured: Boolean)(body: => T): Option[T] = {
    attempted += 1
    val t0 = Clock.us()
    val out =
      try Some(span(name, request)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name $request failed: $e")
          e.printStackTrace()
          None
      }
    val us = Clock.us() - t0
    System.err.println(f"[perfbench] op $name $request ${us / 1000.0}%.1f ms${if (measured) "" else " (set-up)"}")
    if (measured && out.isDefined) {
      latencies += us
      tracer.foreach(t => measuredSpans += t.all.last.id)
    }
    out
  }

  /** Record a check of an op's output: each message is one mismatch. */
  def verify(what: String, problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what: ${problems.take(5).mkString("; ")}" +
        (if (problems.size > 5) s" (+${problems.size - 5} more)" else ""))
    }

  /** Collect a query's result. Traced runs time planning (forcing the
    * executed plan) and execution as two spans.
    */
  def collect(request: String)(df: DataFrame): Array[Row] =
    if (tracer.isDefined) {
      span("plan", request)(df.queryExecution.executedPlan)
      span("exec", request)(df.collect())
    } else df.collect()

  /** Run one set-up repetition and record its wall time. */
  def setup(body: => Unit): Unit = {
    val t0 = Clock.us()
    body
    setups += Clock.us() - t0
  }

  def writeFile(p: Path, bytes: Array[Byte]): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Index, in ascending order, of the tail sample: the highest percentile
    * with at least 10 samples beyond it, but never below the (upper) median;
    * with fewer than 22 samples the rule has nothing above the median to give.
    */
  def tailIndex(n: Int): Int = {
    require(n > 0, "tail of no samples")
    math.max(n - 11, n / 2)
  }

  def tail(xs: Seq[Double]): Double = xs.sorted.apply(tailIndex(xs.size))

  /** The percentile [[tail]] reports, 0-100. */
  def tailPercentile(n: Int): Double = if (n == 1) 50.0 else 100.0 * tailIndex(n) / (n - 1)
}

/** The metrics the benchmark reports: names, units, and what they are. */
object Metrics {
  val NameRule = "[A-Za-z0-9_.-]+"

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "stored_bytes_per_input_byte" -> "ratio")

  /** Span names whose median latency is reported as `<name>_ms`. */
  val QueryOps: Seq[String] = Seq("analytics.top_posts", "analytics.subreddit_stats",
    "analytics.score_by_hour", "analytics.sql_top_posts", "analytics.sql_subreddit_stats",
    "analytics.sql_score_by_hour", "models.summary", "source.top", "table.time_travel",
    "dq.check")

  val PerLayer: Seq[(String, String)] = Seq(
    "sessions.start_s" -> "s",
    "csv.read_s" -> "s", "csv.rows_in" -> "count", "csv.rows_rejected" -> "count",
    "csv.bytes_in" -> "bytes", "csv.tasks" -> "count", "csv.task_s" -> "s",
    "upsert.s" -> "s", "upsert.jobs" -> "count", "upsert.tasks" -> "count",
    "upsert.task_s" -> "s", "upsert.partitions_rewritten" -> "count",
    "upsert.partitions_linked" -> "count", "upsert.prune_precision" -> "ratio",
    "upsert.bytes_written" -> "bytes", "upsert.write_amp" -> "ratio",
    "table.bytes_live" -> "bytes", "table.files_live" -> "count",
    "pipeline.run_s" -> "s", "pipeline.jobs" -> "count", "pipeline.self_s" -> "s",
    "models.refresh_s" -> "s", "models.jobs" -> "count") ++
    QueryOps.map(op => s"${op}_ms" -> "ms") ++ Seq(
    "analytics.plan_ms" -> "ms", "analytics.exec_ms" -> "ms",
    "analytics.jobs_per_query" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.task_failures" -> "count", "spark.core_busy_frac" -> "ratio",
    "failed_frac" -> "ratio", "op.samples" -> "count", "op.tail_pct" -> "%",
    "trace.spans" -> "count",
    "traced.setup_s" -> "s", "traced.op_p50_ms" -> "ms", "traced.op_tail_ms" -> "ms",
    "traced.ops_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  def json(correct: Boolean, attempted: Int, failed: Int,
           values: Seq[(String, String, Double)]): String = {
    val ms = values.map { case (n, u, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": ${java.lang.Double.toString(x)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
