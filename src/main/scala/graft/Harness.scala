package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** What the dev and driver mains share: one timed run, one per-group
  * Spark census, one JSON string escaper and the `SPARK_GRAFT_ONLY` /
  * `SPARK_GRAFT_QUERY_TIMEOUT` settings. Sessions come from
  * [[Sessions.local]], so every main runs the config the product ships.
  */
object Harness {

  /** What one timed call ran on Spark: jobs started, stages completed,
    * tasks ended, their summed executor run time and the shuffle records
    * they wrote.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
                          shuffleRecords: Long)

  /** One timed call: its job group, wall seconds, JVM-wide collector
    * milliseconds over the call, whether it finished without error inside
    * its timeout, and its Spark counts.
    */
  final case class Run(group: String, sec: Double, gcMs: Long, ok: Boolean,
                       counts: Counts)

  /** Spark listener that counts per harness job group. Only groups opened
    * by [[timed]] are counted, and a group's stages are forgotten when its
    * counts are taken, so late events of one call cannot land in the next.
    *
    * A job belongs to a group through its job group id or, failing that,
    * through the job tag [[timed]] also sets: threads the body starts
    * inherit the tag, while a streaming query's execution thread replaces
    * the job group with its own.
    */
  final class Census private (sc: SparkContext) extends SparkListener {
    private final class Acc {
      val jobs, stages, tasks = new AtomicInteger
      val taskMs, shuffleRecords = new AtomicLong
    }
    private val groups = new ConcurrentHashMap[String, Acc]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()

    private def groupOf(p: Properties): Option[String] =
      Option(p).flatMap { p =>
        (Option(p.getProperty("spark.jobGroup.id")).toSeq ++
          Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(',')))
          .find(groups.containsKey)
      }

    private def accOfStage(stageId: Int): Option[Acc] =
      Option(stageGroup.get(stageId)).flatMap(g => Option(groups.get(g)))

    override def onJobStart(j: SparkListenerJobStart): Unit =
      groupOf(j.properties).foreach { g =>
        j.stageIds.foreach(stageGroup.put(_, g))
        Option(groups.get(g)).foreach(_.jobs.incrementAndGet())
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      accOfStage(s.stageInfo.stageId).foreach(_.stages.incrementAndGet())

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      accOfStage(t.stageId).foreach { a =>
        a.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          a.taskMs.addAndGet(m.executorRunTime)
          a.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }

    private[graft] def open(group: String): Unit = groups.put(group, new Acc)

    /** The group's counts once every event posted so far has been
      * delivered; the group is closed afterwards.
      */
    private[graft] def take(group: String): Counts = {
      ListenerBusBridge.drain(sc, 10000L)
      val a = groups.remove(group)
      stageGroup.values.removeIf(_ == group)
      if (a == null) Counts(0, 0, 0, 0L, 0L)
      else Counts(a.jobs.get, a.stages.get, a.tasks.get, a.taskMs.get,
        a.shuffleRecords.get)
    }

    def detach(): Unit = sc.removeSparkListener(this)
  }

  object Census {
    def attach(spark: SparkSession): Census = {
      val c = new Census(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      c
    }
  }

  /** How long a timed-out body gets to stop after its jobs are cancelled
    * before the harness moves on without it.
    */
  private val cancelGraceMs = 30000L

  private val groupSeq = new AtomicLong

  /** Run `body` under its own job group, at most `timeoutSec` seconds
    * (0 = no limit), then clear cached relations and persisted RDDs so one
    * allocation-heavy call does not tax the next (`clearCache` drops only
    * SQL-cached relations; `localCheckpoint` blocks live as persisted RDDs
    * until the ContextCleaner happens to run).
    *
    * The body runs on a fresh thread that sets the job group itself: Spark
    * copies local properties into a thread when the thread is created, so
    * a group set on the caller never reaches an already-running pool
    * thread. On timeout the group's running and future jobs are cancelled.
    * A non-fatal failure makes the run not-ok; a fatal one (OOM, linkage,
    * interrupt) is rethrown on the caller.
    */
  def timed(spark: SparkSession, name: String, timeoutSec: Long, census: Census)
           (body: => Unit): Run = {
    val sc = spark.sparkContext
    // unique per call: a cancelled group keeps cancelling its future jobs
    val group = s"$name#${groupSeq.incrementAndGet()}"
    census.open(group)
    val failure = new AtomicReference[Throwable]
    val worker = new Thread(() => {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      sc.addJobTag(group)
      try body catch { case t: Throwable => failure.set(t) }
    }, s"harness-$group")
    worker.setDaemon(true)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    worker.start()
    worker.join(TimeUnit.SECONDS.toMillis(timeoutSec))
    val timedOut = worker.isAlive
    if (timedOut) {
      sc.cancelJobGroupAndFutureJobs(group)
      sc.cancelJobsWithTag(group)
      worker.join(cancelGraceMs)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val gc = gcMs - gc0
    val ok =
      if (timedOut) {
        System.err.println(s"[harness] $name TIMED OUT after ${timeoutSec}s")
        false
      } else failure.get match {
        case null => true
        case NonFatal(e) =>
          System.err.println(s"[harness] $name failed: ${e.getMessage}")
          false
        case fatal => throw fatal
      }
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Run(group, sec, gc, ok, census.take(group))
  }

  /** JVM-wide garbage-collector time so far, in milliseconds. */
  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** A JSON string literal: quote, backslash and every control character
    * below 0x20 escaped (a tab or CR in catalog SQL would otherwise break
    * the reader of `oracle_sql.json`).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Per-call timeout of the catalog mains (`SPARK_GRAFT_QUERY_TIMEOUT`,
    * seconds, default 120).
    */
  def queryTimeoutSec: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong

  /** `SPARK_GRAFT_ONLY=q_a,q_simhash`: the query-name prefixes a dev run
    * is limited to; unset (the driver's mode) means every query.
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** The catalog in name order, limited by [[only]]. */
  def selectedQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
}
