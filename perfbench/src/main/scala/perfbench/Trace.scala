package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** A timed call: µs on the epoch clock, so Spark's job times line up. */
final case class Span(id: Int, name: String, parent: Int, request: String,
                      start: Long, end: Long) {
  def us: Long = end - start
}

/** What Spark did for one job, summed over its tasks. */
final class JobStats(val id: Int, val group: String, val start: Long, val callSite: String) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var failures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var layer: String = _
}

/** Collects job, stage and task metrics, keyed by the job group the
  * benchmark set around the call that ran them. Events arrive on Spark's
  * listener thread; [[Tracer.drain]] waits for them before anything reads.
  */
final class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobStats] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val j = new JobStats(e.jobId, group, e.time * 1000L, site)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Spans around the benchmark's calls into the library, and the Spark work
  * each one caused. A span sets a job group for its duration, so every job
  * started inside it, on any thread that inherits the caller's properties,
  * is attributed to it. Spans stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext) {
  val listener = new JobListener
  sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 1

  def span[T](name: String, request: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(0)(_._1)
    open = (id, name) :: open
    sc.setJobGroup(Tracer.group(id), name)
    val t0 = Clock.us()
    try body
    finally {
      spans += Span(id, name, parent, request, t0, Clock.us())
      open = open.tail
      open.headOption match {
        case Some((p, pName)) => sc.setJobGroup(Tracer.group(p), pName)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Jobs started inside the span or any span nested in it. */
  def jobsUnder(id: Int): Seq[JobStats] = {
    val ids = mutable.Set(id)
    spans.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    val groups = ids.map(Tracer.group)
    listener.synchronized(listener.jobs.valuesIterator.filter(j => groups(j.group)).toVector)
  }

  /** Add child spans to `parentId`, one per library layer its jobs ran in
    * (see [[Tracer.layerOf]]): each runs from the layer's first job start to
    * its last job end. Work outside Spark jobs before a layer's first job or
    * after its last is not in it; that time stays in the parent's self time.
    */
  def deriveLayers(parentId: Int, request: String, names: Map[String, String]): Unit = {
    val parent = spans.find(_.id == parentId).get
    var last: String = null
    val own = jobsUnder(parentId).sortBy(_.id)
    own.foreach { j =>
      // a job with no library frame (a broadcast build on Spark's own
      // thread) belongs to the layer whose action started it
      j.layer = Option(Tracer.layerOf(j.callSite)).getOrElse(last)
      last = j.layer
    }
    own.filter(j => j.layer != null && names.contains(j.layer)).groupBy(_.layer).foreach {
      case (layer, js) =>
        spans += Span(nextId, names(layer), parentId, request,
          math.max(parent.start, js.map(_.start).min), math.min(parent.end, js.map(_.end).max))
        nextId += 1
    }
  }

  def selfUs(id: Int): Long = Tracer.selfTime(spans.find(_.id == id).get, children(id))

  /** One JSON object per span, then one per job. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val spanLines = spans.sortBy(_.id).map { s =>
      s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"request":"${s.request}",""" +
        s""""start_us":${s.start},"end_us":${s.end},"self_us":${selfUs(s.id)}}"""
    }
    val jobLines = listener.synchronized(listener.jobs.valuesIterator.toVector).map { j =>
      s"""{"job":${j.id},"group":"${j.group}","layer":"${j.layer}","start_us":${j.start},""" +
        s""""end_us":${j.end},"stages":${j.stages},"tasks":${j.tasks},"task_ms":${j.runMs}}"""
    }
    Files.write(path, (spanLines ++ jobLines).asJava)
  }
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-$spanId"

  /** A span's duration minus the part of it its child spans cover;
    * overlapping children count once.
    */
  def selfTime(s: Span, children: Seq[Span]): Long = {
    val ivs = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (0L, 0L)
    ivs.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    s.us - covered - (ce - cs)
  }

  /** The library layer a job ran in, from its call site (the stack of the
    * thread that submitted it, innermost frame first): the public function
    * that the outermost library frame called into. For a job started inside
    * `Pipeline.run` by `CsvReddit.readChecked`, that is `CsvReddit`. A job
    * started by the outermost call's own code is that call's layer. Null
    * when no library frame is on the stack.
    */
  def layerOf(callSite: String): String = {
    val frames = callSite.split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft.")).map(f => f.takeWhile(_ != '(')).toVector.reverse
    if (frames.isEmpty) null
    else {
      def owner(f: String) = f.substring(0, f.lastIndexOf('.'))
      val outer = owner(frames.head)
      val callee = frames.find(f => owner(f) != outer).getOrElse(frames.head)
      val method = callee.substring(callee.lastIndexOf('.') + 1)
      // lambdas compile to $anonfun$<method>$n
      val name = if (method.startsWith("$anonfun$")) method.split('$')(2) else method
      owner(callee).stripPrefix("graft.").replace("$", "") + "." + name
    }
  }
}

/** Epoch µs with nanoTime resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}
