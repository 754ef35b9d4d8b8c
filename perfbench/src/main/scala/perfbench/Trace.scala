package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a traced pass. Times are ns since the tracer's
  * origin; `parent` is 0 for a root span. `label` carries what the span is
  * about: "family/query" for query spans, the job group for job spans.
  */
final case class Span(id: Long, parent: Long, name: String, label: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

object Span {

  /** Length of the part of [lo, hi) that the intervals cover; overlapping
    * intervals count once. */
  def covered(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** The span's duration minus the time its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    span.dur - covered(span.start, span.end, children.map(c => (c.start, c.end)))
}

/** Records spans around calls into the library. A disabled tracer runs
  * each body with no bookkeeping at all, so untraced passes measure the
  * program alone. Spans stay in memory until the run writes its artifact.
  *
  * Each span opened with `jobs = true` becomes the job group of every
  * Spark job started while it is open, which is how [[JobListener]]
  * attributes jobs to spans.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val notes = mutable.Map.empty[Long, Map[String, Double]]
  private var nextId = 0L
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def spans: Seq[Span] = done.map(s => s.copy(attrs = s.attrs ++ notes.getOrElse(s.id, Map.empty))).toSeq

  /** Job start/end times are epoch ms; this puts them on the span clock. */
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L

  private def gcMs: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble

  def span[T](name: String, label: String, parent: Long = 0L,
              jobs: Boolean = false)(body: Long => T): T = {
    if (!enabled) return body(0L)
    nextId += 1
    val id = nextId
    if (jobs) sc.setJobGroup(id.toString, s"$name $label")
    val gc0 = gcMs
    val t0 = System.nanoTime() - origin
    try body(id)
    finally {
      val t1 = System.nanoTime() - origin
      if (jobs) sc.clearJobGroup()
      done += Span(id, parent, name, label, t0, t1, Map("gc_ms" -> (gcMs - gc0)))
    }
  }

  /** Adds attributes to an open or finished span. */
  def note(id: Long, kv: (String, Double)*): Unit =
    if (enabled) notes(id) = notes.getOrElse(id, Map.empty) ++ kv
}

/** Collects every Spark job with its group and the task metrics of the
  * stages it ran. Listener callbacks arrive on Spark's listener-bus
  * thread; [[fence]] waits until every earlier event has been delivered.
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L,
      var runMs: Long = 0L, var cpuNs: Long = 0L, var shuffleWrite: Long = 0L,
      var spill: Long = 0L)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = Job(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (j <- stageJob.get(e.stageInfo.stageId); m <- Option(e.stageInfo.taskMetrics)) {
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private var fences = 0

  /** Runs a one-task job and waits for its end event: the bus delivers in
    * order, so every job of the pass has then been recorded. */
  def fence(sc: SparkContext): Unit = {
    fences += 1
    val group = s"fence-$fences"
    sc.setJobGroup(group, "trace fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!synchronized(jobs.values.exists(j => j.group == group && j.endMs >= 0))) {
      if (System.nanoTime() > deadline) sys.error("listener bus did not drain in 60 s")
      Thread.sleep(5)
    }
  }

  /** Jobs whose group is a span id, as child spans of that span. Job spans
    * get ids below 0 so they never collide with tracer ids. */
  def spans(tracer: Tracer): Seq[Span] = synchronized {
    jobs.values.collect {
      case j if j.endMs >= 0 && j.group.nonEmpty && j.group.forall(_.isDigit) =>
        Span(-1L - j.id, j.group.toLong, "job", j.group,
          tracer.fromEpochMs(j.startMs), tracer.fromEpochMs(j.endMs),
          Map("run_ms" -> j.runMs.toDouble, "cpu_ns" -> j.cpuNs.toDouble,
            "shuffle_write_bytes" -> j.shuffleWrite.toDouble,
            "spill_bytes" -> j.spill.toDouble))
    }.toSeq
  }

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}
