package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so the
  * harness's own spans line up with the millisecond event times Spark's
  * listeners report. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** Spark work attributed to one query execution. */
final class JobCounters {
  var jobs = 0
  var stagesInJobs = 0
  var stagesRun = 0
  var tasks = 0
  var emptyTasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  /** (job id, start epoch ms, end epoch ms) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Reads per-query counters through the public `SparkListener` API.
  * Jobs are attributed by the local property [[QueryKey]], which the
  * harness sets before it calls into a query; stages and tasks inherit
  * their job's query. The listener bus delivers on one thread, and the
  * harness reads only after draining the bus. */
final class JobListener extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, JobCounters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def counters(key: String) = byKey.getOrElseUpdate(key, new JobCounters)

  def take(key: String): JobCounters = synchronized {
    byKey.remove(key).getOrElse(new JobCounters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).map(_.getProperty(JobListener.QueryKey)).orNull
    if (key != null) {
      val c = counters(key)
      c.jobs += 1
      c.stagesInJobs += e.stageInfos.size
      e.stageIds.foreach(stageKey(_) = key)
      jobStart(e.jobId) = (key, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (key, t0) =>
      counters(key).jobSpans += ((e.jobId, t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(counters(_).stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).filter(_ => m != null).foreach { key =>
      val c = counters(key)
      val sr = m.shuffleReadMetrics
      val records = m.inputMetrics.recordsRead + sr.recordsRead
      c.tasks += 1
      if (records == 0) c.emptyTasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
      c.fetchWaitMs += sr.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

object JobListener {
  val QueryKey = "perfbench.query"
}

/** Collects micro-batch progress through the public
  * `StreamingQueryListener` API. Queries run one at a time, so the
  * harness claims everything collected since the previous query. */
final class StreamListener extends StreamingQueryListener {
  private val pending = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def drain(): Seq[StreamingQueryProgress] = synchronized {
    val out = pending.toList
    pending.clear()
    out
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { pending += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Spans kept in memory and written once at the end of the run. A
  * span's self time is its duration minus the part of its interval
  * that its children cover. */
final class Spans {
  import Spans.Span
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, name, start, end, attrs)
    id
  }

  /** Lets a span be opened before its end is known. */
  def close(id: Int, end: Long): Unit = spans(id - 1) = spans(id - 1).copy(end = end)

  /** Writes one JSON line per span and returns self seconds per span name. */
  def write(path: String): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).toSeq.map(k => (k.start, k.end))
      s -> (s.end - s.start - Spans.unionNs(iv, s.start, s.end))
    }
    val out = new java.io.PrintWriter(path, "UTF-8")
    try self.foreach { case (s, selfNs) =>
      out.println(Json(collection.immutable.ListMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "dur_s" -> (s.end - s.start) / 1e9, "self_s" -> selfNs / 1e9) ++ s.attrs))
    } finally out.close()
    self.groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).sum / 1e9 }
  }
}

object Spans {
  /** Total length of the union of intervals, clipped to [a, b]. */
  def unionNs(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var end = a
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
      attrs: Map[String, Any])
}
