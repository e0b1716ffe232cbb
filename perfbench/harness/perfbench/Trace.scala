package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a module, from outside the program. */
final case class Span(name: String, trace: Int, id: Int, parent: Int,
                      start: Long, var end: Long = -1L) {
  def dur: Long = end - start
}

/** In-memory span recorder. Each unit of work opens a fresh trace id;
  * spans nest by call. While a span is open, the Spark jobs its thread
  * submits carry the span name as their job group, so [[JobMetrics]]
  * attributes executor work to the span that caused it. Spans are kept
  * until the run ends and are written out then. */
final class Tracer(sc: => SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var traceId = 0
  var enabled = false

  def unit[T](name: String)(body: => T): T = { traceId += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(name, traceId, spans.size, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(name, name)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        open.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(p.name, p.name))
      }
    }

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.toSeq.filter(_.parent == s.id).map(k => (k.start, k.end))
    s.dur - Intervals.unionLength(kids)
  }

  def byName(name: String): Seq[Span] = spans.filter(s => s.name == name && s.end >= 0).toSeq

  def json: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "name" -> s.name, "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

/** Bytes this JVM has read through Hadoop's local file system, that is
  * from files only. A task's `inputMetrics.bytesRead` also counts blocks
  * read back from Spark's cache, so it cannot tell a rescan of the input
  * from a cache hit; this counter can. Executors of `local[k]` run in this
  * JVM, so their reads are counted here too. */
object FileReads {
  def bytes(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Per-job-group task metrics plus job wall intervals, from Spark's own
  * listener hook. Groups are span names (batch, curate) or a streaming
  * query's run id (its micro-batch jobs). */
final class JobMetrics extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L
    var cpuNs = 0L; var deserNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  val groups = mutable.Map.empty[String, Acc]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (group, startMs, endMs) per finished job. */
  val jobWalls = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def acc(g: String) = groups.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageJob(_) = e.jobId)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobWalls += ((jobGroup.getOrElse(e.jobId, "-"), jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageJob.get(e.stageId).flatMap(jobGroup.get).getOrElse("-")
    val a = acc(g)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.deserNs += m.executorDeserializeCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      val d = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      a.schedDelayMs += math.max(0L, d)
    }
  }

  def snapshot(): Map[String, Map[String, Long]] = synchronized {
    groups.map { case (g, a) => g -> Map(
      "jobs" -> a.jobs, "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
      "cpu_ns" -> a.cpuNs, "deser_ns" -> a.deserNs, "gc_ms" -> a.gcMs,
      "sched_ms" -> a.schedDelayMs, "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill) }.toMap
  }

  def reset(): Unit = synchronized {
    groups.clear(); jobWalls.clear()
  }
}

/** Progress events of streaming queries, as they are reported. */
final class ProgressLog extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
