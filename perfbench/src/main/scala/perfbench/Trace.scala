package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval recorded by the benchmark around a call into the
  * engine. `parent` is the index of the enclosing span (-1 at top level). */
final case class Span(name: String, startMs: Long, endMs: Long, parent: Int)

/** Spans the benchmark records around its own calls into the engine. The
  * caller names the parent span explicitly (a crawl round, a query pass).
  * When tracing is off nothing is kept. */
final class Spans(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Opens a span and returns its id (-1 when tracing is off). */
  def start(name: String, parent: Int = -1): Int =
    if (!enabled) -1
    else synchronized {
      val t0 = System.currentTimeMillis()
      spans += Span(name, t0, t0, parent)
      spans.size - 1
    }

  def end(id: Int): Unit = if (id >= 0) synchronized {
    spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
  }

  def apply[T](name: String, parent: Int = -1)(f: => T): T = {
    val id = start(name, parent)
    try f finally end(id)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Task metrics summed over every task of one Spark job. */
final class JobStats(val jobId: Int, val startMs: Long, val callSite: String,
                     val props: Map[String, String]) {
  var endMs: Long = -1L
  var tasks: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  var outputBytes: Long = 0L
  var waitMs: Long = 0L
}

/** Per-job accounting from listener events: start/end times (for jobs per
  * round and driver idle time) and task metrics attributed to the job's
  * call site — the first frame outside Spark, which Spark records as the
  * stage name (`collect at CrawlRound.scala:196`). */
final class JobListener(propKeys: Seq[String]) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val executionSite = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    // Jobs that adaptive execution submits from its own threads carry no
    // user frame; the SQL execution they belong to was started by the
    // caller and is described by the caller's call site. Otherwise the
    // result stage names the job's own call site.
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(executionSite.get)
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val kept = propKeys.flatMap(k => props.flatMap(p => Option(p.getProperty(k))).map(k -> _)).toMap
    jobs(e.jobId) = new JobStats(e.jobId, e.time, site, kept)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val info = e.taskInfo
      stageSubmitted.get(e.stageId).foreach(s => j.waitMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toList)
}
