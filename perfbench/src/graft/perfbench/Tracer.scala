package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener side of a traced run. Every layer call runs under its own
  * Spark job tag (`pb-<n>`, see [[Calls]]); this listener keys every job,
  * stage and task event by that tag, so attribution never depends on
  * when an asynchronous event arrives. Streaming jobs keep the tag
  * because the stream thread inherits the caller's local properties;
  * their job group is the query's runId, which is how trigger progress
  * events are mapped back to the call that started the stream.
  *
  * Everything is kept in memory and read once the run has ended and the
  * listener bus has drained.
  */
final class Tracer extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var writtenBytes = 0L
    def add(o: Agg): Unit = {
      jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; writtenBytes += o.writtenBytes
    }
  }
  final case class JobSpan(id: Int, tag: String, start: Long, var end: Long)
  final case class Trigger(tag: String, durations: Map[String, Long], end: Long)

  val byTag = mutable.HashMap.empty[String, Agg]
  val total = new Agg
  var untaggedJobs = 0L
  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val runTag = mutable.HashMap.empty[String, String]
  val triggers = mutable.ArrayBuffer.empty[Trigger]
  var unmatchedTriggers = 0L

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(Calls.TagPrefix)))

  private def agg(tag: Option[String]): Agg =
    tag.map(byTag.getOrElseUpdate(_, new Agg)).getOrElse(new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    total.jobs += 1
    if (tag.isEmpty) untaggedJobs += 1
    agg(tag).jobs += 1
    jobs(e.jobId) = JobSpan(e.jobId, tag.getOrElse(""), e.time, e.time)
    for (t <- tag; g <- Option(e.properties.getProperty("spark.jobGroup.id")))
      runTag(g) = t
    for (t <- tag; s <- e.stageIds) stageTag(s) = t
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    tagOf(e.properties).foreach(stageTag(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val one = new Agg
      one.tasks = 1
      one.runMs = m.executorRunTime
      one.cpuNs = m.executorCpuTime
      one.gcMs = m.jvmGCTime
      one.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      one.writtenBytes = m.outputMetrics.bytesWritten
      total.add(one)
      agg(stageTag.get(e.stageId)).add(one)
    }
  }

  /** Trigger progress, attributed through the runId → tag map above. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        runTag.get(p.runId.toString) match {
          case Some(tag) =>
            triggers += Trigger(tag,
              p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
              java.time.Instant.parse(p.timestamp).toEpochMilli)
          case None => unmatchedTriggers += 1
        }
      }
  }
}

object Tracer {
  /** Milliseconds of [t0, t1] covered by the union of the intervals. */
  def covered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var sum = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- clipped) {
      if (a > curB) { sum += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    sum + (curB - curA)
  }
}
