package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One wall clock for spans, jobs and triggers: epoch microseconds with
 *  nanoTime resolution. */
object Clock {
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us(): Long = epochUs + (System.nanoTime() - nano0) / 1000L
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long)

/** Spans around the calls into each layer. Every span also tags the
 *  Spark jobs it launches (`pb-<span id>`), so the listener can charge a
 *  job to the innermost span that caused it. Off, `span` just runs `f`. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), op, name, Clock.us(), -1L)
      stack = id :: stack
      val tag = s"pb-$id"
      sc.addJobTag(tag)
      try f
      finally {
        sc.removeJobTag(tag)
        stack = stack.tail
        spans(id) = spans(id).copy(end = Clock.us())
      }
    }
}

/** Job, stage and streaming-trigger events of the traced run, kept in
 *  memory and written out when the run ends. */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(PerfbenchBus.JobTagsProperty)))
      .map(_.split(",").toSeq.filter(_.startsWith("pb-")).map(_.drop(3).toInt))
      .getOrElse(Seq.empty)
    jobs.add(Map("job" -> e.jobId, "start_us" -> e.time * 1000L,
      "stages" -> e.stageIds, "spans" -> tags))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add(Map("job" -> e.jobId, "end_us" -> e.time * 1000L,
      "ok" -> (e.jobResult == JobSucceeded)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Map("stage" -> i.stageId, "tasks" -> i.numTasks,
      "task_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "shuffle_bytes" -> (if (m == null) 0L
        else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L
        else m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      triggers.add(Map(
        "start_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L)))
    }
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "job_ends" -> jobEnds.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "triggers" -> triggers.asScala.toSeq)
}
