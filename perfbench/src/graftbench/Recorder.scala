package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark listener the benchmark registers. Always: the bytes Spark tasks
  * wrote (the numerator of `write_amp`), and a barrier that waits until
  * the asynchronous listener bus has delivered every earlier event. With
  * `detailed` on (traced runs): every job, stage and task roll-up, keyed
  * by the job group the benchmark set around its own calls. */
final class Recorder extends SparkListener {
  val bytesWritten = new AtomicLong
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()
  private val jobGroupOf = new ConcurrentHashMap[Int, String]()
  @volatile var detailed = false

  final case class Job(id: Int, group: String, start: Long)
  final class Stage(val id: Int, val group: String) {
    var tasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
    var recordsRead = 0L
    var outputBytes = 0L
    var submitted = -1L
    var completed = -1L
  }
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    jobGroupOf.put(e.jobId, g)
    if (detailed) synchronized {
      jobs += Job(e.jobId, g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroupOf.remove(e.jobId)
    if (g != null) endedGroups.add(g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (detailed) synchronized {
      val s = new Stage(e.stageInfo.stageId, group(e.properties))
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stages(s.id) = s
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach(_.completed =
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      synchronized {
        stages.get(e.stageId).foreach { s =>
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.recordsRead += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Block until every job of `group` has been reported ended. */
  def awaitGroupEnded(group: String, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedGroups.contains(group)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"listener bus did not drain ($group)")
      Thread.sleep(2)
    }
  }

  def jobsIn(groups: String => Boolean, fromMs: Long, toMs: Long): Seq[Job] =
    synchronized {
      jobs.filter(j => groups(j.group) && j.start >= fromMs && j.start <= toMs).toSeq
    }

  def stagesIn(groups: String => Boolean, fromMs: Long, toMs: Long): Seq[Stage] =
    synchronized {
      stages.values.filter(s => groups(s.group) && s.submitted >= fromMs &&
        s.submitted <= toMs).toSeq
    }
}

/** Streaming-query progress of the traced phase. */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { if (e.progress.numInputRows > 0) progress += e.progress }
  def snapshot: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)
}

object ProgressMs {
  /** A phase duration of one progress report (0 when Spark omits it). */
  def apply(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble

  def batchMs(p: StreamingQueryProgress): Double = apply(p, "triggerExecution")

  def dataBatches(ps: Iterable[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0).toSeq
}
