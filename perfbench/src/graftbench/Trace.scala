package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.state.OffsetStore

/** The offset store the program is handed in traced runs: the program's
  * own `OffsetStore`, with each `put` timed from outside and the store's
  * file count watched for compactions (a put after which the directory
  * holds fewer files than before). Records only while `on()` is true. */
final class TimedOffsetStore(path: String, spark: SparkSession, on: () => Boolean)
    extends OffsetStore(path, spark) {
  val putMs = mutable.ArrayBuffer.empty[Double]
  var compactions = 0L

  def files: Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.list(p)
      try s.filter(f => f.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    }
  }

  override def put(offsets: Map[String, String]): Unit =
    if (!on()) super.put(offsets)
    else {
      val before = files
      val t0 = System.nanoTime()
      super.put(offsets)
      putMs.synchronized(putMs += (System.nanoTime() - t0) / 1e6)
      if (files < before) compactions += 1
    }
}

object Trace {
  /** Wall milliseconds of [t0, t1] that no stage's run covered. */
  def uncoveredMs(t0: Long, t1: Long, stages: Seq[Recorder#Stage]): Long = {
    val iv = stages.filter(_.completed >= 0)
      .map(s => (math.max(t0, s.submitted), math.min(t1, s.completed)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, (t1 - t0) - covered)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  /** Execute `df` and return the files its scans opened (Spark's own
    * `numFiles` scan metric). */
  def filesRead(df: DataFrame): Long = {
    df.collect()
    scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  /** Engine and stream-loop metrics over a traced phase of the timed loop:
    * Spark jobs/stages/tasks per micro-batch, stream phase medians from
    * the progress listener, offset-store puts, GC and descriptors. */
  def loopMetrics(h: Harness, fromMs: Long, toMs: Long, wallMs: Double,
                  progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                  offsets: Seq[TimedOffsetStore], gcMs: Long,
                  fdGrowth: Long): Map[String, Double] = {
    val program: String => Boolean = g => !g.startsWith("bench:") && !g.startsWith("layer:")
    val jobs = h.recorder.jobsIn(program, fromMs, toMs)
    val stages = h.recorder.stagesIn(program, fromMs, toMs)
    val nb = math.max(1, progress.size).toDouble
    val taskMs = stages.map(_.runMs).sum.toDouble
    def p50(keys: String*) = Stats.median(progress.map(ProgressMs(_, keys: _*)))
    val puts = offsets.flatMap(o => o.putMs.synchronized(o.putMs.toSeq))
    Map(
      "cdcstream.batches" -> progress.size.toDouble,
      "cdcstream.add_batch_ms_p50" -> p50("addBatch"),
      "cdcstream.source_ms_p50" -> p50("latestOffset", "getBatch"),
      "cdcstream.wal_ms_p50" -> p50("walCommit", "commitOffsets"),
      "cdcstream.planning_ms_p50" -> p50("queryPlanning"),
      "offsets.put_ms_p50" -> Stats.median(puts),
      "offsets.compactions" -> offsets.map(_.compactions).sum.toDouble,
      "offsets.files" -> offsets.map(_.files).sum.toDouble,
      "spark.jobs_per_batch" -> jobs.size / nb,
      "spark.stages_per_batch" -> stages.size / nb,
      "spark.tasks_per_batch" -> stages.map(_.tasks).sum / nb,
      "spark.task_ms" -> taskMs / nb,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / nb,
      "spark.spill_bytes" -> stages.map(_.spill).sum / nb,
      "spark.input_bytes" -> stages.map(_.inputBytes).sum / nb,
      "spark.output_bytes" -> stages.map(_.outputBytes).sum / nb,
      "spark.executor_busy_share" -> taskMs / (wallMs * h.args.slots),
      "jvm.gc_ms" -> gcMs / nb,
      "jvm.open_fds_growth" -> fdGrowth.toDouble)
  }
}
