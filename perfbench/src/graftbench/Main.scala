package graftbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload and writes the result object. */
object Main {
  /** End-to-end metrics (untraced run) with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "batch_p50_ms" -> "ms",
    "write_amp" -> "ratio", "stored_mb" -> "MB", "read_p50_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics (traced run) with their units. A metric of a layer a
    * workload does not run reads 0 there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdcstream.batches" -> "count", "cdcstream.add_batch_ms_p50" -> "ms",
    "cdcstream.source_ms_p50" -> "ms", "cdcstream.wal_ms_p50" -> "ms",
    "cdcstream.planning_ms_p50" -> "ms",
    "typemap.convert_ms" -> "ms", "typemap.rows_per_s" -> "rows/s",
    "typemap.rejected_rows" -> "count",
    "cdc.dedup_batch_ms" -> "ms", "cdc.dedup_rows_out_per_in" -> "ratio",
    "merge.ms_p50" -> "ms", "merge.jobs_per_batch" -> "count",
    "merge.buckets_touched" -> "count", "merge.buckets_written" -> "count",
    "merge.buckets_emptied" -> "count", "merge.existing_rows_read" -> "count",
    "merge.shuffle_bytes" -> "bytes", "merge.task_ms" -> "ms",
    "merge.driver_ms" -> "ms",
    "sink.bytes_written" -> "bytes", "sink.files_written" -> "count",
    "sink.files_per_partition_max" -> "count", "sink.table_bytes" -> "bytes",
    "sink.read_ms_p50" -> "ms", "sink.read_files_opened" -> "count",
    "sink.read_bytes" -> "bytes",
    "offsets.put_ms_p50" -> "ms", "offsets.compactions" -> "count",
    "offsets.files" -> "count",
    "ingest.batch_ms_p50" -> "ms", "dedup.exact_probe_ms" -> "ms",
    "dedup.minhash_probe_ms" -> "ms", "dedup.store_append_ms" -> "ms",
    "dedup.store_buckets_read" -> "count", "ingest.accepted" -> "count",
    "ingest.rejected_exact" -> "count", "ingest.rejected_near" -> "count",
    "spark.jobs_per_batch" -> "count", "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count", "spark.task_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.executor_busy_share" -> "ratio", "jvm.gc_ms" -> "ms",
    "jvm.open_fds_growth" -> "count",
    "trace.overhead_rows_per_s_pct" -> "%", "trace.overhead_batch_p50_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    ModelCases.run()
    if (a.selftest) { System.err.println("model cases: ok"); return }
    val wl = a.workload match {
      case "cdc_spread" => new CdcSpread
      case "corpus_ingest" => new CorpusIngestWl
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[${a.slots}]")
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = try run(new Harness(spark, a), wl) finally spark.stop()
    Files.writeString(Paths.get(a.out), result + "\n")
  }

  private final case class Summary(metrics: Map[String, Double], tails: Map[String, Double])

  private def summarize(h: Harness, setupS: Double, rs: Seq[Round]): Summary = {
    val batch = rs.flatMap(_.batchMs)
    val reads = rs.flatMap(_.readMs)
    val rows = rs.map(_.rows).sum.toDouble
    val m = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> rows / (rs.map(_.loopMs).sum / 1e3),
      "batch_p50_ms" -> Stats.median(batch),
      "write_amp" -> rs.map(_.bytesWritten).sum.toDouble / rs.map(_.bytesIn).sum,
      "stored_mb" -> Stats.median(rs.map(_.storedBytes.toDouble)) / 1e6,
      "read_p50_ms" -> Stats.median(reads),
      "peak_rss_mb" -> h.peakRssBytes() / 1e6)
    val tails = Map(
      "rounds" -> rs.size.toDouble,
      "batches" -> batch.size.toDouble,
      "batch_p90_ms" -> Stats.quantile(batch, 0.9),
      "batch_max_ms" -> (if (batch.isEmpty) 0.0 else batch.max),
      "read_sets" -> reads.size.toDouble,
      "read_p90_ms" -> Stats.quantile(reads, 0.9),
      "read_max_ms" -> (if (reads.isEmpty) 0.0 else reads.max))
    Summary(m, tails)
  }

  def run(h: Harness, wl: Workload): String = {
    val a = h.args
    h.log("session up")
    wl.setup(h)
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    h.log(f"set-up done in $setupS%.2f s")
    val fd0 = h.openFds()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // whole rounds only: another round starts while time remains
    def loop(untilS: Double, first: Int): Seq[Round] = {
      val rs = mutable.ArrayBuffer.empty[Round]
      while (rs.isEmpty || elapsed < untilS) {
        rs += wl.round(h, first + rs.size)
        val r = rs.last
        h.log(f"round ${first + rs.size - 1} done at $elapsed%.1f s: batches " +
          r.batchMs.map(_.toInt).mkString(",") + " reads " + r.readMs.map(_.toInt).mkString(","))
      }
      rs.toSeq
    }
    val plain = loop(if (a.trace) a.seconds / 2.0 else a.seconds.toDouble, 0)
    val untraced = summarize(h, setupS, plain)
    var rounds = plain
    val record = mutable.LinkedHashMap[String, Any]("workload" -> a.workload,
      "seed" -> a.seed, "seconds" -> a.seconds, "slots" -> a.slots,
      "end_to_end_untraced" -> untraced.metrics, "tails_untraced" -> untraced.tails)
    val metrics: Map[String, Double] =
      if (!a.trace) untraced.metrics
      else {
        val progress = new ProgressRecorder
        h.spark.streams.addListener(progress)
        h.barrier()
        h.recorder.detailed = true
        h.tracing = true
        val gc0 = h.gcMs()
        val from = System.currentTimeMillis()
        val traced = loop(a.seconds.toDouble, plain.size)
        val to = System.currentTimeMillis()
        h.barrier()
        h.tracing = false
        val gc = h.gcMs() - gc0
        val fdGrowth = h.openFds() - fd0
        rounds = plain ++ traced
        val tr = summarize(h, setupS, traced)
        record("end_to_end_traced") = tr.metrics
        record("tails_traced") = tr.tails
        val loopM = Trace.loopMetrics(h, from, to, traced.map(_.loopMs).sum,
          progress.snapshot, h.timedStores.toSeq, gc, fdGrowth)
        def pct(k: String) = 100.0 * (tr.metrics(k) / untraced.metrics(k) - 1.0)
        val overhead = Map(
          "trace.overhead_rows_per_s_pct" -> pct("rows_per_s"),
          "trace.overhead_batch_p50_pct" -> pct("batch_p50_ms"))
        val all = loopM ++ wl.layerReplay(h) ++ overhead
        PerLayer.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
      }
    val correct = rounds.forall(_.correct)
    val units = (if (a.trace) PerLayer else EndToEnd).toMap
    val body = units.keys.toSeq.sorted.map { k =>
      s""""$k": {"value": ${num(metrics(k))}, "unit": "${units(k)}"}"""
    }.mkString("{", ", ", "}")
    val json = s"""{"correct": $correct, "attempted": ${rounds.map(_.attempted).sum}, """ +
      s""""failed": ${rounds.map(_.failed).sum}, "metrics": $body}"""
    if (a.trace) {
      record("per_layer") = metrics
      Files.writeString(Paths.get(a.traceOut), toJson(record) + "\n")
    }
    json
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  private def toJson(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => "\"" + k + "\": " + toJson(x) }.mkString("{", ", ", "}")
    case d: Double => num(d)
    case s: String => "\"" + s + "\""
    case x => String.valueOf(x).toLowerCase(Locale.ROOT)
  }
}
