package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{Cdc, MergePipeline, TypeMap}
import graft.sinks.WarehouseSink
import graft.streaming.CdcStream

/** Helpers of the CDC workload. */
object CdcCommon {
  val Table = "events"
  val Keys: Seq[String] = Seq("user_id")
  val Cols: Seq[String] = Seq("event_id", "user_id", "event_type", "value",
    "prop_k", "__op", "__deleted")

  def select(df: DataFrame): DataFrame =
    df.select((Cols.map(col) :+ unix_millis(col("__source_ts_ms")).as("ms")): _*)

  /** A snapshot row back as the model's event; `__deleted` must agree. */
  def toEv(r: Row): Ev = {
    val e = Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getLong(4), r.getString(5), r.getLong(7))
    if (r.getBoolean(6) != e.deleted)
      throw new AssertionError(s"__deleted disagrees with __op on $e")
    e
  }

  def snapshot(h: Harness, sink: WarehouseSink): Map[Long, Ev] = h.inGroup("bench:check") {
    select(sink.read(h.spark, Table)).collect().map(toEv).map(e => e.userId -> e).toMap
  }

  /** The program's own bucket of each key, from its public layout function. */
  def buckets(h: Harness, keys: Seq[Long]): Map[Long, Int] = h.inGroup("bench:setup") {
    import h.spark.implicits._
    keys.toDF("user_id")
      .select(col("user_id"), WarehouseSink.bucketPartition(Keys, MergePipeline.DefaultNumBuckets))
      .as[(Long, Int)].collect().toMap
  }

  /** One read-probe set through `WarehouseSink.read`: a bucket-pruned lookup
    * per key, then a whole-table aggregate. Returns (ms, answers agree with
    * `state`). */
  def probeSet(h: Harness, sink: WarehouseSink, keys: Seq[(Long, Int)],
               state: collection.Map[Long, Ev], group: String = "bench:read")
      : (Double, Boolean) = h.inGroup(group) {
    val ((lookups, agg), ms) = h.timeMs {
      val l = keys.map { case (k, b) =>
        select(sink.read(h.spark, Table)
          .filter(col("part_bucket") === b && col("user_id") === k)).collect()
      }
      val a = sink.read(h.spark, Table)
        .agg(count(lit(1)), sum(col("prop_k")), max(col("event_id"))).head()
      (l, a)
    }
    val lookupsOk = keys.zip(lookups).forall { case ((k, _), rows) =>
      rows.map(toEv).toSeq == state.get(k).toSeq
    }
    val aggOk = agg.getLong(0) == state.size &&
      agg.getLong(1) == state.valuesIterator.map(_.propK).sum &&
      agg.getLong(2) == state.valuesIterator.map(_.eventId).max
    if (!(lookupsOk && aggOk)) h.log(s"read probe disagrees with the model: $keys $agg")
    (ms, lookupsOk && aggOk)
  }

  def check(h: Harness, what: String, ok: Boolean): Boolean = {
    if (!ok) h.log(s"CHECK FAILED: $what")
    ok
  }

  def awaitDone(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Per-layer replay of the backlog files over a copy of the bootstrapped
    * warehouse, through the modules' public functions, each call under its
    * own job group: TypeMap conversion, Cdc latest-wins dedup,
    * MergePipeline MERGE (with table walks before and after), then
    * WarehouseSink read probes on the result. */
  def replay(h: Harness, files: Seq[String], template: String,
             probeKeys: Seq[(Long, Int)], model: MergeModel): Map[String, Double] = {
    val spark = h.spark
    val ns = h.dir("replay")
    h.copyTree(template, s"$ns/warehouse")
    val sink = new WarehouseSink(s"$ns/warehouse")
    val tablePath = sink.tablePath(Table)
    val conv = mutable.ArrayBuffer.empty[Double]
    val dedupMs = mutable.ArrayBuffer.empty[Double]
    val mergeMs = mutable.ArrayBuffer.empty[Double]
    var rows, rejected, dedupIn, dedupOut = 0L
    var touched, written, emptied, existingRead, mergeJobs = 0L
    var shuffle, taskMs, driverMs, sinkBytes, sinkFiles = 0L
    files.zipWithIndex.foreach { case (f, i) =>
      val raw = spark.read.text(f)
      val converted = TypeMap.convertWithRejects(raw, Gen.SchemaJson, Keys)
      conv += h.inGroup("layer:typemap")(h.timeMs(h.run(converted)))._2
      val good = h.inGroup("bench:replay") {
        rows += raw.count()
        rejected += converted.filter(col("__rejected")).count()
        converted.filter(!col("__rejected"))
          .drop("__raw", "__reject_reason", "__rejected").localCheckpoint()
      }
      val n = h.inGroup("bench:replay")(good.count())
      val latest = Cdc.dedupLatest(good, Keys, MergePipeline.defaultOrdering)
      dedupMs += h.inGroup("layer:dedup")(h.timeMs(h.run(latest)))._2
      dedupIn += n
      dedupOut += h.inGroup("bench:replay")(latest.count())
      val before = h.walk(tablePath)
      touched += h.inGroup("bench:replay")(good.select(
        WarehouseSink.bucketPartition(Keys, MergePipeline.DefaultNumBuckets)).distinct().count())
      h.barrier()
      val g = s"layer:merge$i"
      val t0 = System.currentTimeMillis()
      mergeMs += h.inGroup(g)(h.timeMs(MergePipeline.mergeBatch(spark, sink, Table, good,
        Keys, keepDeletes = true)))._2
      val t1 = System.currentTimeMillis()
      h.barrier()
      val after = h.walk(tablePath)
      def part(p: String) = p.takeWhile(_ != '/')
      val fresh = after.filter { case (p, _) => !before.contains(p) && p.contains("part_bucket=") &&
        !p.endsWith(".crc") }
      written += fresh.keySet.map(part).size
      emptied += (before.keySet.filter(_.contains("part_bucket=")).map(part) --
        after.keySet.map(part)).size
      sinkBytes += fresh.values.sum
      sinkFiles += fresh.size
      val inG: String => Boolean = _ == g
      val jobs = h.recorder.jobsIn(inG, t0, t1)
      val stages = h.recorder.stagesIn(inG, t0, t1)
      mergeJobs += jobs.size
      shuffle += stages.map(_.shuffleWrite).sum
      taskMs += stages.map(_.runMs).sum
      existingRead += stages.map(_.recordsRead).sum
      driverMs += Trace.uncoveredMs(t0, t1, stages)
      good.unpersist()
    }
    val files0 = h.walk(tablePath).filter { case (p, _) =>
      p.contains("part_bucket=") && !p.endsWith(".crc") }
    val perPart = files0.keys.groupBy(_.takeWhile(_ != '/')).values.map(_.size)
    val reads = (1 to 5).map { i =>
      val g = s"layer:read$i"
      val t0 = System.currentTimeMillis()
      val (ms, _) = probeSet(h, sink, probeKeys, model.state, g)
      h.barrier()
      val st = h.recorder.stagesIn(_ == g, t0, System.currentTimeMillis())
      (ms, st.map(_.inputBytes).sum)
    }
    val filesOpened = h.inGroup("bench:replay") {
      Trace.filesRead(sink.read(spark, Table)
        .filter(col("part_bucket") === probeKeys.head._2 && col("user_id") === probeKeys.head._1)) +
        Trace.filesRead(sink.read(spark, Table).agg(count(lit(1))))
    }
    val nb = files.size.toDouble
    val out = Map(
      "typemap.convert_ms" -> conv.sum,
      "typemap.rows_per_s" -> rows / (conv.sum / 1000.0),
      "typemap.rejected_rows" -> rejected.toDouble,
      "cdc.dedup_batch_ms" -> Stats.median(dedupMs.toSeq),
      "cdc.dedup_rows_out_per_in" -> dedupOut.toDouble / dedupIn,
      "merge.ms_p50" -> Stats.median(mergeMs.toSeq),
      "merge.jobs_per_batch" -> mergeJobs / nb,
      "merge.buckets_touched" -> touched / nb,
      "merge.buckets_written" -> written / nb,
      "merge.buckets_emptied" -> emptied.toDouble,
      "merge.existing_rows_read" -> existingRead.toDouble,
      "merge.shuffle_bytes" -> shuffle.toDouble,
      "merge.task_ms" -> taskMs.toDouble,
      "merge.driver_ms" -> driverMs.toDouble,
      "sink.bytes_written" -> sinkBytes.toDouble,
      "sink.files_written" -> sinkFiles.toDouble,
      "sink.files_per_partition_max" -> (if (perPart.isEmpty) 0.0 else perPart.max.toDouble),
      "sink.table_bytes" -> files0.values.sum.toDouble,
      "sink.read_ms_p50" -> Stats.median(reads.map(_._1)),
      "sink.read_files_opened" -> filesOpened.toDouble,
      "sink.read_bytes" -> Stats.median(reads.map(_._2.toDouble)))
    h.deleteTree(ns)
    out
  }
}

/** Catch-up replay of a spread changelog over an existing warehouse: the
  * table is bootstrapped once (one create per key) in set-up, followed by
  * an untimed warm-up drain of the first backlog file; each round copies
  * the bootstrapped warehouse and drains the backlog files landed in
  * advance with `availableNow`, soft deletes and a dead-letter table.
  * Every round does the same work. */
final class CdcSpread extends Workload {
  import CdcCommon._
  val Replicas = 10
  val PerReplica = 1000
  val Files = 4
  val ProbeSets = 5
  val WarmProbeSets = 2
  private var inDir, template = ""
  private var files: Seq[Gen.CdcFile] = Nil
  private var malformed: Seq[(String, String)] = Nil
  private var paths: Seq[String] = Nil
  private var bytesIn = 0L
  private val model = new MergeModel(keepDeletes = true)
  private var probeKeys: Seq[(Long, Int)] = Nil

  def setup(h: Harness): Unit = {
    val users = Replicas * Gen.UsersPerReplica
    val boot = Gen.bootstrap(h.args.seed, users)
    val (f, bad) = Gen.spreadChangelog(h.args.seed, Replicas, PerReplica, Files,
      lateShare = 0.05, redeliverShare = 0.03, malformedShare = 0.005)
    files = f
    malformed = bad
    inDir = h.dir("spread_in")
    val bootDir = h.dir("spread_boot")
    h.landLines(bootDir, "bootstrap.json", boot.lines, Gen.Jan2024Ms)
    paths = files.zipWithIndex.map { case (cf, i) =>
      val name = f"changes-$i%03d.json"
      bytesIn += h.landLines(inDir, name, cf.lines, Gen.Jan2024Ms + (i + 1) * 1000L)
      s"$inDir/$name"
    }
    model.applyBatch(boot.events)
    files.foreach(cf => model.applyBatch(cf.events))
    val r = new java.util.SplittableRandom(h.args.seed + 17)
    val probe = Seq.fill(2)(r.nextInt(users).toLong)
    val b = buckets(h, probe)
    probeKeys = probe.map(k => k -> b(k))
    template = drain(h, bootDir, None, "template")._1.warehousePath
    h.log("template drained")
    // warm-up: the first backlog file over a copy of the bootstrap table
    val warmDir = h.dir("spread_warm")
    h.landLines(warmDir, "changes-000.json", files.head.lines, Gen.Jan2024Ms + 1000L)
    val warm = drain(h, warmDir, Some(template), "warm")._1
    h.log("warm-up drained")
    // and the read probes on it: their first sets in a JVM run cold
    val warmModel = new MergeModel(keepDeletes = true)
    Seq(boot.events, files.head.events).foreach(warmModel.applyBatch)
    (1 to WarmProbeSets).foreach(_ => probeSet(h, warm, probeKeys, warmModel.state, "bench:warmup"))
    h.deleteTree(s"${h.work}/warm")
  }

  /** Drain `input` into a warehouse under `name` (a copy of `from`, if
    * given). Returns the sink, the drain's wall ms and each micro-batch's
    * ms. */
  private def drain(h: Harness, input: String, from: Option[String], name: String)
      : (WarehouseSink, Double, Seq[Double]) = {
    val ns = h.dir(name)
    from.foreach(h.copyTree(_, s"$ns/warehouse"))
    val sink = new WarehouseSink(s"$ns/warehouse")
    val offsets = h.offsetStore(s"$ns/offsets")
    val (q, loopMs) = h.timeMs {
      val q = CdcStream.startJson(h.spark, input, Gen.SchemaJson, sink, Table, Keys,
        s"$ns/checkpoint", offsets, availableNow = true, maxFilesPerTrigger = 1,
        keepDeletes = true, deadLetterTable = Some("events_dlq"))
      awaitDone(q)
      q
    }
    (sink, loopMs, ProgressMs.dataBatches(q.recentProgress).map(ProgressMs.batchMs))
  }

  /** A drain of the backlog (one operation per micro-batch), then the
    * read-probe sets (one operation each). */
  def round(h: Harness, i: Int): Round = {
    val ops = Files + ProbeSets
    val ns = s"${h.work}/round$i"
    val w0 = h.bytesWritten()
    val drained = h.attempt(s"round $i drain")(drain(h, inDir, Some(template), s"round$i"))
    val written = h.bytesWritten() - w0
    val round = drained match {
      case None => Round.failed(ops)
      case Some((sink, loopMs, batchMs)) =>
        val snap = h.attempt("snapshot read")(snapshot(h, sink))
        val dlq = h.attempt("dead-letter read")(h.inGroup("bench:check") {
          sink.read(h.spark, "events_dlq").select("raw", "reason").collect()
            .map(r => r.getString(0) -> r.getString(1)).toSeq
        })
        var ok = check(h, "snapshot equals the model's latest-wins fold",
            snap.contains(model.state)) &
          check(h, "dead-letter table holds exactly the malformed lines",
            dlq.exists(_.sorted == malformed.sorted)) &
          check(h, s"one micro-batch per file (${batchMs.size})", batchMs.size == Files)
        val reads = (1 to ProbeSets).flatMap { j =>
          h.attempt(s"round $i read-probe set $j")(probeSet(h, sink, probeKeys, model.state))
        }
        reads.foreach { case (_, good) => ok &= good }
        Round(files.map(_.lines.size.toLong).sum, loopMs, batchMs, reads.map(_._1),
          written, bytesIn, h.dirBytes(sink.warehousePath), ops, ProbeSets - reads.size, ok)
    }
    h.deleteTree(ns)
    round
  }

  def layerReplay(h: Harness): Map[String, Double] =
    replay(h, paths, template, probeKeys, model)
}
