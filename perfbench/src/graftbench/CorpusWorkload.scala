package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.llm.Dedup
import graft.sinks.WarehouseSink
import graft.streaming.CorpusIngest

/** Corpus ingest with exact and MinHash near-duplicate rejection. Set-up
  * ingests the first batch through the stream into a template warehouse
  * (corpus table, fingerprint and band stores, metrics table); each round
  * copies it and drains the next batch, landed in advance, with
  * `availableNow`, so the batch is probed against a persistent store and
  * every round does the same work. */
final class CorpusIngestWl extends Workload {
  val Batches = 2
  val PerBatch = 200
  val ResendShare = 0.1
  val EditShare = 0.1
  /** Near-duplicate threshold: `Dedup.dedupIncrementalMinhash`'s default. */
  val Tau = 0.5
  val NumBuckets = 32
  val ProbeSets = 3
  val WarmProbeSets = 2
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private var inDir, template = ""
  private var paths: Seq[String] = Nil
  private var docs: Seq[Seq[Gen.Doc]] = Nil
  private var bytesIn = 0L
  private var keepFirst: Set[Long] = Set.empty
  private var recallFloor = 0.0
  private var probeIds: Seq[(Long, Int)] = Nil
  /** Documents the template's own batch accepted, from its metrics table. */
  private var templateAccepted = 0L

  def setup(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    // The stream runs in a clone of this session; the near-duplicate path
    // fails to resolve `pack_longs` there unless the session carried the
    // vector functions before the stream started (see CHANGES.md, FOUND).
    graft.functions.VectorFunctions.register(spark)
    docs = Gen.corpus(h.args.seed, Batches, PerBatch, ResendShare, EditShare)
    inDir = h.dir("corpus_in")
    val bootDir = h.dir("corpus_boot")
    paths = docs.zipWithIndex.map { case (b, i) =>
      val stage = s"${h.dir("staging")}/docs$i"
      h.inGroup("bench:setup") {
        b.map(d => (d.id, d.text)).toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      }
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val name = f"docs-$i%03d.parquet"
      val dir = if (i == 0) bootDir else inDir
      val size = h.landFile(part, dir, name, Gen.Jan2024Ms + i * 1000L)
      if (i > 0) bytesIn += size
      s"$dir/$name"
    }
    keepFirst = KeepFirstModel.accepted(docs.map(_.map(d => d.id -> d.text)))
    recallFloor = CorpusIngestWl.recallFloor(edits.map(e => Gen.jaccard(e.text, text(e.source))), Tau)
    val byId = docs.flatten.filter(_.kind == "base").map(_.id).toIndexedSeq
    val r = new java.util.SplittableRandom(h.args.seed + 41)
    val ids = Seq.fill(2)(byId(r.nextInt(byId.size)))
    val b = h.inGroup("bench:setup") {
      ids.toDF("doc_id").select(col("doc_id"),
        WarehouseSink.bucketPartition(Seq("doc_id"), NumBuckets)).as[(Long, Int)].collect().toMap
    }
    probeIds = ids.map(i => i -> b(i))
    val (tpl, _, _) = ingest(h, bootDir, None, "template")
    h.log("template ingested")
    // the first read-probe sets of a JVM run cold
    (1 to WarmProbeSets).foreach(_ => probeSet(h, tpl, "bench:warmup"))
    template = tpl.warehousePath
    templateAccepted = accepted(h, tpl)._2.sum
  }

  /** The corpus table's (doc_id, text) rows and the metrics table's
    * per-batch accepted counts. */
  private def accepted(h: Harness, sink: WarehouseSink): (Seq[(Long, String)], Seq[Long]) =
    h.inGroup("bench:check") {
      (sink.read(h.spark, "corpus").select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq,
        sink.read(h.spark, "ingest_metrics").select("n_accepted").collect()
          .map(_.getLong(0)).toSeq)
    }

  private lazy val textOf: Map[Long, String] = docs.flatten.map(d => d.id -> d.text).toMap
  private def text(id: Long): String = textOf(id)
  private def edits: Seq[Gen.Doc] = docs.flatten.filter(_.kind == "edit")

  /** Drain `input` into a warehouse under `name` (a copy of `from`, if
    * given). Returns the sink, the drain's wall ms and each micro-batch's
    * ms. */
  private def ingest(h: Harness, input: String, from: Option[String], name: String)
      : (WarehouseSink, Double, Seq[Double]) = {
    val ns = h.dir(name)
    from.foreach(h.copyTree(_, s"$ns/warehouse"))
    val sink = new WarehouseSink(s"$ns/warehouse")
    val (q, loopMs) = h.timeMs {
      val q = CorpusIngest.start(h.spark, input, Schema, sink, h.offsetStore(s"$ns/offsets"),
        s"$ns/checkpoint", availableNow = true, maxFilesPerTrigger = 1,
        nearDupMinEstSim = Some(Tau), metricsTable = Some("ingest_metrics"))
      CdcCommon.awaitDone(q)
      q
    }
    (sink, loopMs, ProgressMs.dataBatches(q.recentProgress).map(ProgressMs.batchMs))
  }

  /** One read-probe set on the corpus table: a bucket-pruned lookup per
    * doc id, then a row count. Returns ((lookups found, count), ms). */
  private def probeSet(h: Harness, sink: WarehouseSink, group: String = "bench:read") =
    h.inGroup(group) {
      h.timeMs {
        val found = probeIds.map { case (id, b) =>
          sink.read(h.spark, "corpus")
            .filter(col("part_bucket") === b && col("doc_id") === id)
            .select("text").collect().map(_.getString(0)).toSeq
        }
        (found, sink.read(h.spark, "corpus").count())
      }
    }

  /** A drain of the round's batches (one operation per micro-batch), then
    * the read-probe sets (one operation each). */
  def round(h: Harness, i: Int): Round = {
    import CdcCommon.check
    val ops = Batches - 1 + ProbeSets
    val ns = s"${h.work}/round$i"
    val w0 = h.bytesWritten()
    val drained = h.attempt(s"round $i drain")(ingest(h, inDir, Some(template), s"round$i"))
    val written = h.bytesWritten() - w0
    val round = drained match {
      case None => Round.failed(ops)
      case Some((sink, loopMs, batchMs)) =>
        // the round's stream numbers its batch 0 again, so its metrics row
        // replaces the template's; the template's count was read in set-up
        val (corpus, perBatch) = h.attempt("corpus read")(this.accepted(h, sink))
          .getOrElse((Seq.empty[(Long, String)], Seq.empty[Long]))
        val accepted = corpus.map(_._1).toSet
        val resends = docs.flatten.filter(_.kind == "resend").map(_.id)
        val recall = edits.count(e => !accepted.contains(e.id)).toDouble / edits.size
        var ok = check(h, "accepted texts are distinct", corpus.map(_._2).distinct.size == corpus.size) &
          check(h, "every exact re-send rejected", resends.forall(r => !accepted.contains(r))) &
          check(h, "accepted set within the keep-first model's", accepted.subsetOf(keepFirst)) &
          check(h, "corpus rows equal the per-batch accepted counts",
            perBatch.length == Batches - 1 && templateAccepted + perBatch.sum == corpus.size) &
          check(h, f"near-copy recall $recall%.4f meets the floor $recallFloor%.4f",
            recall >= recallFloor) &
          check(h, s"one micro-batch per file (${batchMs.size})", batchMs.size == Batches - 1)
        val reads = (1 to ProbeSets).flatMap { j =>
          h.attempt(s"round $i read-probe set $j")(probeSet(h, sink))
        }
        reads.foreach { case ((found, n), _) =>
          ok &= check(h, "read probes agree with the corpus table",
            n == corpus.size && probeIds.zip(found).forall { case ((id, _), f) =>
              f == Seq(text(id)) })
        }
        Round(docs.tail.map(_.size.toLong).sum, loopMs, batchMs, reads.map(_._2),
          written, bytesIn, h.dirBytes(sink.warehousePath), ops, ProbeSets - reads.size, ok)
    }
    h.deleteTree(ns)
    round
  }

  /** Direct calls on the round's batch over a copy of the template
    * warehouse, each under its own job group: the exact probe and the
    * MinHash probe over its survivors (both read-only), then
    * `CorpusIngest.ingestBatch`, then the two store appends of the accepted
    * documents into a scratch warehouse (appends read nothing, so this is
    * the same work the ingest call did). */
  def layerReplay(h: Harness): Map[String, Double] = {
    val spark = h.spark
    val ns = h.dir("replay")
    h.copyTree(template, s"$ns/warehouse")
    val sink = new WarehouseSink(s"$ns/warehouse")
    val scratch = new WarehouseSink(s"$ns/scratch")
    val exactMs, mhMs, ingestMs, appendMs = mutable.ArrayBuffer.empty[Double]
    var accepted, rejExact, rejNear, bucketsRead = 0L
    var sinkBytes, sinkFiles = 0L
    paths.tail.foreach { p =>
      val batch = spark.read.schema(Schema).parquet(p)
      val n = h.inGroup("bench:replay")(batch.count())
      bucketsRead += h.inGroup("bench:replay")(batch
        .select(md5(col("text")).as("h"))
        .select(WarehouseSink.bucketPartition(Seq("h"), NumBuckets)).distinct().count())
      val (probe, ms1) = h.inGroup("layer:exact")(h.timeMs {
        val r = Dedup.dedupIncremental(batch, spark, sink, "fingerprints", NumBuckets)
        r.count()
        r
      })
      exactMs += ms1
      val survivors = h.inGroup("bench:replay")(
        batch.join(probe.filter(col("dup_of") === -1L).select("doc_id"), "doc_id")
          .localCheckpoint())
      val nExact = h.inGroup("bench:replay")(survivors.count())
      mhMs += h.inGroup("layer:minhash")(h.timeMs(Dedup.dedupIncrementalMinhash(
        survivors, spark, sink, "minhash_bands", Tau, NumBuckets).count()))._2
      val before = h.walk(sink.warehousePath)
      val (acc, ms) = h.inGroup("layer:ingest")(h.timeMs(CorpusIngest.ingestBatch(spark, sink,
        batch, numBuckets = NumBuckets, nearDupMinEstSim = Some(Tau))))
      ingestMs += ms
      val fresh = h.walk(sink.warehousePath).filter { case (f, _) =>
        !before.contains(f) && f.contains("part_bucket=") && !f.endsWith(".crc") }
      sinkBytes += fresh.values.sum
      sinkFiles += fresh.size
      val kept = h.inGroup("bench:replay")(batch.join(
        sink.read(spark, "corpus").select("doc_id"), "doc_id").localCheckpoint())
      appendMs += h.inGroup("layer:append")(h.timeMs {
        Dedup.buildMinhashStore(kept, scratch, "minhash_bands", NumBuckets, append = true)
        Dedup.buildFingerprintStore(kept, scratch, "fingerprints", NumBuckets, append = true)
      })._2
      accepted += acc
      rejExact += n - nExact
      rejNear += nExact - acc
    }
    val corpusFiles = h.walk(sink.tablePath("corpus")).filter { case (f, _) =>
      f.contains("part_bucket=") && !f.endsWith(".crc") }
    val perPart = corpusFiles.keys.groupBy(_.takeWhile(_ != '/')).values.map(_.size)
    val reads = (1 to 5).map { i =>
      val g = s"layer:read$i"
      val t0 = System.currentTimeMillis()
      val (_, ms) = probeSet(h, sink, g)
      h.barrier()
      (ms, h.recorder.stagesIn(_ == g, t0, System.currentTimeMillis()).map(_.inputBytes).sum)
    }
    val filesOpened = h.inGroup("bench:replay") {
      Trace.filesRead(sink.read(spark, "corpus")
        .filter(col("part_bucket") === probeIds.head._2 && col("doc_id") === probeIds.head._1)) +
        Trace.filesRead(sink.read(spark, "corpus").agg(count(lit(1))))
    }
    val out = Map(
      "ingest.batch_ms_p50" -> Stats.median(ingestMs.toSeq),
      "dedup.exact_probe_ms" -> Stats.median(exactMs.toSeq),
      "dedup.minhash_probe_ms" -> Stats.median(mhMs.toSeq),
      "dedup.store_append_ms" -> Stats.median(appendMs.toSeq),
      "dedup.store_buckets_read" -> bucketsRead.toDouble / (paths.size - 1),
      "ingest.accepted" -> accepted.toDouble,
      "ingest.rejected_exact" -> rejExact.toDouble,
      "ingest.rejected_near" -> rejNear.toDouble,
      "sink.bytes_written" -> sinkBytes.toDouble,
      "sink.files_written" -> sinkFiles.toDouble,
      "sink.files_per_partition_max" -> (if (perPart.isEmpty) 0.0 else perPart.max.toDouble),
      "sink.table_bytes" -> corpusFiles.values.sum.toDouble,
      "sink.read_ms_p50" -> Stats.median(reads.map(_._1)),
      "sink.read_files_opened" -> filesOpened.toDouble,
      "sink.read_bytes" -> Stats.median(reads.map(_._2.toDouble)))
    h.deleteTree(ns)
    out
  }
}

object CorpusIngestWl {
  /** P(Binomial(n, p) >= k). */
  def binomTail(n: Int, p: Double, k: Int): Double =
    (k to n).map { i =>
      math.exp(logChoose(n, i) + i * math.log(p) + (n - i) * math.log1p(-p))
    }.sum

  private def logChoose(n: Int, k: Int): Double =
    (1 to k).map(i => math.log((n - k + i).toDouble / i)).sum

  /** Lower bound on the expected share of light edits rejected, minus four
    * standard deviations. An edit with shingle Jaccard J to its (always
    * accepted) original becomes a candidate with P = 1-(1-J^4)^16 (16 bands
    * of 4 MinHash rows) and passes the verify step when at least
    * ceil(64·tau) of 64 hashes agree; both events rise with the same
    * per-hash agreements, so their joint probability is at least the
    * product (Harris inequality). */
  def recallFloor(js: Seq[Double], tau: Double): Double = {
    if (js.isEmpty) return 0.0
    val need = math.ceil(64 * tau - 1e-9).toInt
    val ps = js.map { j =>
      if (j >= 1.0) 1.0
      else if (j <= 0.0) 0.0
      else (1 - math.pow(1 - math.pow(j, 4), 16)) * binomTail(64, j, need)
    }
    val mean = ps.sum / ps.size
    val sd = math.sqrt(ps.map(p => p * (1 - p)).sum) / ps.size
    math.max(0.0, mean - 4 * sd)
  }
}
