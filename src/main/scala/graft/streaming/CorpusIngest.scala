package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.llm.Dedup
import graft.sinks.WarehouseSink
import graft.state.OffsetStore

/** Continuous corpus ingestion with incremental dedup — the reference's
  * consume → convert → upsert loop ([[CdcStream]]) applied to the LLM
  * data pipeline: each micro-batch of NEW documents is deduped against
  * the persistent fingerprint store ([[Dedup.dedupIncremental]]), the
  * accepted docs land in the corpus table, and the accepted docs'
  * fingerprints roll the store forward — so the NEXT batch (and the next
  * run) dedups against everything ever ingested without re-reading any
  * corpus text.
  *
  * Scale shape per batch: O(batch) hashing map-side, a store probe pruned
  * to the batch's fingerprint buckets, one partitioned append of accepted
  * docs, one store append — nothing proportional to corpus size. With
  * near-dup rejection on, the exact survivors are signed ONCE (shingle →
  * MinHash → band rows, persisted): those rows probe the band store and,
  * cut to the final survivors by a `left_semi` on doc_id, are the
  * band-store append. The stream loop reads each micro-batch from its
  * file(s) once — its metrics count fills the cache the probes read.
  * At a few hundred docs per batch the cost is per-job fixed cost, not
  * data: one near-dup batch over existing stores runs ~46 Spark jobs
  * (most of them AQE query stages; CorpusIngestSpec pins the budget).
  * State across restarts is carried by the checkpoint + the store
  * layout, not executor memory (the [[CdcStream]] restart discipline). */
object CorpusIngest {

  /** Idempotent keyed upsert of documents: the corpus table is
    * bucket-partitioned by hash(doc_id); each write unions the touched
    * buckets with the incoming docs and dedups on doc_id before a
    * dynamic overwrite. Re-running the same write converges to the same
    * table — the property the crash-replay story below rests on. */
  private def upsertDocs(spark: SparkSession, sink: WarehouseSink,
                         table: String, docs: DataFrame,
                         numBuckets: Int): Unit = {
    val bucket = WarehouseSink.bucketPartition(Seq("doc_id"), numBuckets)
    if (!sink.tableExists(table)) {
      sink.write(docs.withColumn("part_bucket", bucket), table,
        "part_bucket", Seq("doc_id"))
    } else {
      val touched = docs.select(bucket.as("b")).distinct()
        .collect().map(_.getInt(0))
      val existing = sink.read(spark, table)
        .filter(col("part_bucket").isin(touched.toIndexedSeq.map(b => lit(b)): _*))
        .drop("part_bucket")
      val merged = existing.unionByName(docs).dropDuplicates("doc_id")
        .withColumn("part_bucket", bucket)
      sink.write(merged, table, "part_bucket", Seq("doc_id"),
        createDisposition = graft.sinks.CreateDisposition.CreateNever,
        writeDisposition = graft.sinks.WriteDisposition.WriteAppend,
        dynamicOverwrite = true)
    }
  }

  /** One ingestion step, shared by the stream loop and batch backfills:
    * dedup `batch` against the exact-fingerprint store — and, when
    * `nearDupMinEstSim` / `embedTau` are set, against the MinHash band
    * store and/or the vector LSH store too (the full incremental-store
    * trilogy) — UPSERT survivors into the doc_id-bucketed `corpusTable`,
    * and roll every enabled store forward with the survivors. Returns
    * the accepted count.
    *
    * With `embedTau` set, the batch must carry `embedCol`
    * (array&lt;float&gt;/&lt;double&gt;); it probes
    * [[graft.llm.Ann.dedupEmbedIncremental]] keyed by doc_id. Pairs from
    * every enabled near-dup source pool into ONE rejection pass, so a
    * doc similar to the corpus under either measure is rejected once.
    *
    * Near-dup rejection is GREEDY keep-first: a batch doc is rejected if
    * it pairs (est_sim ≥ the threshold) with any corpus doc, or with a
    * smaller-id batch doc that the corpus itself keeps — a batch partner
    * rejected by the corpus cannot act as a doc's surviving
    * representative (ADVICE r5: otherwise content vanished with no
    * keeper on either side). Within-batch CHAINS (A<B<C, A~B, B~C, B
    * corpus-clean) remain the streaming approximation: C defers to B
    * even though B defers to A — exact transitive treatment needs the
    * offline [[Dedup.dedupedCorpus]] pass.
    *
    * Replay safety (foreachBatch re-runs a batch after any crash): the
    * corpus write is a keyed UPSERT — replaying it converges — and the
    * EXACT store (whose hashes decide acceptance) commits LAST, so a
    * replay after any partial crash still sees the survivors as new and
    * re-runs every earlier write idempotently. The minhash and embed
    * appends sit between: their replay can duplicate band rows, which
    * the probes' pair-level dedup makes harmless (benign store growth,
    * compactable by a rebuild). Crash after everything → replay accepts
    * nothing and rewrites nothing. */
  def ingestBatch(spark: SparkSession, sink: WarehouseSink, batch: DataFrame,
                  corpusTable: String = "corpus",
                  fpTable: String = "fingerprints",
                  numBuckets: Int = 32,
                  nearDupMinEstSim: Option[Double] = None,
                  mhTable: String = "minhash_bands",
                  embedTau: Option[Double] = None,
                  embedTable: String = "embed_lsh",
                  embedCol: String = "embedding",
                  useBloom: Boolean = false): Long = {
    // a caller that already persisted the batch (the stream loop below)
    // keeps ownership of its cache
    val owned = batch.storageLevel == StorageLevel.NONE
    val cached = if (owned) batch.persist() else batch
    // with `useBloom`, the exact probe goes through the versioned Bloom
    // sidecar (novel-content batches read zero store buckets); a stale
    // sidecar — e.g. a crash landed between the store append and the
    // sidecar rebuild below — fails its freshness check and the probe
    // falls back to the unpruned path, so replay stays convergent
    val probe =
      if (useBloom)
        Dedup.dedupIncrementalBloom(cached, spark, sink, fpTable, numBuckets)
      else Dedup.dedupIncremental(cached, spark, sink, fpTable, numBuckets)
    val accepted = probe
      .filter(col("dup_of") === -1L)
      .select("doc_id")
    val exactSurvivors = cached.join(accepted, "doc_id").persist()
    // the exact survivors are signed ONCE: the band rows feed the probe
    // and, cut to the final survivors, the band-store append
    val bands = nearDupMinEstSim.map(_ =>
      Dedup.minhashBandRows(exactSurvivors, numBuckets).persist())
    // dedupIncremental's result is materialized (Exec.materialize), so
    // the store appends below cannot observe this batch's own writes;
    // the minhash probe's pair frame is materialized the same way
    val nearPairSources = Seq(
      nearDupMinEstSim.map { tau =>
        Dedup.probeMinhashBands(bands.get, spark, sink, mhTable, tau)
          .select(col("doc_a"), col("doc_b"))
      },
      embedTau.map { tau =>
        graft.llm.Ann.dedupEmbedIncremental(
          exactSurvivors.select(col("doc_id").as("vec_id"), col(embedCol)),
          spark, sink, embedTable, tau, numBuckets = numBuckets)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      }).flatten
    val (survivors, dirPairs) = nearPairSources match {
      case Nil => (exactSurvivors, None)
      case srcs =>
        val pairs = srcs.reduce(_ unionByName _)
        val batchIds = exactSurvivors.select(col("doc_id"))
        // read by all three rejection branches below: cached, its joins
        // run once inside the survivors' count (unpersisted after it)
        val dirPairs = pairs
          .select(col("doc_a").as("doc_id"), col("doc_b").as("partner"))
          .unionByName(pairs
            .select(col("doc_b").as("doc_id"), col("doc_a").as("partner")))
          .join(batchIds, "doc_id")
          .join(batchIds.select(col("doc_id").as("partner"))
              .withColumn("partner_in_batch", lit(true)),
            Seq("partner"), "left")
          .persist()
        // a doc with a corpus partner is rejected outright — the corpus
        // side already holds a representative
        val corpusRejected = dirPairs.filter(col("partner_in_batch").isNull)
          .select("doc_id").distinct()
        // a smaller batch id rejects a doc only if that partner is itself
        // corpus-clean (ADVICE r5: a corpus-rejected partner cannot be
        // the doc's surviving representative)
        val batchRejected = dirPairs
          .filter(col("partner_in_batch").isNotNull && col("partner") < col("doc_id"))
          .join(corpusRejected.select(col("doc_id").as("partner")),
            Seq("partner"), "left_anti")
          .select("doc_id").distinct()
        val rejected = corpusRejected.unionByName(batchRejected).distinct()
        (exactSurvivors.join(rejected, Seq("doc_id"), "left_anti").persist(),
          Some(dirPairs))
    }
    // the count fills the survivors' cache that every write below reads
    val n = survivors.count()
    dirPairs.foreach(_.unpersist())
    if (n > 0) {
      upsertDocs(spark, sink, corpusTable, survivors, numBuckets)
      bands.foreach { b =>
        Dedup.writeMinhashBands(
          b.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"),
          sink, mhTable, append = true)
      }
      embedTau.foreach { _ =>
        graft.llm.Ann.buildEmbedStore(
          survivors.select(col("doc_id").as("vec_id"), col(embedCol)),
          sink, embedTable, numBuckets = numBuckets, append = true)
      }
      Dedup.buildFingerprintStore(survivors, sink, fpTable, numBuckets,
        append = true)
      // sidecar rebuild AFTER the store commit: aggregates the store
      // (never the corpus); a crash before this line leaves a stale
      // sidecar the next probe detects and bypasses
      if (useBloom) Dedup.buildFingerprintBloom(spark, sink, fpTable)
    }
    if (survivors ne exactSurvivors) survivors.unpersist()
    bands.foreach(_.unpersist())
    exactSurvivors.unpersist()
    if (owned) cached.unpersist()
    n
  }

  /** Start the continuous loop over a directory of document parquet files
    * (each new file = one batch of scraped/ingested docs). Offsets record
    * the last batch id, mirroring [[CdcStream.start]]. */
  def start(spark: SparkSession, inputDir: String, schema: StructType,
            sink: WarehouseSink, offsets: OffsetStore,
            checkpointDir: String,
            corpusTable: String = "corpus",
            fpTable: String = "fingerprints",
            availableNow: Boolean = true,
            maxFilesPerTrigger: Int = 1,
            triggerMs: Long = 1000L,
            nearDupMinEstSim: Option[Double] = None,
            embedTau: Option[Double] = None,
            embedCol: String = "embedding",
            metricsTable: Option[String] = None): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch is read from its file(s) once: the metrics count
        // fills the cache the ingest's probes then read
        val t0 = System.nanoTime()
        val cached = batch.persist()
        val (nIn, nAccepted) =
          try (if (metricsTable.isDefined) cached.count() else 0L,
            ingestBatch(spark, sink, cached, corpusTable, fpTable,
              nearDupMinEstSim = nearDupMinEstSim,
              embedTau = embedTau, embedCol = embedCol))
          finally cached.unpersist()
        offsets.put(Map(s"ingest/$corpusTable" -> batchId.toString))
        metricsTable.foreach { mt =>
          import spark.implicits._
          val wallMs = (System.nanoTime() - t0) / 1000000L
          // overwrite this batch's own partition so a replayed batch
          // (crash before the checkpoint commit) cannot double-count
          sink.write(
            Seq((batchId, nIn, nAccepted, wallMs))
              .toDF("batch_id", "n_in", "n_accepted", "wall_ms"),
            mt, "batch_id", Nil, dynamicOverwrite = true)
        }
        ()
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerMs))
      .start()
  }
}
