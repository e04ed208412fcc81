package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.MergePipeline
import graft.sinks.{BucketStore, WarehouseSink}
import graft.state.OffsetStore

/** The continuous consume → convert → upsert loop of the reference
  * (BaseChangeConsumer.java:139 `handleBatch` → :204 `uploadDestination`),
  * re-expressed as Structured Streaming: a file source feeds micro-batches
  * into a `foreachBatch` MERGE through the partitioned warehouse sink,
  * with the offset store checkpointing progress per batch (the analog of
  * `BigqueryOffsetBackingStore` alongside Spark's own checkpoint).
  *
  * Throttling: `maxFilesPerTrigger` bounds batch size and the
  * processing-time trigger sets the base cadence; on top of those,
  * `start(throttle = ...)` accepts any [[BatchSizeWait]] strategy —
  * [[NoBatchSizeWait]] (the reference's default, and ours),
  * [[MaxBatchSizeWait]] (fill-or-timeout) or [[DynamicBatchSizeWait]]
  * (the banded controller) — consulted in the live loop at the
  * reference's position: after each upload, before the next poll.
  *
  * Scale: each micro-batch runs the bucket-pruned MERGE (O(batch +
  * touched buckets)); state between batches lives in the warehouse layout,
  * not executor memory, so the stream restarts from checkpoints with no
  * state rebuild. */
object CdcStream {

  /** Start the pipeline over a directory of flattened-changelog parquet
    * files (each new file = one CDC batch).
    *
    * @param availableNow drain all pending input then stop (test/batch
    *                     catch-up mode); otherwise run continuously with a
    *                     processing-time trigger.
    * @param throttle     batch-size-wait strategy, consulted INSIDE the
    *                     consume loop as the reference does
    *                     (BaseChangeConsumer.handleBatch calls
    *                     `batchSizeWait.waitMs(...)` after each upload):
    *                     each micro-batch's observed size feeds the
    *                     strategy, which blocks before the next trigger
    *                     fires — small batches slow the poll cadence
    *                     down, full batches speed it up. Defaults to
    *                     [[NoBatchSizeWait]], matching the reference's
    *                     default strategy.
    * @param numBuckets   snapshot-table bucket count (see
    *                     [[MergePipeline.DefaultNumBuckets]]).
    * @param ordering     latest-wins dedup ordering — the reference's
    *                     `upsert-dedup-column` / `upsert-op-column`
    *                     (StreamConsumerConfig.java:75-80); build one with
    *                     [[MergePipeline.configOrdering]]. Defaults to
    *                     [[MergePipeline.defaultOrdering]].
    */
  def start(spark: SparkSession,
            inputDir: String,
            schema: StructType,
            sink: WarehouseSink,
            table: String,
            keyCols: Seq[String],
            checkpointDir: String,
            offsets: OffsetStore,
            availableNow: Boolean = true,
            maxFilesPerTrigger: Int = 1,
            triggerMs: Long = 1000L,
            keepDeletes: Boolean = false,
            throttle: BatchSizeWait = NoBatchSizeWait,
            numBuckets: Int = MergePipeline.DefaultNumBuckets,
            ordering: Seq[org.apache.spark.sql.Column] =
              MergePipeline.defaultOrdering): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    mergeLoop(spark, src, sink, table, keyCols, checkpointDir, offsets,
      availableNow, triggerMs, keepDeletes, throttle, numBuckets,
      ordering = ordering)
  }

  /** Wire-format variant of [[start]]: the input directory holds
    * JSON-LINES files — one Debezium change event payload per line, the
    * format the reference's consumers receive from `event.value()` —
    * with the Connect schema document supplied once per stream, exactly
    * the `(valueSchema, payload)` pair `BaseRecordConverter` works from.
    * Each micro-batch is converted through [[TypeMap.convert]] (schema
    * parsed ONCE on the driver; per-row work is one codegen'd
    * `from_json` + semantic casts) and feeds the same MERGE loop.
    *
    * A reference user's migration path is therefore: point this at the
    * directory their Debezium file sink writes, hand over the connector's
    * value schema, keep the table/key config — no format conversion
    * step. */
  def startJson(spark: SparkSession,
                inputDir: String,
                schemaJson: String,
                sink: WarehouseSink,
                table: String,
                keyCols: Seq[String],
                checkpointDir: String,
                offsets: OffsetStore,
                availableNow: Boolean = true,
                maxFilesPerTrigger: Int = 1,
                triggerMs: Long = 1000L,
                keepDeletes: Boolean = false,
                throttle: BatchSizeWait = NoBatchSizeWait,
                numBuckets: Int = MergePipeline.DefaultNumBuckets,
                nestedAsJson: Boolean = false,
                deadLetterTable: Option[String] = None,
                metricsTable: Option[String] = None,
                ignoreUnknownFields: Boolean = true,
                ordering: Seq[org.apache.spark.sql.Column] =
                  MergePipeline.defaultOrdering): StreamingQuery = {
    // strict mode's whole contract is QUARANTINE: without a dead-letter
    // table the unknown-field records would be silently dropped into the
    // lenient path — fail loudly instead of ignoring the caller's ask
    require(ignoreUnknownFields || deadLetterTable.isDefined,
      "ignoreUnknownFields=false requires a deadLetterTable to route " +
        "the rejected records")
    val src = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(inputDir)
    val converted = deadLetterTable match {
      case Some(_) => graft.cdc.TypeMap.convertWithRejects(src, schemaJson,
        requiredCols = keyCols, valueCol = "value", nestedAsJson = nestedAsJson,
        ignoreUnknownFields = ignoreUnknownFields)
      case None => graft.cdc.TypeMap.convert(src, schemaJson,
        valueCol = "value", nestedAsJson = nestedAsJson)
    }
    mergeLoop(spark, converted, sink, table, keyCols, checkpointDir, offsets,
      availableNow, triggerMs, keepDeletes, throttle, numBuckets,
      deadLetterTable, metricsTable, ordering)
  }

  /** The shared consume→MERGE→offset→throttle loop behind [[start]] and
    * [[startJson]]. With `deadLetterTable`, rows flagged `__rejected`
    * (unparseable / key-less events) are appended there with their raw
    * line + reason + batch id instead of reaching the MERGE; with
    * `metricsTable`, every batch appends one (batch_id, n_rows,
    * n_rejected, wait_ms, wall_ms) row — the per-upload stats the
    * reference logs, queryable instead of greppable.
    *
    * Each micro-batch is cached once and read by ONE shuffle-free job
    * ([[BucketStore.summarize]]) that yields its accepted and rejected
    * counts and the buckets its accepted rows touch; metrics, the
    * throttle and the MERGE's bucket pruning all read that summary, so
    * none of them costs a pass of its own. */
  private def mergeLoop(spark: SparkSession, src: DataFrame,
                        sink: WarehouseSink, table: String,
                        keyCols: Seq[String], checkpointDir: String,
                        offsets: OffsetStore, availableNow: Boolean,
                        triggerMs: Long, keepDeletes: Boolean,
                        throttle: BatchSizeWait,
                        numBuckets: Int,
                        deadLetterTable: Option[String] = None,
                        metricsTable: Option[String] = None,
                        ordering: Seq[org.apache.spark.sql.Column] =
                          MergePipeline.defaultOrdering): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, lit}
    val writer = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        val split = deadLetterTable.isDefined
        // cached once: the summary pass fills the cache that the
        // dead-letter write and the MERGE both read
        val cached = batch0.persist()
        try {
          val summary = BucketStore.summarize(cached, keyCols, numBuckets,
            rejectedCol = if (split) Some("__rejected") else None)
          deadLetterTable.foreach { dl =>
            val bad = cached.filter(col("__rejected"))
              .select(col("__raw").as("raw"),
                col("__reject_reason").as("reason"),
                lit(batchId).as("batch_id"))
            // dynamic overwrite of THIS batch's partition: a replayed
            // batch (crash between these writes and the checkpoint
            // commit) rewrites its own rows instead of appending
            // duplicates — the same replay-idempotence the MERGE gives
            // the main table
            if (summary.rejected > 0) sink.write(bad, dl, "batch_id", Nil,
              dynamicOverwrite = true)
          }
          val batch =
            if (split)
              cached.filter(!col("__rejected"))
                .drop("__raw", "__reject_reason", "__rejected")
            else cached
          if (summary.rows > 0)
            MergePipeline.mergeBuckets(spark, sink, table, batch,
              summary.buckets, keyCols, WarehouseSink.clusteringColumns(keyCols),
              ordering, keepDeletes, numBuckets)
          offsets.put(Map(s"stream/$table" -> batchId.toString))
          // reference loop position: throttle AFTER the upload, before the
          // next poll (blocking foreachBatch delays the next trigger)
          val waited = throttle.waitMs(summary.rows)
          metricsTable.foreach { mt =>
            import spark.implicits._
            val wallMs = (System.nanoTime() - t0) / 1000000L
            sink.write(
              Seq((batchId, summary.rows, summary.rejected, waited, wallMs))
                .toDF("batch_id", "n_rows", "n_rejected", "wait_ms", "wall_ms"),
              mt, "batch_id", Nil, dynamicOverwrite = true)
          }
        } finally cached.unpersist()
        ()
      }
    val triggered =
      if (availableNow) writer.trigger(Trigger.AvailableNow())
      else writer.trigger(Trigger.ProcessingTime(triggerMs))
    triggered.start()
  }

  /** Multi-table variant — the reference's complete loop: each micro-batch
    * carries a destination column, is grouped per destination and MERGEd
    * into its routed table (`handleBatch` → `getTableId` →
    * `uploadDestination`). Offsets record the last batch id per stream. */
  def startRouted(spark: SparkSession,
                  inputDir: String,
                  schema: StructType,
                  sink: WarehouseSink,
                  destCol: String,
                  keyCols: Seq[String],
                  checkpointDir: String,
                  offsets: OffsetStore,
                  regexp: Option[String] = None,
                  replace: Option[String] = None,
                  availableNow: Boolean = true,
                  maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val tables = graft.cdc.Router.routeAndWrite(
          spark, sink, batch, destCol,
          graft.cdc.Router.UpsertMode(keyCols), regexp, replace)
        offsets.put(
          tables.map(t => s"stream/$t" -> batchId.toString).toMap)
      }
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(1000L))
      .start()
  }
}

/** Strategy interface for optimizing batch sizes, mirroring the
  * reference's `batchsizewait/BatchSizeWait.java:17-22` (`waitMs(
  * numRecordsProcessed, processingTimeMs)` — void, blocks per strategy).
  * Graft's shape: [[waitMs]] blocks as the strategy dictates after a
  * batch of `observedBatchSize` records and returns the millis waited
  * (the reference returns void; the return value serves tests and
  * metrics). Any implementation plugs into [[CdcStream.start]]'s
  * `throttle` parameter — the selectable surface the reference exposes
  * via its `debezium.sink.batch.batch-size-wait` config. */
trait BatchSizeWait {
  /** Block per strategy; returns total milliseconds waited. */
  def waitMs(observedBatchSize: Long): Long
}

/** Pass-through throttle — the reference's default
  * (batchsizewait/NoBatchSizeWait.java: `waitMs` returns immediately). */
object NoBatchSizeWait extends BatchSizeWait {
  def waitMs(observedBatchSize: Long): Long = 0L
}

/** Fill-or-timeout throttle — the reference's MaxBatchSizeWait
  * (batchsizewait/MaxBatchSizeWait.java:58-67): poll the source's queued
  * size every `waitIntervalMs` until it reaches `maxBatchSize` or
  * `maxWaitMs` has elapsed, skipping entirely while a snapshot runs.
  * Engine-agnostic: the `queuedSize`/`snapshotRunning` suppliers abstract
  * the Debezium metrics the reference polls (in a Spark pipeline, e.g.
  * pending files or source lag) and are bound at construction so the
  * strategy fits the common [[BatchSizeWait]] interface; `sleep` is
  * injectable so tests run without wall-clock waits. */
class MaxBatchSizeWait(val maxBatchSize: Int, val maxWaitMs: Long,
                       val waitIntervalMs: Long,
                       queuedSize: () => Long = () => 0L,
                       snapshotRunning: () => Boolean = () => false,
                       sleep: Long => Unit = Thread.sleep)
    extends BatchSizeWait {
  require(waitIntervalMs <= maxWaitMs,
    "wait-interval-ms cannot be bigger than max-wait-ms")

  /** Trait entry point: the observed batch size is irrelevant to this
    * strategy (the reference's MaxBatchSizeWait ignores
    * `numRecordsProcessed` too) — it watches the queue suppliers. */
  def waitMs(observedBatchSize: Long): Long = waitMs(queuedSize, snapshotRunning)

  /** Supplier-explicit variant (reference semantics, used by tests). */
  def waitMs(queued: () => Long,
             snapshot: () => Boolean = () => false): Long = {
    if (snapshot()) return 0L
    var totalWaitMs = 0L
    while (totalWaitMs < maxWaitMs && queued() < maxBatchSize) {
      totalWaitMs += waitIntervalMs
      sleep(waitIntervalMs)
    }
    totalWaitMs
  }
}

/** Dynamic batch-size throttle — the reference's DynamicBatchSizeWait
  * computation exactly (batchsizewait/DynamicBatchSizeWait.java:35-81):
  * a banded controller over a 3-sample moving average of batch sizes that
  * targets 85-90% of `maxBatchSize`. Fill ≥97/95/90% multiplies the last
  * sleep by 0.50/0.65/0.80; 85-90% holds it; below 85% the sleep grows
  * proportionally (`last × max/observed`). Sleeps clamp to
  * [100 ms, maxWaitMs]; empty polls repeat the last sleep unchanged.
  * Engine-agnostic: feed it each batch's size and it sleeps the computed
  * millis before the next poll ([[nextWaitMs]] exposes the pure
  * computation for tests; `sleep` is injectable). */
class DynamicBatchSizeWait(val maxBatchSize: Int, val maxWaitMs: Long,
                           sleep: Long => Unit = Thread.sleep)
    extends BatchSizeWait {
  private val batchSizeHistory = scala.collection.mutable.Queue(1L, 1L, 1L)
  private val sleepMsHistory = scala.collection.mutable.Queue(100L, 100L, 100L)

  def waitMs(observedBatchSize: Long): Long = {
    val ms = nextWaitMs(observedBatchSize)
    if (ms > 0) sleep(ms)
    ms
  }

  /** The banded-controller computation alone — no blocking. */
  def nextWaitMs(observedBatchSize: Long): Long = {
    if (observedBatchSize <= 0) return sleepMsHistory.last
    batchSizeHistory.enqueue(observedBatchSize)
    batchSizeHistory.dequeue()
    val fill = batchSizeHistory.sum.toDouble / batchSizeHistory.size / maxBatchSize
    val last = sleepMsHistory.last
    val sleepMs =
      if (fill >= 0.97) (last * 0.50).toLong
      else if (fill >= 0.95) (last * 0.65).toLong
      else if (fill >= 0.90) (last * 0.80).toLong
      else if (fill >= 0.85) return last
      else last * maxBatchSize / observedBatchSize
    sleepMsHistory.enqueue(math.min(math.max(sleepMs, 100L), maxWaitMs))
    sleepMsHistory.dequeue()
    sleepMsHistory.last
  }

  def currentWaitMs: Long = sleepMsHistory.last
}
