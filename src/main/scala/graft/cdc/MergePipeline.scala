package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{BucketStore, CreateDisposition, WarehouseSink, WriteDisposition}

/** Incremental changelog → snapshot MERGE on top of the partitioned
  * warehouse — the scale-safe replacement for recomputing the snapshot
  * from the full changelog (the reference's server-side BigQuery MERGE of
  * `_CHANGE_TYPE` UPSERT/DELETE rows, StreamBigqueryChangeConsumer
  * .java:186-266).
  *
  * The snapshot table is partitioned by a stable key-hash bucket
  * (`part_bucket`), so per batch the cost is O(batch + touched buckets),
  * NOT O(history):
  *  1. one shuffle-free job over the cached batch
  *     ([[BucketStore.summarize]], shared with every bucketed
  *     store's probe) yields its row count and the set of buckets it
  *     touches (≤ numBuckets values, a bit set per task);
  *  2. ONLY those snapshot buckets are read back — `part_bucket IN (...)`
  *     prunes directories at planning time, and because a key's bucket is
  *     stable no stale row can hide in an unread partition;
  *  3. snapshot ∪ batch is shuffled ONCE, by `hashpartitioning(part_bucket,
  *     n)`; the latest-wins dedup groups by (part_bucket, key), which that
  *     partitioning already satisfies, so it adds no exchange, and neither
  *     does the sink's own `repartition(n, part_bucket)` (Spark drops a
  *     repartition its child's partitioning already meets); then the
  *     hard-delete filter. The dedup's sort also serves as the cluster
  *     sort, so each write task sorts once;
  *  4. dynamic partition overwrite rewrites ONLY the touched buckets.
  *
  * At 100 TB: a key-localized micro-batch touches few buckets and the
  * MERGE is proportional to the batch; a fully-spread batch degrades to
  * one table pass — never worse than the naive recompute, with the same
  * single-shuffle dedup.
  *
  * Delete semantics match the reference's hard-delete upsert
  * (`upsert-keep-deletes=false`): a key whose latest change is `d` leaves
  * the table, and — as in BigQuery's `_CHANGE_TYPE=DELETE` MERGE — a
  * LATER-arriving OLDER change would re-insert it; sources that can
  * deliver out of order across batches should use soft deletes
  * (`softDeleteSnapshot`) so the tombstone wins the dedup instead. */
object MergePipeline {

  /** Default key-hash bucket count — sized for the TEST scale, not a
    * 100 TB setting. The bucket count is a per-table LAYOUT parameter
    * (`mergeBatch(..., numBuckets = n)`): size it so one bucket holds
    * ≲1 GB at the table's expected volume (a 100 TB snapshot wants
    * O(10⁵) buckets), because every MERGE rewrites each touched bucket
    * whole. It must stay CONSTANT for the life of the table — a key's
    * bucket is its partition, so changing the count moves keys across
    * partitions and strands stale rows; resizing = one full re-shuffle
    * rewrite into a fresh table directory with the new count. */
  val DefaultNumBuckets = 32

  /** Default latest-wins ordering: (source ts, op priority, tie-break id) —
    * the reference's `compareByTsThenOp` over its default columns
    * (StreamBigqueryChangeConsumer.java:238-256). */
  def defaultOrdering: Seq[Column] =
    Seq(col("__source_ts_ms"), Cdc.opPriorityCol(col("__op")), col("event_id"))

  /** Ordering from the reference's config surface
    * (StreamConsumerConfig.java:75-80): `upsert-dedup-column` names the
    * timestamp column compared first, `upsert-op-column` (default `__op`)
    * the column whose c/r/u/d priority breaks ts ties. `tieBreak` columns
    * (graft addition) make the winner deterministic when both agree —
    * the reference leaves that to sort stability.
    *
    * Scope: `opColumn` renames the column used for ORDERING only.
    * [[mergeBatch]]'s delete filter (`keepDeletes=false` dropping
    * `__op='d'` rows) always reads the literal `__op` — the same
    * hard-coding the reference has (StreamRecordConverter.java:84 writes
    * `__op` unconditionally; `upsert-op-column` there also only feeds the
    * dedup ORDER BY). A stream whose op column is genuinely renamed must
    * keep `keepDeletes=true` or carry an `__op` alias. */
  def configOrdering(dedupColumn: String, opColumn: String = "__op",
                     tieBreak: Seq[String] = Nil): Seq[Column] =
    Seq(col(dedupColumn), Cdc.opPriorityCol(col(opColumn))) ++ tieBreak.map(col)

  /** MERGE one flattened batch into `table`, keyed by `keyCols`,
    * latest-wins by (source ts, op priority, tie-break id). Rows cluster
    * within buckets on the reference's capped clustering fields
    * ([[WarehouseSink.clusteringColumns]]).
    *
    * @param keepDeletes `upsert-keep-deletes` (StreamConsumerConfig
    *                    .java:74-76): true keeps the last row of a deleted
    *                    key flagged (`__op='d'`, soft delete — also the
    *                    safe mode for out-of-order sources, the tombstone
    *                    keeps winning the dedup); false drops it (hard
    *                    delete, reference default).
    * @param numBuckets  per-table bucket count (see [[DefaultNumBuckets]]
    *                    for sizing; constant per table).
    * @param ordering    latest-wins ordering (the reference's
    *                    `upsert-dedup-column`/`upsert-op-column`,
    *                    StreamConsumerConfig.java:75-80 — build one with
    *                    [[configOrdering]]); defaults to
    *                    [[defaultOrdering]]. */
  def mergeBatch(spark: SparkSession, sink: WarehouseSink, table: String,
                 batch: DataFrame, keyCols: Seq[String],
                 keepDeletes: Boolean = false,
                 numBuckets: Int = DefaultNumBuckets,
                 ordering: Seq[Column] = defaultOrdering): Unit = {
    val clusterCols = WarehouseSink.clusteringColumns(keyCols)
    if (!sink.tableExists(table))
      mergeBuckets(spark, sink, table, batch, Set.empty, keyCols, clusterCols,
        ordering, keepDeletes, numBuckets)
    else {
      // the batch is read twice (bucket discovery, then the MERGE) —
      // persist it so the source computes once
      val cached = batch.persist()
      try {
        val s = BucketStore.summarize(cached, keyCols, numBuckets)
        if (s.rows > 0)
          mergeBuckets(spark, sink, table, cached, s.buckets, keyCols,
            clusterCols, ordering, keepDeletes, numBuckets)
      } finally cached.unpersist()
    }
  }

  /** The bucket MERGE behind [[mergeBatch]], the CDC stream and the
    * corpus upsert: `batch` (already cached by the caller, and the
    * buckets it `touched` already known — see [[BucketStore.summarize]])
    * is merged into `table`, latest-wins per key by `ordering`. With
    * `incomingWins`, any batch row beats any stored row of its key and
    * `ordering` only picks among the batch's own rows. When the table
    * does not exist yet, `touched` is unused and the batch alone is
    * deduped and written.
    *
    * One shuffle: stored rows of the touched buckets ∪ batch rows are
    * repartitioned by `part_bucket` into the session's
    * `spark.sql.shuffle.partitions`, the dedup groups by (part_bucket,
    * key) on that partitioning, and the sink's write repartition is
    * elided. The output keeps the layout (keys, payload, `part_bucket`)
    * and the cluster order, so the written files do not change. */
  private[graft] def mergeBuckets(spark: SparkSession, sink: WarehouseSink,
                                  table: String, batch: DataFrame,
                                  touched: Set[Int], keyCols: Seq[String],
                                  clusterCols: Seq[String],
                                  ordering: Seq[Column], keepDeletes: Boolean,
                                  numBuckets: Int,
                                  incomingWins: Boolean = false): Unit = {
    val exists = sink.tableExists(table)
    val bucket = WarehouseSink.bucketPartition(keyCols, numBuckets)
    val incoming = batch.withColumn("part_bucket", bucket)
    val all =
      if (!exists) incoming
      else {
        val existing = sink.read(spark, table)
          .filter(col("part_bucket").isin(touched.toSeq.sorted.map(b => lit(b)): _*))
        if (incomingWins)
          existing.withColumn("__incoming", lit(false))
            .unionByName(incoming.withColumn("__incoming", lit(true)))
        else existing.unionByName(incoming)
      }
    val order = if (incomingWins && exists) col("__incoming") +: ordering else ordering
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val deduped = Cdc.dedupLatest(all.repartition(n, col("part_bucket")),
      "part_bucket" +: keyCols, order)
    val payload = deduped.columns.filterNot(c =>
      c == "part_bucket" || c == "__incoming" || keyCols.contains(c)).toSeq
    val merged = (if (keepDeletes) deduped else deduped.filter(col("__op") =!= "d"))
      .select((keyCols ++ payload :+ "part_bucket").map(col): _*)
    // a key is one row per bucket now, so cluster columns that only
    // extend the full key order rows exactly as the key does: sorting on
    // the key lets Spark reuse the dedup's sort (its output is ordered by
    // (part_bucket, key)) instead of a second sort, and its memory page,
    // in the same task
    val sortCols = if (clusterCols.startsWith(keyCols)) keyCols else clusterCols
    if (!exists) sink.write(merged, table, "part_bucket", sortCols)
    else {
      // Dynamic overwrite only rewrites partitions PRESENT in the output.
      // A bucket whose every key ended deleted has no output rows, so its
      // stale files would survive — those partition dirs are dropped
      // explicitly below. The written-bucket set is observed INSIDE the
      // write job (CollectMetrics over ≤ numBuckets values): no second
      // pass over `merged`, and with its single consumer gone, no persist
      // of it either.
      val obs = org.apache.spark.sql.Observation(s"merge_$table")
      sink.write(merged.observe(obs, collect_set(col("part_bucket")).as("w")),
        table, "part_bucket", sortCols,
        createDisposition = CreateDisposition.CreateNever,
        writeDisposition = WriteDisposition.WriteAppend,
        dynamicOverwrite = true)
      // Missing metrics ⇔ the write ran ZERO tasks ⇔ merged was empty
      // (CollectMetrics emits its row whenever any task runs, and
      // Observation.get returns only after the action's listener fired) —
      // so the fallback is the empty set. Do NOT re-execute `merged`
      // here: its plan reads the snapshot through a file index listed
      // BEFORE the dynamic overwrite replaced those files.
      val written = scala.util.Try(obs.get("w").asInstanceOf[Seq[Int]].toSet)
        .getOrElse(Set.empty[Int])
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      (touched -- written).foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"${sink.tablePath(table)}/part_bucket=$b"), true)
      }
    }
  }

  /** Driver-contract query: split `events` at `cutoff`, seed the warehouse
    * with the older half, MERGE the newer half through the partitioned
    * sink, read the final table back. Result is provably equal to
    * `upsertSnapshot` over the whole changelog (same oracle SQL), but the
    * MERGE itself read only the touched buckets. */
  def mergePartitionedQ(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.Tables.events(spark, dir)
    val cutoff = lit("2024-01-15").cast("timestamp")
    // The snapshot warehouse is seeded ONCE per session with the older
    // half ([[graft.state.SessionStores]]); each invocation then MERGEs
    // the newer half — the steady state a CDC pipeline runs in, instead
    // of re-bootstrapping into a fresh leaked temp dir every call.
    // Re-merging the same batch is IDEMPOTENT here: the split column
    // (`ts`) IS the ordering's first column (`__source_ts_ms`,
    // Cdc.flatten), so any key present in the newer batch has its
    // overall-latest change there — latest-wins picks the same winners
    // and a hard-deleted key's tombstone keeps winning (the out-of-order
    // resurrection hazard documented above cannot occur on this split).
    val sink = graft.state.SessionStores.warehouse("warehouse", dir)(s =>
      mergeBatch(spark, s, "events_snapshot",
        Cdc.flatten(events.filter(col("ts") < cutoff)), Seq("user_id")))
    mergeBatch(spark, sink, "events_snapshot",
      Cdc.flatten(events.filter(col("ts") >= cutoff)), Seq("user_id"))
    sink.read(spark, "events_snapshot")
      .select("event_id", "user_id", "event_type", "value", "ts", "prop_k",
        "__op", "__ts_ms", "__source_ts_ms", "__deleted")
  }
}
