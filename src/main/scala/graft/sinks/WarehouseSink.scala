package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Create/write dispositions, mirroring the reference's BigQuery job
  * configuration (BatchBigqueryChangeConsumer.java:95-113). */
object CreateDisposition extends Enumeration {
  val CreateIfNeeded, CreateNever = Value
}
object WriteDisposition extends Enumeration {
  val WriteAppend, WriteTruncate, WriteEmpty = Value
}

/** Partitioned + clustered parquet warehouse — the local stand-in for the
  * reference's BigQuery destination (zero egress; transport is a non-goal,
  * layout semantics are the point).
  *
  * Two layouts, chosen per table by its write pattern:
  *
  *  - APPEND tables (batch mode): directory-partitioned on `part_month` =
  *    date_trunc(month, tsCol) — the reference's MONTH TimePartitioning on
  *    `__ts_ms` (BatchBigqueryChangeConsumer.java:69-70). Time filters
  *    prune partitions at planning time.
  *
  *  - KEYED SNAPSHOT tables (upsert mode): directory-partitioned on
  *    `part_bucket` = hash(primary key) mod N. A key's partition is STABLE
  *    by construction, so an incremental MERGE can read and rewrite only
  *    the buckets its batch touches and never strand a stale row in an
  *    unread partition — the property time partitions cannot give a keyed
  *    table (the reference leans on BigQuery's global server-side MERGE
  *    for this; a Spark-first design puts the key in the layout instead).
  *    The CDC MERGE and every incremental dedup/ANN store share it; the
  *    stores' writes, bucket pass and pruned reads live in [[BucketStore]].
  *
  * Both cluster (sort) rows within files on the cluster columns — the
  * reference's Clustering on PK fields + `__source_ts_ms`
  * (BatchBigqueryChangeConsumer.java:95-113) — so parquet rowgroup stats
  * skip pages on clustered predicates.
  *
  * Scale: every write is `repartition(n, partition col)` →
  * `sortWithinPartitions` → `partitionBy` — one shuffle keyed by the
  * partition column, local sorts only, so each partition value still
  * lands in exactly one file. The count `n` is the session's
  * `spark.sql.shuffle.partitions`, given explicitly: a bare
  * `repartition(col)` lets AQE coalesce a shuffle under its advisory
  * size into ONE partition, and then a single task writes every bucket
  * file one after another (a 168-row write into 32 buckets, local[4],
  * 8 interleaved runs: median ~475 ms that way, ~290 ms spread over the
  * session's 4 shuffle partitions). When the incoming frame is already
  * `hashpartitioning(partitionCol, n)` with that same n, Spark elides
  * this repartition (its child's partitioning already meets it), so the
  * write adds no shuffle: the bucket MERGE
  * ([[graft.cdc.MergePipeline.mergeBuckets]]) relies on this to run
  * union, dedup and write on one shuffle.
  * Dynamic partition overwrite rewrites only the partitions present in
  * the incoming frame — the physical primitive incremental MERGE
  * needs. */
class WarehouseSink(val warehousePath: String) {

  def tablePath(table: String): String = s"$warehousePath/$table"

  /** A table exists when it has DATA (not just commit markers): a MERGE
    * that deletes every remaining key leaves an empty directory, and the
    * next write must take the create path again. */
  def tableExists(table: String): Boolean = {
    val p = Paths.get(tablePath(table))
    Files.exists(p) && {
      val s = Files.list(p)
      try s.anyMatch { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      } finally s.close()
    }
  }

  /** Write `df` (which must already carry `partitionCol`) under the
    * partitioned + clustered layout. */
  def write(df: DataFrame, table: String,
            partitionCol: String,
            clusterCols: Seq[String],
            createDisposition: CreateDisposition.Value = CreateDisposition.CreateIfNeeded,
            writeDisposition: WriteDisposition.Value = WriteDisposition.WriteAppend,
            dynamicOverwrite: Boolean = false): Unit = {
    val exists = tableExists(table)
    if (!exists && createDisposition == CreateDisposition.CreateNever)
      throw new IllegalStateException(
        s"table $table does not exist and createDisposition=CREATE_NEVER")
    if (exists && writeDisposition == WriteDisposition.WriteEmpty)
      throw new IllegalStateException(
        s"table $table is not empty and writeDisposition=WRITE_EMPTY")

    // clustering caps at the destination's field limit, as the reference
    // does against BigQuery's 4 (extra sort keys past the cap would be
    // layout the destination cannot represent)
    val clustered = df
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col(partitionCol))
      .sortWithinPartitions(
        (partitionCol +: clusterCols.take(WarehouseSink.MaxClusterCols)).map(col): _*)

    val mode = writeDisposition match {
      case WriteDisposition.WriteTruncate => "overwrite"
      case _ if dynamicOverwrite => "overwrite"
      case _ => "append"
    }
    val writer = clustered.write
      .mode(mode)
      .partitionBy(partitionCol)
    // overwrite only the partitions present in df, not the whole table
    val w = if (dynamicOverwrite) writer.option("partitionOverwriteMode", "dynamic")
            else writer
    w.parquet(tablePath(table))
  }

  /** Read a table whose schema can evolve (the CDC snapshot, the corpus);
    * filters on the partition column prune directories at planning time
    * (PartitionFilters in explain). `mergeSchema` surfaces the union
    * schema (older files lack the newer columns → NULL) at the cost of a
    * footer-merging Spark job per read. Stores with a fixed row type pin
    * it instead and run no such job ([[BucketStore.read]]). */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(tablePath(table))

  /** Schema-evolving append against the LIVE stored table — the
    * ALLOW_FIELD_ADDITION / ALLOW_FIELD_RELAXATION behavior of the
    * reference (BatchBigqueryChangeConsumer.java:73-76,
    * StreamBigqueryChangeConsumer.updateTableSchema):
    *  - columns new in the batch extend the table (recorded in the schema
    *    history as ADD COLUMN events);
    *  - columns missing from the batch are appended as NULL (parquet
    *    columns are nullable — relaxation is inherent);
    *  - existing files are never rewritten; `read` merges footers.
    */
  def evolveAndAppend(spark: SparkSession, df: DataFrame, table: String,
                      partitionCol: String, clusterCols: Seq[String],
                      history: Option[graft.state.SchemaHistory] = None): Unit = {
    if (!tableExists(table)) {
      history.foreach(_.record(
        s"CREATE TABLE $table (${df.schema.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")})"))
      write(df, table, partitionCol, clusterCols)
    } else {
      val existing = read(spark, table).schema
      val existingNames = existing.fieldNames.toSet
      val added = df.schema.fields.filterNot(f => existingNames(f.name))
      added.foreach(f => history.foreach(_.record(
        s"ALTER TABLE $table ADD COLUMN ${f.name} ${f.dataType.sql}")))
      // columns the batch lacks ride along as NULL of the stored type
      val completed = existing.fields
        .filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
      write(completed, table, partitionCol, clusterCols)
    }
  }

  /** Driver-side partition/file inventory — the raw material of the
    * small-file audit. Bounded: one row per partition directory, never
    * touches file contents. */
  private def partitionFiles(table: String, targetBytes: Long)
      : Seq[WarehouseSink.PartitionFiles] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(tablePath(table))
    if (!Files.exists(root)) return Seq.empty
    val dirs = Files.list(root)
    try {
      dirs.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .map { p =>
          val s = Files.list(p)
          val files = try {
            s.iterator().asScala.filter { f =>
              val n = f.getFileName.toString
              !n.startsWith("_") && !n.startsWith(".")
            }.map(Files.size).toSeq
          } finally s.close()
          val bytes = files.sum
          val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
          WarehouseSink.PartitionFiles(p.getFileName.toString,
            files.size.toLong, bytes, target, files.size > target)
        }.toSeq.sortBy(_.partition)
    } finally dirs.close()
  }

  /** Small-file compaction audit: per partition directory, its file
    * count, total bytes, the file count a `targetBytes` layout wants
    * (ceil(bytes/target), ≥ 1), and whether it needs rewriting — the
    * table-health report every incremental sink eventually owes its
    * operators. Every micro-batch append and every dynamic-overwrite
    * MERGE leaves at least one file per touched partition; at
    * streaming cadence that is thousands of KB-sized files per
    * partition within days, and scan cost degrades from "bytes read"
    * to "files opened" (footer metadata dominates). The plan is pure
    * metadata: one driver-side directory walk, one row per partition —
    * no data file is ever opened. */
  def compactionPlan(spark: SparkSession, table: String,
                     targetBytes: Long = WarehouseSink.DefaultTargetFileBytes)
      : DataFrame = {
    import spark.implicits._
    partitionFiles(table, targetBytes)
      .toDF("partition", "n_files", "total_bytes", "target_files",
        "needs_compaction")
  }

  /** Rewrite every partition the plan flags: read the partition
    * directory, `repartition(target_files)`, write to a sibling temp
    * directory, then swap it into place — scans and rewrites ONLY
    * flagged partitions (compaction cost is proportional to the
    * small-file debt, not the table). Returns the partitions rewritten.
    *
    * The swap (delete + rename) is the local-FS stand-in for an object
    * store's commit protocol; a production deployment would hide the
    * swap behind a manifest the way table formats do. Readers racing
    * the swap see the old or the new layout, both complete, except in
    * the instant between delete and move — acceptable for a
    * maintenance job that owns its maintenance window. */
  def compact(spark: SparkSession, table: String,
              targetBytes: Long = WarehouseSink.DefaultTargetFileBytes)
      : Seq[String] = {
    import scala.jdk.CollectionConverters._
    val todo = partitionFiles(table, targetBytes).filter(_.needsCompaction)
    todo.map { pf =>
      val dir = Paths.get(tablePath(table), pf.partition)
      val tmp = Paths.get(tablePath(table), pf.partition + ".__compact_tmp")
      spark.read.parquet(dir.toString)
        .repartition(pf.targetFiles.toInt)
        .write.mode("overwrite").parquet(tmp.toString)
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
      Files.move(tmp, dir)
      pf.partition
    }
  }

  /** Partition-retention audit: per partition directory, its partition
    * VALUE (the `col=value` suffix), bytes, and whether it falls before
    * the retention cutoff — the engine-side counterpart of the target
    * warehouse's partition expiration, which every CDC table owner sets
    * so an append-forever changelog doesn't grow without bound. Values
    * compare as strings, which is ORDER-CORRECT for the layouts this
    * sink writes (ISO `part_month=2024-01-01...` timestamps and
    * zero-padded bucket ids) — the same lexicographic contract Hive
    * partition pruning relies on. Pure driver-side metadata walk, no
    * data file opened. */
  def retentionPlan(table: String, cutoffValue: String)
      : Seq[WarehouseSink.PartitionRetention] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(tablePath(table))
    if (!Files.exists(root)) return Seq.empty
    val dirs = Files.list(root)
    try {
      dirs.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .map { p =>
          val name = p.getFileName.toString
          val value = name.substring(name.indexOf('=') + 1)
          val s = Files.list(p)
          val bytes = try {
            s.iterator().asScala.filter { f =>
              val n = f.getFileName.toString
              !n.startsWith("_") && !n.startsWith(".")
            }.map(Files.size).sum
          } finally s.close()
          WarehouseSink.PartitionRetention(name, value, bytes,
            value < cutoffValue)
        }.toSeq.sortBy(_.partition)
    } finally dirs.close()
  }

  /** Drop every partition the plan flags as expired. Deleting a whole
    * partition directory is the one table operation that needs NO data
    * rewrite — cost is metadata-only however large the table — which
    * is exactly why time-partitioned layouts are the right CDC
    * warehouse shape (row-level retention on an unpartitioned table
    * would rewrite everything). Returns the partitions dropped. */
  def expire(table: String, cutoffValue: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    retentionPlan(table, cutoffValue).filter(_.expired).map { pr =>
      val dir = Paths.get(tablePath(table), pr.partition)
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
      pr.partition
    }
  }
}

object WarehouseSink {

  /** One partition directory's file census (see `compactionPlan`). */
  case class PartitionFiles(partition: String, nFiles: Long,
                            totalBytes: Long, targetFiles: Long,
                            needsCompaction: Boolean)

  /** One partition directory's retention status (see `retentionPlan`). */
  case class PartitionRetention(partition: String, value: String,
                                totalBytes: Long, expired: Boolean)

  /** Default compaction target — 128 MiB, the classic HDFS-block-sized
    * parquet file that keeps footer overhead negligible and row groups
    * large enough for effective page skipping. */
  val DefaultTargetFileBytes: Long = 128L << 20

  /** Time-partition column for append tables at the reference's
    * granularities (`partition-type`: HOUR | DAY | MONTH | YEAR,
    * BatchConsumerConfig.java:46-48; default MONTH). */
  def timePartition(tsCol: String, partitionType: String = "MONTH"): Column = {
    val t = partitionType.toUpperCase
    require(Set("HOUR", "DAY", "MONTH", "YEAR").contains(t),
      s"unsupported partition-type $partitionType")
    date_trunc(t.toLowerCase, col(tsCol))
  }

  /** MONTH time-partition column for append tables. */
  def monthPartition(tsCol: String): Column = timePartition(tsCol)

  /** Stable key-hash bucket partition column for keyed snapshot tables. */
  def bucketPartition(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets)).cast("int")

  /** The destination's clustering-field limit, mirrored from BigQuery's
    * 4-field cap the reference enforces. */
  val MaxClusterCols = 4

  /** Reference-parity clustering fields: primary-key columns capped at 3
    * plus the source timestamp — exactly the reference's table clustering
    * (BatchBigqueryChangeConsumer.java:95-113 builds Clustering from PK
    * fields, keeping at most `MaxClusterCols - 1` and appending
    * `__source_ts_ms`; StreamBigqueryChangeConsumer does the same). A
    * wider PK silently clusters on its 3-field prefix, as in BigQuery. */
  def clusteringColumns(keyCols: Seq[String],
                        tsCol: String = "__source_ts_ms"): Seq[String] =
    keyCols.take(MaxClusterCols - 1) :+ tsCol
}
