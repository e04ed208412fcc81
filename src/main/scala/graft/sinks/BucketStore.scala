package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The key-hash-bucketed layout behind every incremental dedup/ANN index
  * (exact fingerprints, MinHash bands, SimHash/dHash blocks, spans,
  * semantic cells, IVF-PQ codes, embedding LSH): rows are partitioned by
  * `part_bucket` = [[WarehouseSink.bucketPartition]] of `keyCols`, so a
  * probe reads only the buckets its batch lands in. Every store probes
  * the same way, the append-only streaming index of *Distributed
  * Streaming Set Similarity Join* (ICDE 2020): sign the batch, find the
  * buckets it touches in one shuffle-free job ([[touched]]), read only
  * those ([[read]]), append the survivors ([[write]]).
  *
  * `schema` is the store's row type, fixed per store. Writes cast to it
  * and reads pin it, so a read plans with no footer-merge job and an
  * absent store reads as an empty frame of that type. Files an older
  * writer left with a narrower type (an `int` id) read widened. */
private[graft] final case class BucketStore(table: String, keyCols: Seq[String],
                                            clusterCols: Seq[String],
                                            schema: StructType, numBuckets: Int) {
  import BucketStore.BucketCol

  def withBucket(rows: DataFrame): DataFrame =
    rows.withColumn(BucketCol, WarehouseSink.bucketPartition(keyCols, numBuckets))

  /** Write the declared columns of `rows` as the store, or onto it. */
  def write(sink: WarehouseSink, rows: DataFrame, append: Boolean): Unit =
    sink.write(
      withBucket(rows.select(
        schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)),
      table, BucketCol, clusterCols,
      writeDisposition =
        if (append) WriteDisposition.WriteAppend else WriteDisposition.WriteTruncate)

  /** Rows and touched buckets of a batch keyed like the store. */
  def touched(cachedRows: DataFrame): BucketStore.BatchSummary =
    BucketStore.summarize(cachedRows, keyCols, numBuckets)

  /** The stored rows of `buckets`, pruned at planning time. */
  def read(spark: SparkSession, sink: WarehouseSink, buckets: Set[Int]): DataFrame =
    if (buckets.isEmpty) empty(spark)
    else readAll(spark, sink).filter(col(BucketCol).isin(buckets.toSeq.sorted: _*))

  def readAll(spark: SparkSession, sink: WarehouseSink): DataFrame =
    if (sink.tableExists(table)) spark.read.schema(stored).parquet(sink.tablePath(table))
    else empty(spark)

  private def stored: StructType = schema.add(BucketCol, IntegerType)

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), stored)
}

private[graft] object BucketStore {

  val BucketCol = "part_bucket"

  /** What one pass over a batch yields: its accepted rows, its rejected
    * rows, and the buckets the accepted rows touch. */
  final case class BatchSummary(rows: Long, rejected: Long, buckets: Set[Int])

  /** ONE job, no shuffle, over `batch` (cache it first: this pass fills
    * the cache the MERGE or probe then reads): each task folds its rows
    * into (accepted, rejected, bit set of buckets) and the driver ORs the
    * bit sets. A row is rejected when `rejectedCol` is true; without one
    * every row is accepted. The CDC MERGE, the corpus upsert and every
    * store probe find their buckets here. */
  def summarize(batch: DataFrame, keyCols: Seq[String], numBuckets: Int,
                rejectedCol: Option[String] = None): BatchSummary = {
    val bucket = WarehouseSink.bucketPartition(keyCols, numBuckets)
    // buckets are ≥ 0 (pmod); -1 marks a rejected row
    val tagged = rejectedCol.fold(bucket)(r => when(col(r), lit(-1)).otherwise(bucket))
    val (rows, rejected, buckets) = batch.select(tagged).queryExecution.toRdd
      .aggregate((0L, 0L, new scala.collection.mutable.BitSet(numBuckets)))(
        { case ((n, r, bs), row) =>
            val b = row.getInt(0)
            if (b < 0) (n, r + 1, bs) else (n + 1, r, bs += b) },
        { case ((n1, r1, b1), (n2, r2, b2)) => (n1 + n2, r1 + r2, b1 |= b2) })
    BatchSummary(rows, rejected, buckets.toSet)
  }
}
