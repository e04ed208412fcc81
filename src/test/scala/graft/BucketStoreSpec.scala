package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ann, Dedup, SpanDedup}
import graft.sinks.{BucketStore, WarehouseSink, WriteDisposition}

/** The one bucketed-store layout behind the incremental dedup/ANN
  * indexes: what each writer leaves on disk matches the schema its reads
  * pin, stores written before the schemas were pinned still probe, and
  * a probe finds its buckets in one job with no footer-merge job. */
class BucketStoreSpec extends AnyFunSuite with SparkFixture {

  private def documents = Tables.documents(spark, sfDir).filter(col("doc_id") < 300)
  private def embeddings = Tables.embeddings(spark, sfDir)

  test("every store writer leaves files whose footer schema is the declared one") {
    // the seven bucketed stores, and the quantizer tables two of them write
    val sink = new WarehouseSink(tmpDir("bucket_store_schema_"))
    val written: Seq[(BucketStore, () => Unit)] = Seq(
      Dedup.sigBlockStore("simhash_blocks", 32) ->
        (() => Dedup.buildSimhashStore(documents, sink)),
      Dedup.fingerprintStore("fingerprints", 32) ->
        (() => Dedup.buildFingerprintStore(documents, sink)),
      Dedup.minhashStore("minhash_bands", 32) ->
        (() => Dedup.buildMinhashStore(documents, sink)),
      Ann.semanticStore("semantic", 32) ->
        (() => Ann.buildSemanticStore(embeddings, sink)),
      Ann.centroidStore("semantic") -> (() => ()), // written by the build above
      Ann.ivfPqStore("ivfpq", 32) ->
        (() => Ann.buildIvfPqIndex(embeddings, sink)),
      Ann.coarseStore("ivfpq") -> (() => ()),
      Ann.codebookStore("ivfpq") -> (() => ()),
      Ann.embedStore("embed_lsh", 32) ->
        (() => Ann.buildEmbedStore(embeddings, sink)),
      SpanDedup.spanStore("spans", 32) ->
        (() => SpanDedup.buildSpanStore(documents, sink)))
    for ((store, build) <- written) {
      build()
      // sink.read merges every file's footer: the schema the files hold
      assert(sink.read(spark, store.table).schema ===
        store.schema.add("part_bucket", IntegerType), store.table)
      assert(store.readAll(spark, sink).count() ===
        sink.read(spark, store.table).count(), store.table)
    }
  }

  test("stores written with int ids before the schemas were pinned probe to the same rows") {
    val sink = new WarehouseSink(tmpDir("bucket_store_int_"))
    val old = new WarehouseSink(tmpDir("bucket_store_int_old_"))
    val corpus = documents.filter(pmod(col("doc_id"), lit(10)) < 6)
    // the new docs plus re-sent copies of some stored ones, so both
    // probes find store matches
    val batch = documents.filter(pmod(col("doc_id"), lit(10)) >= 6)
      .unionByName(corpus.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 100000L))
    Dedup.buildFingerprintStore(corpus, sink)
    Dedup.buildMinhashStore(corpus, sink)
    // the same stores as the earlier writers left them: an int id column
    // and the bucket column added by hand
    def writeOld(rows: DataFrame, table: String, keys: Seq[String],
                 cluster: Seq[String]): Unit =
      old.write(rows.withColumn("part_bucket", WarehouseSink.bucketPartition(keys, 32)),
        table, "part_bucket", cluster, writeDisposition = WriteDisposition.WriteTruncate)
    writeOld(corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).cast("int").as("keeper")),
      "fingerprints", Seq("h"), Seq("h"))
    writeOld(Dedup.minhashBandRows(corpus).withColumn("doc_id", col("doc_id").cast("int")),
      "minhash_bands", Seq("band", "bh"), Seq("bh"))
    assert(old.read(spark, "fingerprints").schema("keeper").dataType === IntegerType)
    assert(old.read(spark, "minhash_bands").schema("doc_id").dataType === IntegerType)

    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val exact = rows(Dedup.dedupIncremental(batch, spark, sink))
    assert(exact.exists(_(1) != -1L)) // the batch has store duplicates
    assert(rows(Dedup.dedupIncremental(batch, spark, old)) === exact)
    val near = rows(Dedup.dedupIncrementalMinhash(batch, spark, sink))
    assert(near.exists(_(1).asInstanceOf[Long] >= 100000L))
    assert(rows(Dedup.dedupIncrementalMinhash(batch, spark, old)) === near)
  }

  test("job budget of one dedupIncremental probe over an existing store") {
    val sink = new WarehouseSink(tmpDir("bucket_store_jobs_"))
    Dedup.buildFingerprintStore(documents.filter(col("doc_id") < 200), sink)
    val batch = documents.filter(col("doc_id") >= 200)
    val jobs = jobsInGroup("dedup-incremental-job-budget") {
      Dedup.dedupIncremental(batch, spark, sink)
    }
    info(s"jobs per dedupIncremental probe: $jobs")
    assert(jobs > 0 && jobs <= BucketStoreSpec.ExactProbeJobBudget, s"$jobs jobs")
  }
}

object BucketStoreSpec {
  /** Spark jobs of one exact-store probe over an existing store: 4
    * measured, the bucket pass and the probe's own materialization. The
    * earlier `distinct().collect()` discovery and the footer-merge job of
    * a `mergeSchema` store read made it 7. */
  val ExactProbeJobBudget = 5
}
