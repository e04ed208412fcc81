package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.WarehouseSink
import graft.state.OffsetStore
import graft.streaming.CorpusIngest

class CorpusIngestSpec extends AnyFunSuite with SparkFixture {

  private def docs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("ingestBatch accepts new docs, rejects dups, rolls the store forward") {
    val sink = new WarehouseSink(tmpDir("ingest_wh_"))
    // first batch: one internal dup — 2 of 3 accepted, store created
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((1L, "alpha beta", "web"), (2L, "alpha beta", "web"),
        (3L, "gamma delta", "book"))) === 2L)
    // second batch: dup of batch 1 (via the STORE, not any rescan),
    // plus one genuinely new doc
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((10L, "alpha beta", "web"), (11L, "epsilon zeta", "web"))) === 1L)
    // corpus holds exactly the accepted docs in the doc_id-bucket layout
    import spark.implicits._
    val corpus = sink.read(spark, "corpus")
    assert(corpus.select("doc_id").as[Long].collect().sorted
      === Array(1L, 3L, 11L))
    // an all-duplicate batch accepts nothing and leaves state unchanged
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((20L, "gamma delta", "book"))) === 0L)
    assert(sink.read(spark, "corpus").count() === 3)
  }

  test("bloom-sidecar ingestion: same acceptance, stale sidecar falls back safely") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("ingest_bloom_"))
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((1L, "alpha beta", "web"), (3L, "gamma delta", "book")),
      useBloom = true) === 2L)
    // dup vs the store is caught through the sidecar path
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((10L, "alpha beta", "web"), (11L, "epsilon zeta", "web")),
      useBloom = true) === 1L)
    // fresh sidecar: a probe batch that is a pure dup prunes to the
    // store's real bucket(s), and a replay accepts nothing
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((10L, "alpha beta", "web"), (11L, "epsilon zeta", "web")),
      useBloom = true) === 0L)
    // STALENESS: append to the store while skipping the sidecar rebuild
    // (the crash window); the probe must detect the stamp mismatch and
    // fall back — the duplicate of the un-bloomed doc is still caught
    graft.llm.Dedup.buildFingerprintStore(
      docs((50L, "omega psi", "web")), sink, append = true)
    val nb = docs((60L, "omega psi", "web"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("part_bucket",
        WarehouseSink.bucketPartition(Seq("h"), 32))
    // fallback returns the touched bucket even though the sidecar has
    // never seen "omega psi"
    val touched = nb.select("part_bucket").collect().map(_.getInt(0)).toSet
    assert(graft.llm.Dedup.bloomCandidates(nb, touched, spark, sink, "fingerprints", 32)
      .nonEmpty)
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((60L, "omega psi", "web")), useBloom = true) === 0L)
  }

  test("near-dup ingestion rejects paraphrases against the corpus and within batches") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("ingest_nd_"))
    val base = (1 to 20).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 20).map(i => if (i == 20) "changed" else s"token$i").mkString(" ")
    val distinct = (100 to 119).map(i => s"other$i").mkString(" ")
    // batch 1 seeds the corpus with the base doc
    assert(CorpusIngest.ingestBatch(spark, sink, docs((1L, base, "web")),
      nearDupMinEstSim = Some(0.5)) === 1L)
    // batch 2: exact-new but NEAR-dup of the corpus doc → rejected;
    // a genuinely different doc → kept
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((10L, nearDup, "web"), (11L, distinct, "web")),
      nearDupMinEstSim = Some(0.5)) === 1L)
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 11L))
    // within one batch: smaller id wins among near-dups
    val v1 = (1 to 20).map(i => s"w$i").mkString(" ")
    val v2 = (1 to 20).map(i => if (i == 1) "x" else s"w$i").mkString(" ")
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((20L, v1, "web"), (21L, v2, "web")),
      nearDupMinEstSim = Some(0.5)) === 1L)
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 11L, 20L))
    // without the near-dup gate the same paraphrase would have landed
    val sink2 = new WarehouseSink(tmpDir("ingest_nd_off_"))
    assert(CorpusIngest.ingestBatch(spark, sink2, docs((1L, base, "web"))) === 1L)
    assert(CorpusIngest.ingestBatch(spark, sink2, docs((10L, nearDup, "web"))) === 1L)
  }

  test("embed-aware ingestion rejects cosine-similar docs via the vector store") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("ingest_emb_"))
    def edocs(rows: (Long, String, Array[Double])*) =
      rows.toDF("doc_id", "text", "embedding")
    val e1 = Array(1.0, 0.0, 0.0, 0.0)
    val e2 = Array(0.0, 1.0, 0.0, 0.0)
    // near-identical direction to e1 (cosine ≈ 0.9998)
    val e1near = Array(1.0, 0.02, 0.0, 0.0)
    // batch 1 seeds corpus + all three stores
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((1L, "the quick brown fox", e1)),
      embedTau = Some(0.95)) === 1L)
    // batch 2: doc 10 has different TEXT (passes the exact store) but a
    // near-identical EMBEDDING → rejected via the vector store; doc 11
    // is orthogonal → kept
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((10L, "totally different words here", e1near),
        (11L, "and another new document", e2)),
      embedTau = Some(0.95)) === 1L)
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 11L))
    // replay of batch 2 (crash before the offset write): the exact store
    // knows doc 11 → nothing accepted, corpus unchanged, embed store
    // growth from the replayed probe stays harmless
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((10L, "totally different words here", e1near),
        (11L, "and another new document", e2)),
      embedTau = Some(0.95)) === 0L)
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 11L))
    // within one batch: the smaller id wins among embed near-dups
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((20L, "first of a similar pair", Array(0.0, 0.0, 1.0, 0.0)),
        (21L, "second of a similar pair", Array(0.0, 0.02, 1.0, 0.0))),
      embedTau = Some(0.95)) === 1L)
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 11L, 20L))
    // combined gates: a doc can be rejected by EITHER store — minhash
    // near-dup text with a fresh embedding still loses
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val near = (1 to 20).map(i => if (i == 20) "x" else s"tok$i").mkString(" ")
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((30L, base, Array(0.0, 0.0, 0.0, 1.0))),
      nearDupMinEstSim = Some(0.5), embedTau = Some(0.95)) === 1L)
    assert(CorpusIngest.ingestBatch(spark, sink,
      edocs((31L, near, Array(0.5, 0.5, 0.5, 0.5))),
      nearDupMinEstSim = Some(0.5), embedTau = Some(0.95)) === 0L)
  }

  test("restarted stream resumes from the checkpoint and processes only new files") {
    val base = tmpDir("ingest_restart_")
    val sink = new WarehouseSink(s"$base/wh")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val inputDir = tmpDir("ingest_restart_in_")
    docs((1L, "first doc", "web")).coalesce(1).write.parquet(s"$inputDir/f0")
    val schema = spark.read.parquet(s"$inputDir/f0").schema
    def drain(): Unit = {
      val q = CorpusIngest.start(spark, s"$inputDir/f*", schema, sink, offsets,
        s"$base/ckpt", maxFilesPerTrigger = 1,
        metricsTable = Some("ingest_metrics"))
      q.awaitTermination()
    }
    drain()
    assert(sink.read(spark, "corpus").count() === 1)
    // a second run with nothing new ingests nothing (checkpoint resume,
    // not store-side dedup: the batch never reaches ingestBatch at all)
    drain()
    assert(sink.read(spark, "corpus").count() === 1)
    // new file after restart → only it is processed
    docs((2L, "second doc", "web")).coalesce(1).write.parquet(s"$inputDir/f1")
    drain()
    import spark.implicits._
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 2L))
    // one metrics row per processed micro-batch, none for the idle drain
    assert(sink.read(spark, "ingest_metrics")
      .select("n_in", "n_accepted").as[(Long, Long)]
      .collect().sorted === Array((1L, 1L), (1L, 1L)))
  }

  test("replaying a batch converges: full replay no-ops, half-committed replay upserts") {
    val sink = new WarehouseSink(tmpDir("ingest_replay_"))
    val b = docs((1L, "replay me", "web"), (2L, "and me", "web"))
    assert(CorpusIngest.ingestBatch(spark, sink, b) === 2L)
    // replay AFTER both writes committed (crash before the offset write):
    // the store knows every hash → nothing accepted, nothing rewritten
    assert(CorpusIngest.ingestBatch(spark, sink, b) === 0L)
    assert(sink.read(spark, "corpus").count() === 2)
    // replay of the crash BETWEEN corpus upsert and store append: the
    // corpus has the docs but the store does not (simulated with a fresh
    // store table) — the upsert must converge with no duplicate rows
    assert(CorpusIngest.ingestBatch(spark, sink, b, fpTable = "fp_fresh") === 2L)
    assert(sink.read(spark, "corpus").count() === 2)
    import spark.implicits._
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 2L))
  }

  test("a re-sent doc_id with new text replaces the stored row; the in-batch pick is deterministic") {
    import spark.implicits._
    def corpus(sink: WarehouseSink) =
      sink.read(spark, "corpus").select("doc_id", "text", "source")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val sink = new WarehouseSink(tmpDir("ingest_resend_"))
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((1L, "first text", "web"), (2L, "other text", "web"))) === 2L)
    // doc 1 comes back with new text: the latest batch wins
    assert(CorpusIngest.ingestBatch(spark, sink,
      docs((1L, "revised text", "book"))) === 1L)
    assert(corpus(sink) === Seq((1L, "revised text", "book"),
      (2L, "other text", "web")))
    // two rows of one doc_id in one batch: the greatest text wins, in
    // either row order, on the create path and on the MERGE path
    for (rows <- Seq(Seq((5L, "apple pie", "web"), (5L, "zebra crossing", "web")),
                     Seq((5L, "zebra crossing", "web"), (5L, "apple pie", "web")))) {
      val fresh = new WarehouseSink(tmpDir("ingest_pick_"))
      CorpusIngest.ingestBatch(spark, fresh, docs(rows: _*))
      assert(corpus(fresh) === Seq((5L, "zebra crossing", "web")))
      val merged = new WarehouseSink(tmpDir("ingest_pick_merge_"))
      CorpusIngest.ingestBatch(spark, merged, docs((9L, "seed doc", "web")))
      CorpusIngest.ingestBatch(spark, merged, docs(rows: _*))
      assert(corpus(merged) === Seq((5L, "zebra crossing", "web"),
        (9L, "seed doc", "web")))
    }
  }

  test("streaming loop dedups across micro-batches through the store") {
    val base = tmpDir("ingest_stream_")
    val sink = new WarehouseSink(s"$base/wh")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val inputDir = tmpDir("ingest_in_")
    docs((1L, "one two three", "web")).coalesce(1)
      .write.parquet(s"$inputDir/f0")
    docs((2L, "one two three", "web"), (3L, "four five six", "web"))
      .coalesce(1).write.parquet(s"$inputDir/f1")
    val schema = spark.read.parquet(s"$inputDir/f0").schema
    val q = CorpusIngest.start(spark, s"$inputDir/f*", schema, sink, offsets,
      s"$base/ckpt", maxFilesPerTrigger = 1)
    q.awaitTermination()
    import spark.implicits._
    // doc 2 (batch 1) is a dup of doc 1 (batch 0) — caught via the store
    assert(sink.read(spark, "corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 3L))
    assert(offsets.load().keySet === Set("ingest/corpus"))
  }

  /** Deterministic documents over a small vocabulary: every third doc is
    * a one-word edit of the doc before it (a near-dup), every seventh
    * repeats the base text of the doc three before it (an exact re-send
    * when that doc was not itself edited). */
  private def genDocs(ids: Range): Seq[(Long, String, String)] = {
    def words(i: Int) = (0 until 24).map(k => s"w${(i * 7 + k * k) % 53}")
    ids.map { i =>
      val text =
        if (i % 7 == 0 && i > ids.start) words(i - 3).mkString(" ")
        else if (i % 3 == 0 && i > ids.start)
          words(i - 1).updated(5, s"edit$i").mkString(" ")
        else words(i).mkString(" ")
      (i.toLong, text, "web")
    }
  }

  test("near-dup streaming ingest resolves graft functions in a fresh session") {
    // a session that never registered the vector functions: the stream
    // analyzes each micro-batch in its own clone of this session
    val fresh = spark.newSession()
    import fresh.implicits._
    val base = tmpDir("ingest_fresh_")
    val sink = new WarehouseSink(s"$base/wh")
    val offsets = new OffsetStore(s"$base/offsets", fresh)
    val inputDir = tmpDir("ingest_fresh_in_")
    val all = genDocs(1 to 40)
    all.take(20).toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$inputDir/f0")
    all.drop(20).toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$inputDir/f1")
    val schema = fresh.read.parquet(s"$inputDir/f0").schema
    val q = CorpusIngest.start(fresh, s"$inputDir/f*", schema, sink, offsets,
      s"$base/ckpt", maxFilesPerTrigger = 1, nearDupMinEstSim = Some(0.5),
      metricsTable = Some("ingest_metrics"))
    q.awaitTermination()
    assert(q.exception.isEmpty)
    val m = sink.read(fresh, "ingest_metrics")
      .select("batch_id", "n_in").as[(Long, Long)].collect().sorted
    assert(m === Array((0L, 20L), (1L, 20L)))
    // the same two batches through ingestBatch on the shared session
    val ref = new WarehouseSink(tmpDir("ingest_fresh_ref_"))
    CorpusIngest.ingestBatch(spark, ref, docs(all.take(20): _*),
      nearDupMinEstSim = Some(0.5))
    CorpusIngest.ingestBatch(spark, ref, docs(all.drop(20): _*),
      nearDupMinEstSim = Some(0.5))
    def ids(s: WarehouseSink) =
      s.read(spark, "corpus").select("doc_id").as[Long].collect().sorted
    assert(ids(sink) === ids(ref))
    assert(ids(sink).length < all.size)
  }

  test("ingestBatch's band store equals buildMinhashStore over its survivors") {
    val sink = new WarehouseSink(tmpDir("ingest_bands_"))
    val all = genDocs(1 to 60)
    val accepted = Seq(all.take(30), all.drop(30)).map(b =>
      CorpusIngest.ingestBatch(spark, sink, docs(b: _*),
        nearDupMinEstSim = Some(0.5))).sum
    val corpus = sink.read(spark, "corpus")
    assert(corpus.count() === accepted)
    assert(accepted < all.size)
    val scratch = new WarehouseSink(tmpDir("ingest_bands_ref_"))
    graft.llm.Dedup.buildMinhashStore(corpus, scratch)
    def rows(s: WarehouseSink) = {
      import spark.implicits._
      s.read(spark, "minhash_bands")
        .select(col("doc_id"), col("band"), col("bh"), hex(col("sigb")),
          col("part_bucket"))
        .as[(Long, Int, Long, String, Int)].collect().toSeq.sorted
    }
    val stored = rows(sink)
    assert(stored.nonEmpty)
    assert(stored === rows(scratch))
  }

  test("WarehouseSink.write: one file per bucket, written by several tasks") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("sink_spread_"))
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .withColumn("part_bucket", WarehouseSink.bucketPartition(Seq("id"), 32))
    sink.write(df, "t", "part_bucket", Seq("id"))
    val nBuckets = df.select("part_bucket").distinct().count()
    val root = java.nio.file.Paths.get(sink.tablePath("t"))
    val dirs = root.toFile.listFiles().filter(_.getName.startsWith("part_bucket="))
    assert(dirs.length === nBuckets)
    val files = dirs.map(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.forall(_.length == 1))
    // file names carry the writing task's partition id: a write merged
    // into one task would name every file part-00000
    val tasks = files.flatten.map(_.getName.split("-")(1)).toSet
    assert(tasks.size > 1)
    assert(sink.read(spark, "t").count() === 200)
  }

  test("tableExists and the stores' existence checks close their listings") {
    val fd = new java.io.File("/proc/self/fd")
    assume(fd.isDirectory)
    import spark.implicits._
    val base = tmpDir("fd_leak_")
    val sink = new WarehouseSink(base)
    Seq((1L, 0)).toDF("id", "part_bucket")
      .write.partitionBy("part_bucket").parquet(sink.tablePath("t"))
    val offsets = new OffsetStore(s"$base/offsets", spark)
    offsets.put(Map("k" -> "v"))
    val history = new graft.state.SchemaHistory(s"$base/history", spark)
    history.record("CREATE TABLE t (id BIGINT)")
    val before = fd.list().length
    (1 to 1000).foreach { _ =>
      assert(sink.tableExists("t"))
      assert(history.storageExists)
    }
    // OffsetStore.exists is private; load() consults it on every call
    (1 to 20).foreach(_ => assert(offsets.load() === Map("k" -> "v")))
    assert(fd.list().length - before < 20)
  }

  test("job budget of one near-dup ingestBatch over existing stores") {
    val sink = new WarehouseSink(tmpDir("ingest_jobs_"))
    val all = genDocs(1 to 60)
    CorpusIngest.ingestBatch(spark, sink, docs(all.take(30): _*),
      nearDupMinEstSim = Some(0.5))
    val batch = docs(all.drop(30): _*)
    val jobs = jobsInGroup("corpus-ingest-job-budget") {
      CorpusIngest.ingestBatch(spark, sink, batch, nearDupMinEstSim = Some(0.5))
    }
    info(s"jobs per near-dup ingestBatch: $jobs")
    assert(jobs > 0 && jobs <= CorpusIngestSpec.NearDupJobBudget)
  }
}

object CorpusIngestSpec {
  /** Spark jobs of one near-dup `ingestBatch` over existing stores: 36
    * measured (most of them AQE query stages) since each store probe
    * finds its buckets in one job and reads its store with the pinned
    * schema (no footer-merge job); 42 before that, with the corpus upsert
    * through the one-shuffle bucket MERGE; 46 before that, and 48-49 for
    * the two-pass form (signing the survivors again for the band append,
    * a second survivors count). */
  val NearDupJobBudget = 39
}
