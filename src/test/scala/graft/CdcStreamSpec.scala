package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Cdc
import graft.sinks.WarehouseSink
import graft.state.OffsetStore
import graft.streaming.{CdcStream, DynamicBatchSizeWait}

class CdcStreamSpec extends AnyFunSuite with SparkFixture {

  test("streamed MERGE over multiple triggers equals the batch snapshot, and resumes") {
    val events = Tables.events(spark, sfDir)
    val flat = Cdc.flatten(events)
    val inputDir = tmpDir("stream_in_")
    val base = tmpDir("stream_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val cutoff = lit("2024-01-15").cast("timestamp")

    // two CDC "files" arrive before the stream starts
    flat.filter(col("ts") < cutoff).coalesce(1)
      .write.parquet(s"$inputDir/batch0")
    flat.filter(col("ts") >= cutoff && col("ts") < lit("2024-01-22").cast("timestamp"))
      .coalesce(1).write.parquet(s"$inputDir/batch1")

    val schema = flat.schema
    def runDrain(): Unit = {
      val q = CdcStream.start(spark, s"$inputDir/batch*", schema, sink,
        "events_snapshot", Seq("user_id"), s"$base/checkpoint", offsets,
        availableNow = true, maxFilesPerTrigger = 1)
      q.awaitTermination()
    }
    runDrain()
    val afterTwo = sink.read(spark, "events_snapshot")
    val wantTwo = Cdc.upsertSnapshot(
      events.filter(col("ts") < lit("2024-01-22").cast("timestamp")))
    assert(afterTwo.drop("part_bucket")
      .exceptAll(wantTwo.select(afterTwo.drop("part_bucket").columns.map(col): _*))
      .isEmpty)
    assert(offsets.load().contains("stream/events_snapshot"))

    // a third file lands; restarting from the checkpoint processes ONLY it
    flat.filter(col("ts") >= lit("2024-01-22").cast("timestamp"))
      .coalesce(1).write.parquet(s"$inputDir/batch2")
    runDrain()
    val got = sink.read(spark, "events_snapshot").drop("part_bucket")
    val want = Cdc.upsertSnapshot(events).select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("JSON wire-format stream: Debezium payload lines MERGE through TypeMap") {
    val inputDir = tmpDir("json_in_")
    val base = tmpDir("json_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val schemaJson =
      """{"type":"struct","fields":[
        |{"field":"user_id","type":"int64"},
        |{"field":"event_id","type":"int64"},
        |{"field":"amount","type":"float64"},
        |{"field":"__op","type":"string"},
        |{"field":"__source_ts_ms","type":"int64","name":"io.debezium.time.Timestamp"},
        |{"field":"__deleted","type":"string"}]}""".stripMargin
    def write(f: String, mtimeMs: Long, lines: String*): Unit = {
      val dir = new java.io.File(s"$inputDir")
      dir.mkdirs()
      val p = java.nio.file.Paths.get(s"$inputDir/$f.txt")
      java.nio.file.Files.writeString(p, lines.mkString("\n"))
      // the file source orders micro-batches by modification time; two
      // sub-millisecond writes tie and replay in arbitrary order, so pin
      // distinct mtimes (the reference's file queue is ordered the same
      // way — by arrival)
      p.toFile.setLastModified(mtimeMs)
    }
    write("b0", 1700000000000L,
      """{"user_id":1,"event_id":10,"amount":1.0,"__op":"c","__source_ts_ms":1000,"__deleted":"false"}""",
      """{"user_id":2,"event_id":11,"amount":5.0,"__op":"c","__source_ts_ms":1000,"__deleted":"false"}""")
    write("b1", 1700000060000L,
      """{"user_id":1,"event_id":12,"amount":2.0,"__op":"u","__source_ts_ms":2000,"__deleted":"false"}""",
      """{"user_id":2,"event_id":13,"amount":0.0,"__op":"d","__source_ts_ms":2000,"__deleted":"true"}""")
    // strict unknown-fields mode is quarantine-by-contract: asking for
    // it without a dead-letter table must fail loudly, not silently run
    // the lenient path
    intercept[IllegalArgumentException] {
      CdcStream.startJson(spark, inputDir, schemaJson, sink,
        "json_snapshot", Seq("user_id"), s"$base/checkpoint", offsets,
        ignoreUnknownFields = false)
    }
    val q = CdcStream.startJson(spark, inputDir, schemaJson, sink,
      "json_snapshot", Seq("user_id"), s"$base/checkpoint", offsets,
      availableNow = true, maxFilesPerTrigger = 1)
    q.awaitTermination(120000)
    val got = sink.read(spark, "json_snapshot")
      .select("user_id", "event_id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user 1 upserted to the later version; user 2 hard-deleted
    assert(got === Set((1L, 12L, 2.0)))
    // the semantic Timestamp really converted (int64 ms → timestamp type)
    assert(sink.read(spark, "json_snapshot").schema("__source_ts_ms")
      .dataType.typeName === "timestamp")
    assert(offsets.load().contains("stream/json_snapshot"))
  }

  test("dead-letter + metrics: bad events quarantined with reasons, stats per batch") {
    val inputDir = tmpDir("dlq_in_")
    val base = tmpDir("dlq_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val schemaJson =
      """{"type":"struct","fields":[
        |{"field":"user_id","type":"int64"},
        |{"field":"event_id","type":"int64"},
        |{"field":"__op","type":"string"},
        |{"field":"__source_ts_ms","type":"int64","name":"io.debezium.time.Timestamp"}]}""".stripMargin
    def write(f: String, mtimeMs: Long, lines: String*): Unit = {
      new java.io.File(inputDir).mkdirs()
      val p = java.nio.file.Paths.get(s"$inputDir/$f.txt")
      java.nio.file.Files.writeString(p, lines.mkString("\n"))
      p.toFile.setLastModified(mtimeMs)
    }
    write("b0", 1700000000000L,
      """{"user_id":1,"event_id":10,"__op":"c","__source_ts_ms":1000}""",
      """this is not json at all""",
      """{"event_id":11,"__op":"c","__source_ts_ms":1000}""") // key-less
    write("b1", 1700000060000L,
      """{"user_id":2,"event_id":12,"__op":"c","__source_ts_ms":2000}""")
    val q = CdcStream.startJson(spark, inputDir, schemaJson, sink,
      "dlq_snapshot", Seq("user_id"), s"$base/checkpoint", offsets,
      availableNow = true, maxFilesPerTrigger = 1,
      deadLetterTable = Some("dlq_rejects"),
      metricsTable = Some("dlq_metrics"))
    q.awaitTermination(120000)
    // only the two well-formed keyed events upserted
    assert(sink.read(spark, "dlq_snapshot").select("user_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // both bad rows quarantined with their raw payloads and reasons
    val rejects = sink.read(spark, "dlq_rejects")
      .select("raw", "reason").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rejects === Set(
      ("this is not json at all", "malformed_json"),
      ("""{"event_id":11,"__op":"c","__source_ts_ms":1000}""",
        "null_required:user_id")))
    // one metrics row per micro-batch, with good/rejected counts
    // batch_id comes back from the partition directory, inferred as int
    val metrics = sink.read(spark, "dlq_metrics")
      .selectExpr("CAST(batch_id AS BIGINT) AS batch_id", "n_rows", "n_rejected")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(metrics === Set((0L, 1L, 2L), (1L, 1L, 0L)))
  }

  test("job budget of one dead-letter micro-batch over an existing table") {
    val inputDir = tmpDir("budget_in_")
    val base = tmpDir("budget_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    val schemaJson =
      """{"type":"struct","fields":[
        |{"field":"user_id","type":"int64"},
        |{"field":"event_id","type":"int64"},
        |{"field":"__op","type":"string"},
        |{"field":"__source_ts_ms","type":"int64","name":"io.debezium.time.Timestamp"}]}""".stripMargin
    def write(f: String, mtimeMs: Long, lines: String*): Unit = {
      new java.io.File(inputDir).mkdirs()
      val p = java.nio.file.Paths.get(s"$inputDir/$f.txt")
      java.nio.file.Files.writeString(p, lines.mkString("\n"))
      p.toFile.setLastModified(mtimeMs)
    }
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = CdcStream.startJson(spark, inputDir, schemaJson, sink,
        "budget_snapshot", Seq("user_id"), s"$base/checkpoint", offsets,
        availableNow = true, maxFilesPerTrigger = 1,
        deadLetterTable = Some("budget_rejects"))
      q.awaitTermination(120000)
      q
    }
    write("b0", 1700000000000L, (1 to 20).map(u =>
      s"""{"user_id":$u,"event_id":$u,"__op":"c","__source_ts_ms":1000}"""): _*)
    drain() // creates the table
    // the measured batch: updates, a new key and a rejected line, so
    // every step (dead-letter write, pruned read, MERGE) runs
    write("b1", 1700000060000L, Seq(
      """{"user_id":3,"event_id":30,"__op":"u","__source_ts_ms":2000}""",
      """{"user_id":7,"event_id":31,"__op":"d","__source_ts_ms":2000}""",
      """{"user_id":99,"event_id":32,"__op":"c","__source_ts_ms":2000}""",
      """not json"""): _*)
    val (q, groups) = jobsByGroup(drain())
    // a stream runs its jobs in a job group named by its run id
    val jobs = groups.getOrElse(q.runId.toString, 0)
    info(s"jobs per dead-letter micro-batch: $jobs")
    assert(jobs > 0 && jobs <= 7, s"$jobs jobs")
    assert(sink.read(spark, "budget_snapshot").count() === 20) // 20 - 1 deleted + 1 new
    assert(sink.read(spark, "budget_rejects").count() === 1)
  }

  test("routed stream merges each destination into its own table") {
    import spark.implicits._
    val inputDir = tmpDir("routed_in_")
    val base = tmpDir("routed_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    def mk(rows: Seq[(String, Long, Long, String, String)], f: String) =
      rows.toDF("destination", "event_id", "user_id", "__op", "__source_ts_ms")
        .withColumn("__source_ts_ms", col("__source_ts_ms").cast("timestamp"))
        .coalesce(1).write.parquet(s"$inputDir/$f")
    mk(Seq(
      ("srv1.db.orders", 1L, 10L, "c", "2024-01-01 00:00:00"),
      ("srv1.db.users", 2L, 20L, "c", "2024-01-01 00:00:00")), "f0")
    mk(Seq(
      ("srv1.db.orders", 3L, 10L, "u", "2024-01-02 00:00:00"),
      ("srv1.db.users", 4L, 21L, "c", "2024-01-02 00:00:00")), "f1")
    val schema = spark.read.parquet(s"$inputDir/f0").schema
    val q = CdcStream.startRouted(spark, s"$inputDir/f*", schema, sink,
      "destination", Seq("user_id"), s"$base/ckpt", offsets,
      regexp = Some("^srv1\\."), replace = Some(""))
    q.awaitTermination()
    assert(sink.read(spark, "db_orders")
      .select("user_id", "event_id").as[(Long, Long)].collect()
      .sorted === Array((10L, 3L)))
    assert(sink.read(spark, "db_users").count() === 2)
    assert(offsets.load().keySet === Set("stream/db_orders", "stream/db_users"))
  }

  test("throttle wired into the live loop: cadence responds to observed batch sizes") {
    import spark.implicits._
    val inputDir = tmpDir("throttle_in_")
    val base = tmpDir("throttle_state_")
    val sink = new WarehouseSink(s"$base/warehouse")
    val offsets = new OffsetStore(s"$base/offsets", spark)
    // three single-row CDC files → three micro-batches at maxFilesPerTrigger=1
    def mk(id: Long, f: String): Unit =
      Seq((id, 10L, "c", "2024-01-01 00:00:00"))
        .toDF("event_id", "user_id", "__op", "__source_ts_ms")
        .withColumn("__source_ts_ms", col("__source_ts_ms").cast("timestamp"))
        .coalesce(1).write.parquet(s"$inputDir/$f")
    mk(1L, "f0"); mk(2L, "f1"); mk(3L, "f2")
    val schema = spark.read.parquet(s"$inputDir/f0").schema
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val q = CdcStream.start(spark, s"$inputDir/f*", schema, sink, "t",
      Seq("user_id"), s"$base/ckpt", offsets, availableNow = true,
      maxFilesPerTrigger = 1,
      throttle = new DynamicBatchSizeWait(maxBatchSize = 10, maxWaitMs = 60000,
        sleep = ms => sleeps += ms))
    q.awaitTermination()
    // the controller was consulted once per micro-batch, at the
    // reference's loop position, and grew the wait for underfilled
    // batches (1 row vs maxBatchSize=10): 100→1000→10000→clamp
    assert(sleeps.toSeq === Seq(1000L, 10000L, 60000L))
    assert(sink.read(spark, "t").count() === 1) // upserts still landed
  }

  test("upsert-dedup-column override: custom ordering decides the MERGE winner") {
    import spark.implicits._
    import graft.cdc.MergePipeline
    val inputDir = tmpDir("dedupcol_in_")
    val base = tmpDir("dedupcol_state_")
    def mk(f: String, rows: Seq[(Long, Long, String, Long, Long)]): Unit =
      rows.toDF("user_id", "event_id", "__op", "__source_ts_ms", "__source_ts_ns")
        .coalesce(1).write.parquet(s"$inputDir/$f")
    // user 1: the ms wall clock says event 10 is latest; the source's
    // ns-precision counter says event 11 is — the disagreement the
    // reference's `upsert-dedup-column=__source_ts_ns` config exists to
    // resolve (StreamBigqueryChangeConsumerMysqlUpsertTest.java:177).
    // user 2 agrees under both orderings (control).
    mk("f0", Seq((1L, 10L, "c", 2000L, 1000L), (2L, 20L, "c", 1000L, 1000L)))
    mk("f1", Seq((1L, 11L, "u", 1000L, 2000L), (2L, 21L, "u", 2000L, 2000L)))
    val schema = spark.read.parquet(s"$inputDir/f0").schema
    def run(ordering: Seq[org.apache.spark.sql.Column],
            suffix: String): Map[Long, Long] = {
      val sink = new WarehouseSink(s"$base/$suffix/warehouse")
      val offsets = new OffsetStore(s"$base/$suffix/offsets", spark)
      // maxFilesPerTrigger=1 → f1 arrives as a SECOND micro-batch, so the
      // override must survive the snapshot-union MERGE, not just in-batch
      // dedup
      val q = CdcStream.start(spark, s"$inputDir/f*", schema, sink, "snap",
        Seq("user_id"), s"$base/$suffix/ckpt", offsets, availableNow = true,
        maxFilesPerTrigger = 1, ordering = ordering)
      q.awaitTermination()
      sink.read(spark, "snap").select("user_id", "event_id")
        .as[(Long, Long)].collect().toMap
    }
    assert(run(MergePipeline.defaultOrdering, "default")
      === Map(1L -> 10L, 2L -> 21L))
    assert(run(MergePipeline.configOrdering("__source_ts_ns",
        tieBreak = Seq("event_id")), "ns")
      === Map(1L -> 11L, 2L -> 21L))
  }

  test("max batch-size wait fills or times out, and skips during snapshots") {
    import graft.streaming.MaxBatchSizeWait
    var slept = 0L
    val wait = new MaxBatchSizeWait(maxBatchSize = 100, maxWaitMs = 1000,
      waitIntervalMs = 100, sleep = ms => slept += ms)
    // queue fills after 3 polls → waited 3 intervals
    var polls = 0
    assert(wait.waitMs(() => { polls += 1; if (polls > 3) 100L else 0L }) === 300L)
    // queue never fills → waits out maxWaitMs
    slept = 0L
    assert(wait.waitMs(() => 0L) === 1000L && slept === 1000L)
    // snapshot running → no wait at all
    slept = 0L
    assert(wait.waitMs(() => 0L, () => true) === 0L && slept === 0L)
  }

  test("dynamic batch-size wait mirrors the reference controller bands") {
    val wait = new DynamicBatchSizeWait(maxBatchSize = 1000, maxWaitMs = 10000)
    // a near-empty batch grows the sleep proportionally (last × max/obs),
    // clamped at maxWaitMs
    assert(wait.nextWaitMs(10) === 10000L)
    // an empty poll repeats the last sleep unchanged
    assert(wait.nextWaitMs(0) === 10000L)
    // the 3-sample average lags: two full batches keep fill < 97%
    assert(wait.nextWaitMs(1000) === 10000L)
    assert(wait.nextWaitMs(1000) === 10000L)
    // sustained full batches halve the sleep per step
    assert(wait.nextWaitMs(1000) === 5000L)
    assert(wait.nextWaitMs(1000) === 2500L)
    // decay bands: ≥95% → ×0.65, ≥90% → ×0.80, then 85-90% holds
    assert(wait.nextWaitMs(870) === 1625L)
    assert(wait.nextWaitMs(870) === 1300L)
    assert(wait.nextWaitMs(870) === 1300L)
  }
}
