package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergePipeline
import graft.sinks.{CreateDisposition, WarehouseSink, WriteDisposition}

class WarehouseSinkSpec extends AnyFunSuite with SparkFixture {

  private def monthDf = {
    import spark.implicits._
    Seq(
      (1L, "2024-01-10 00:00:00", 1.0),
      (2L, "2024-02-10 00:00:00", 2.0),
      (3L, "2024-02-20 00:00:00", 3.0)
    ).toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("part_month", WarehouseSink.monthPartition("ts"))
  }

  test("write lays out month partition directories") {
    val sink = new WarehouseSink(tmpDir("wh_layout_"))
    sink.write(monthDf, "t", "part_month", Seq("id"))
    val dirs = Files.list(Paths.get(sink.tablePath("t"))).toArray.map(_.toString)
      .filter(_.contains("part_month=")).sorted
    assert(dirs.length === 2)
    assert(dirs.exists(_.contains("2024-01")) && dirs.exists(_.contains("2024-02")))
    assert(sink.read(spark, "t").count() === 3)
  }

  test("CREATE_NEVER fails on a missing table; WRITE_EMPTY fails on a non-empty one") {
    val sink = new WarehouseSink(tmpDir("wh_disp_"))
    intercept[IllegalStateException] {
      sink.write(monthDf, "t", "part_month", Seq("id"),
        createDisposition = CreateDisposition.CreateNever)
    }
    sink.write(monthDf, "t", "part_month", Seq("id"))
    intercept[IllegalStateException] {
      sink.write(monthDf, "t", "part_month", Seq("id"),
        writeDisposition = WriteDisposition.WriteEmpty)
    }
    // WRITE_TRUNCATE replaces rather than appends
    sink.write(monthDf, "t", "part_month", Seq("id"),
      writeDisposition = WriteDisposition.WriteTruncate)
    assert(sink.read(spark, "t").count() === 3)
  }

  test("dynamic overwrite rewrites only the partitions present in the frame") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("wh_dyn_"))
    sink.write(monthDf, "t", "part_month", Seq("id"))
    // replace ONLY February with a single new row
    val feb = Seq((9L, "2024-02-15 00:00:00", 9.9))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("part_month", WarehouseSink.monthPartition("ts"))
    sink.write(feb, "t", "part_month", Seq("id"), dynamicOverwrite = true)
    val out = sink.read(spark, "t").select("id").as[Long].collect().sorted
    // January row intact, February rows replaced by the one new row
    assert(out === Array(1L, 9L))
  }

  test("bucket-partitioned MERGE equals full-history snapshot") {
    val sink = new WarehouseSink(tmpDir("wh_merge_"))
    val events = Tables.events(spark, sfDir)
    val cutoff = lit("2024-01-15").cast("timestamp")
    MergePipeline.mergeBatch(spark, sink, "snap",
      graft.cdc.Cdc.flatten(events.filter(col("ts") < cutoff)), Seq("user_id"))
    MergePipeline.mergeBatch(spark, sink, "snap",
      graft.cdc.Cdc.flatten(events.filter(col("ts") >= cutoff)), Seq("user_id"))
    val got = sink.read(spark, "snap").drop("part_bucket")
    val want = graft.cdc.Cdc.upsertSnapshot(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // each bucket is one file, its rows in cluster order (key, source ts)
    val buckets = Files.list(Paths.get(sink.tablePath("snap"))).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.contains("part_bucket="))
    assert(buckets.nonEmpty)
    buckets.foreach { dir =>
      val files = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      assert(files.length === 1, dir)
      val rows = spark.read.parquet(files.head.toString)
        .select(col("user_id"), col("__source_ts_ms").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows === rows.sorted, dir)
    }
  }

  test("MERGE with a non-default bucket count lays out and matches the snapshot") {
    val sink = new WarehouseSink(tmpDir("wh_buckets_"))
    val events = Tables.events(spark, sfDir)
    val cutoff = lit("2024-01-15").cast("timestamp")
    MergePipeline.mergeBatch(spark, sink, "snap",
      graft.cdc.Cdc.flatten(events.filter(col("ts") < cutoff)), Seq("user_id"),
      numBuckets = 7)
    MergePipeline.mergeBatch(spark, sink, "snap",
      graft.cdc.Cdc.flatten(events.filter(col("ts") >= cutoff)), Seq("user_id"),
      numBuckets = 7)
    // layout really is 7-way: every partition dir in [0, 7)
    val dirs = Files.list(Paths.get(sink.tablePath("snap"))).toArray
      .map(_.toString).filter(_.contains("part_bucket="))
      .map(_.split("part_bucket=").last.toInt)
    assert(dirs.nonEmpty && dirs.forall(b => b >= 0 && b < 7))
    val got = sink.read(spark, "snap").drop("part_bucket")
    val want = graft.cdc.Cdc.upsertSnapshot(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("clustering caps at the reference's 4 fields: PK prefix + source ts") {
    // BatchBigqueryChangeConsumer.java:95-113 — Clustering over PK fields
    // keeps at most 3 and appends __source_ts_ms (BigQuery's 4-field cap)
    assert(WarehouseSink.clusteringColumns(Seq("a", "b", "c", "d", "e"))
      === Seq("a", "b", "c", "__source_ts_ms"))
    assert(WarehouseSink.clusteringColumns(Seq("id"))
      === Seq("id", "__source_ts_ms"))
    // write() tolerates an over-wide cluster list by sorting on its cap
    val sink = new WarehouseSink(tmpDir("wh_cap_"))
    sink.write(monthDf, "t", "part_month", Seq("id", "v", "ts", "id", "v", "ts"))
    assert(sink.read(spark, "t").count() === 3)
  }

  test("a key moves buckets never: stale rows cannot hide from the pruned merge") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("wh_stable_"))
    // key 7 first appears in January, then is updated in March: with a
    // time-partitioned snapshot the January row would be stranded; the
    // bucket layout rewrites it in place.
    def batch(op: String, ts: String, id: Long, v: Double) =
      Seq((id, 7L, "click", v, ts, Option.empty[Long], op, 0L, ts, false))
        .toDF("event_id", "user_id", "event_type", "value", "ts", "prop_k",
          "__op", "__ts_ms", "__source_ts_ms", "__deleted")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("__source_ts_ms", col("__source_ts_ms").cast("timestamp"))
    MergePipeline.mergeBatch(spark, sink, "s",
      batch("c", "2024-01-01 00:00:00", 1L, 1.0), Seq("user_id"))
    MergePipeline.mergeBatch(spark, sink, "s",
      batch("u", "2024-03-01 00:00:00", 2L, 2.0), Seq("user_id"))
    val rows = sink.read(spark, "s")
      .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect()
    assert(rows === Array((7L, 2L, 2.0)))

    // a delete that EMPTIES the key's bucket must still purge the old row
    // (dynamic overwrite alone can't rewrite a partition with no output
    // rows — the pipeline drops touched-but-empty bucket dirs explicitly)
    MergePipeline.mergeBatch(spark, sink, "s",
      batch("d", "2024-04-01 00:00:00", 3L, 0.0), Seq("user_id"))
    // every key deleted → no data files left → table reads as absent
    assert(!sink.tableExists("s"))
  }

  test("field relaxation: REQUIRED column takes nulls across appends") {
    // the reference's allow-field-relaxation (BatchConsumerConfig.java:55-57,
    // default true): a later append may carry a previously-REQUIRED column
    // as nullable. In the parquet warehouse relaxation is INHERENT and
    // always on — Spark file sources read every column as nullable, so an
    // append with nulls in a column the seed wrote as required succeeds and
    // the merged read reports the column nullable. (Divergence from the
    // reference, documented: relaxation cannot be switched OFF here —
    // there is no flag that makes the warehouse reject the null append.
    // Enforcement, if wanted, is an upstream quality gate, e.g.
    // TypeMap.convertWithRejects requiredCols.)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sink = new WarehouseSink(tmpDir("wh_relax_"))
    val required = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val seed = spark.createDataFrame(
      java.util.List.of(Row(1L, "a")), required)
      .withColumn("p", lit(0))
    assert(!seed.schema("name").nullable)
    sink.evolveAndAppend(spark, seed, "t_relax", "p", Nil)
    // append the SAME column, now nullable and actually null
    val relaxed = spark.createDataFrame(
      java.util.List.of(Row(2L, null)),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true))))
      .withColumn("p", lit(0))
    sink.evolveAndAppend(spark, relaxed, "t_relax", "p", Nil)
    val back = sink.read(spark, "t_relax")
    assert(back.schema("name").nullable)
    val rows = back.select("id", "name").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(1L -> Some("a"), 2L -> None))
  }

  test("compaction: many small appended files collapse to the target, data intact") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("wh_compact_"))
    // five appends à 2 rows into the same two month partitions → each
    // partition accumulates one file per append (the small-file debt)
    (0 until 5).foreach { i =>
      val df = Seq(
        (i * 2 + 0L, "2024-01-10 00:00:00", i.toDouble),
        (i * 2 + 1L, "2024-02-10 00:00:00", i.toDouble))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("part_month", WarehouseSink.monthPartition("ts"))
      sink.write(df, "t", "part_month", Seq("id"))
    }
    val before = sink.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    val plan = sink.compactionPlan(spark, "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(4)))
    assert(plan.length === 2)
    // ≥ 5 data files per partition (one per append), all flagged:
    // KB-sized files against a 128 MiB target always want ONE file
    assert(plan.forall { case (_, n, needs) => n >= 5 && needs })
    val rewritten = sink.compact(spark, "t")
    assert(rewritten.toSet === plan.map(_._1).toSet)
    // post-compaction: one file per partition, plan goes clean, and the
    // table reads back identically
    val after = sink.compactionPlan(spark, "t").collect()
      .map(r => (r.getLong(1), r.getBoolean(4)))
    assert(after.forall { case (n, needs) => n === 1 && !needs })
    assert(sink.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet === before)
    // an already-clean table is a no-op
    assert(sink.compact(spark, "t").isEmpty)
  }

  test("retention: partitions before the cutoff drop, the rest read back intact") {
    import spark.implicits._
    val sink = new WarehouseSink(tmpDir("wh_retain_"))
    val df = Seq(
      (1L, "2023-11-10 00:00:00", 1.0), (2L, "2023-12-10 00:00:00", 2.0),
      (3L, "2024-01-10 00:00:00", 3.0), (4L, "2024-02-10 00:00:00", 4.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("part_month", WarehouseSink.monthPartition("ts"))
    sink.write(df, "t", "part_month", Seq("id"))
    // the plan: 4 partitions, the two 2023 months flagged, bytes counted
    val plan = sink.retentionPlan("t", "2024-01-01")
    assert(plan.length === 4)
    assert(plan.count(_.expired) === 2)
    assert(plan.forall(_.totalBytes > 0))
    assert(plan.filter(_.expired).forall(_.value < "2024-01-01"))
    // expire drops exactly the flagged pair; metadata-only, no rewrite
    val dropped = sink.expire("t", "2024-01-01")
    assert(dropped.toSet === plan.filter(_.expired).map(_.partition).toSet)
    val kept = sink.read(spark, "t").select("id").as[Long].collect().toSet
    assert(kept === Set(3L, 4L))
    // idempotent: a second pass finds nothing expired
    assert(sink.expire("t", "2024-01-01").isEmpty)
    assert(sink.retentionPlan("t", "2024-01-01").length === 2)
  }
}
