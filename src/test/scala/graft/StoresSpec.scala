package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.state.{OffsetStore, SchemaHistory}

class StoresSpec extends AnyFunSuite with SparkFixture {

  test("offset store: empty load, then latest value per key wins across generations") {
    val store = new OffsetStore(tmpDir("offsets_") + "/offsets", spark)
    assert(store.load() === Map.empty)
    store.put(Map("src/0" -> "lsn:100", "src/1" -> "lsn:5"))
    store.put(Map("src/0" -> "lsn:200"))
    assert(store.load() === Map("src/0" -> "lsn:200", "src/1" -> "lsn:5"))
  }

  test("offset store: a fresh instance over the same path resumes state") {
    val path = tmpDir("offsets_resume_") + "/offsets"
    new OffsetStore(path, spark).put(Map("k" -> "v1"))
    val reopened = new OffsetStore(path, spark)
    assert(reopened.load() === Map("k" -> "v1"))
    reopened.put(Map("k" -> "v2"))
    assert(new OffsetStore(path, spark).load() === Map("k" -> "v2"))
  }

  test("offset store compacts periodically and a fresh instance resumes after it") {
    val path = tmpDir("offsets_compact_") + "/offsets"
    val store = new OffsetStore(path, spark, compactEvery = 4)
    (0 until 10).foreach(i => store.put(Map("k" -> s"v$i", s"other$i" -> "x")))
    assert(store.load()("k") === "v9")
    // compactions at seq 4 and 8 bound the file count: the dir holds the
    // seq-8 compacted generation plus the seq-9 append, not 10 files
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .count(_.startsWith("part-")) // data files only, not .crc shadows
    assert(parts <= 3, s"compaction left $parts part files")
    // resume across instances, including writes after reopening
    val reopened = new OffsetStore(path, spark, compactEvery = 4)
    assert(reopened.load()("k") === "v9")
    reopened.put(Map("k" -> "v10"))
    assert(new OffsetStore(path, spark).load()("k") === "v10")
  }

  test("schema history: exists/recover surface and order-preserving compaction") {
    // surface parity with BigquerySchemaHistory.java:127-168
    // (storageExists / exists / recoverRecords)
    val path = tmpDir("hist_compact_") + "/history"
    val hist = new SchemaHistory(path, spark, compactEvery = 3)
    assert(!hist.storageExists && !hist.exists)
    (0 until 7).foreach(i => hist.record(s"DDL $i"))
    assert(hist.storageExists && hist.exists)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    hist.recover(seen += _)
    assert(seen.toSeq === (0 until 7).map(i => s"DDL $i"))
    // a fresh instance appends after compaction without losing order
    val reopened = new SchemaHistory(path, spark)
    reopened.record("DDL 7")
    assert(reopened.replay() === (0 to 7).map(i => s"DDL $i"))
  }

  test("stores tolerate a crash mid-compaction (new generation written, old not yet deleted)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Compaction appends the merged generation BEFORE deleting superseded
    // files (ADVICE r4: overwrite-mode compaction wiped history if the
    // job died mid-write). Recreate the worst crash window by restoring
    // the superseded files after compact() — the dir then holds both the
    // old generations and the compacted one, and reads must not change.
    def partFiles(dir: String) = {
      val s = Files.list(Paths.get(dir))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")).toSeq
      finally s.close()
    }
    def withRestore(dir: String)(body: => Unit): Unit = {
      val stash = Files.createTempDirectory("crash_stash_")
      val old = partFiles(dir)
      old.foreach(f => Files.copy(f, stash.resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
      body
      old.foreach(f => Files.copy(stash.resolve(f.getFileName), f,
        StandardCopyOption.REPLACE_EXISTING))
    }

    val oPath = tmpDir("offsets_crash_") + "/offsets"
    val store = new OffsetStore(oPath, spark, compactEvery = 1000)
    store.put(Map("k" -> "v1", "j" -> "a"))
    store.put(Map("k" -> "v2"))
    withRestore(oPath) { store.compact() }
    assert(store.load() === Map("k" -> "v2", "j" -> "a"))
    assert(new OffsetStore(oPath, spark).load() === Map("k" -> "v2", "j" -> "a"))

    val hPath = tmpDir("hist_crash_") + "/history"
    val hist = new SchemaHistory(hPath, spark, compactEvery = 1000)
    (0 until 5).foreach(i => hist.record(s"DDL $i"))
    withRestore(hPath) { hist.compact() }
    assert(hist.replay() === (0 until 5).map(i => s"DDL $i"))
    // and the next compact() cleans the duplicates up for good
    hist.compact()
    assert(hist.replay() === (0 until 5).map(i => s"DDL $i"))
    assert(new SchemaHistory(hPath, spark).replay() === (0 until 5).map(i => s"DDL $i"))
  }

  test("schema history: replay returns entries in append order") {
    val hist = new SchemaHistory(tmpDir("hist_") + "/history", spark)
    assert(hist.replay() === Seq.empty)
    hist.record("CREATE TABLE t (a INT)")
    hist.record("ALTER TABLE t ADD COLUMN b STRING")
    hist.record("ALTER TABLE t ALTER COLUMN a DROP NOT NULL")
    assert(hist.replay() === Seq(
      "CREATE TABLE t (a INT)",
      "ALTER TABLE t ADD COLUMN b STRING",
      "ALTER TABLE t ALTER COLUMN a DROP NOT NULL"))
  }

  test("stores read Spark-written generations followed by driver-written ones, latest wins") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // generations as earlier stores wrote them: one Spark write job each
    val oPath = tmpDir("offsets_mixed_") + "/offsets"
    Seq(Seq("k" -> "v0", "j" -> "a"), Seq("k" -> "v1")).zipWithIndex.foreach {
      case (gen, seq) =>
        gen.toDF("key", "value").withColumn("seq", lit(seq.toLong))
          .coalesce(1).write.mode("append").parquet(oPath)
    }
    val sparkSchema = spark.read.parquet(oPath).schema
    val store = new OffsetStore(oPath, spark, compactEvery = 3)
    assert(store.load() === Map("k" -> "v1", "j" -> "a"))
    store.put(Map("k" -> "v2", "i" -> "x")) // seq 2
    assert(new OffsetStore(oPath, spark).load() === Map("k" -> "v2", "j" -> "a", "i" -> "x"))
    store.put(Map("j" -> "b")) // seq 3: compacts Spark- and driver-written files together
    val reopened = new OffsetStore(oPath, spark)
    assert(reopened.load() === Map("k" -> "v2", "j" -> "b", "i" -> "x"))
    reopened.put(Map("k" -> "v4"))
    assert(new OffsetStore(oPath, spark).load()("k") === "v4")
    // only driver-written files are left, and they read with the schema
    // the Spark-written ones had
    assert(spark.read.parquet(oPath).schema === sparkSchema)

    val hPath = tmpDir("hist_mixed_") + "/history"
    (0 until 2).foreach { i =>
      Seq((i.toLong, s"DDL $i", 0L)).toDF("seq", "entry", "recorded_at_ms")
        .coalesce(1).write.mode("append").parquet(hPath)
    }
    val hist = new SchemaHistory(hPath, spark, compactEvery = 3)
    hist.record("DDL 2")
    hist.record("DDL 3") // seq 3: compaction over both kinds of file
    hist.record("DDL 4")
    assert(new SchemaHistory(hPath, spark).replay() === (0 to 4).map(i => s"DDL $i"))
  }

  test("a put leaves one part file per generation and no temp file behind") {
    val path = tmpDir("offsets_tmp_") + "/offsets"
    val store = new OffsetStore(path, spark)
    (0 until 3).foreach(i => store.put(Map("k" -> s"v$i")))
    val names = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSeq
      finally s.close()
    }
    val data = names.filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(data.size === 3 && data.forall(_.startsWith("part-")), names)
    // hidden entries are only the data files' checksum shadows
    assert(names.filter(_.startsWith(".")).forall(n =>
      n.startsWith(".part-") && n.endsWith(".crc")), names)
    assert(!names.exists(_.contains(".tmp")), names)
    // and readers list exactly those files
    assert(spark.read.parquet(path).inputFiles.length === 3)

    val hPath = tmpDir("hist_tmp_") + "/history"
    val hist = new SchemaHistory(hPath, spark)
    hist.record("CREATE TABLE t (a INT)")
    assert(spark.read.parquet(hPath).inputFiles.length === 1)
    assert(!new java.io.File(hPath).list().exists(_.contains(".tmp")))
  }

  test("an empty-map generation marks the store as written and loads empty") {
    val path = tmpDir("offsets_marker_") + "/offsets"
    val store = new OffsetStore(path, spark)
    assert(!store.exists)
    store.put(Map.empty)
    assert(store.exists)
    assert(store.load() === Map.empty)
    assert(new OffsetStore(path, spark).load() === Map.empty)
    // a marker-only store is "already written": migration stays a no-op
    val f = java.nio.file.Files.createTempFile("offsets_", ".dat")
    val out = new java.io.ObjectOutputStream(java.nio.file.Files.newOutputStream(f))
    try {
      val m = new java.util.HashMap[Array[Byte], Array[Byte]]()
      m.put("k".getBytes("UTF-8"), "v".getBytes("UTF-8"))
      out.writeObject(m)
    } finally out.close()
    assert(!store.migrateFromFile(f.toString))
    assert(new OffsetStore(path, spark).load() === Map.empty)
  }
}
