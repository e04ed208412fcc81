package graft.state

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

private[state] object StoreFiles {
  /** Snapshot of the store's current data files (part files and their
    * `.crc` shadows — everything a later compaction must retire). */
  def dataFiles(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.contains("part-"))
        .toVector
      finally s.close()
    }
  }

  /** The directory exists and holds at least one entry. The listing is
    * closed here: an unclosed `Files.list` keeps its descriptor open. */
  def nonEmpty(path: String): Boolean = {
    val p = Paths.get(path)
    Files.exists(p) && {
      val s = Files.list(p)
      try s.findFirst().isPresent finally s.close()
    }
  }
}

/** Offset checkpoint store: a tiny parquet key/value table, the analog of
  * the reference's `_debezium_offset_storage` BigQuery table
  * (BigqueryOffsetBackingStore.java — keyed rows, latest value wins on
  * reload). Writes append (key, value, seq); reads resolve latest per
  * key with a `max_by` aggregation — the same latest-wins shape the CDC
  * dedup uses, and safe against partially-compacted history.
  *
  * Commit cost is O(1): the sequence number is read from disk once per
  * instance and cached (r3 re-scanned the whole store per put), and every
  * `compactEvery` generations the store rewrites itself as a single
  * latest-per-key generation — a long-lived stream no longer accumulates
  * one file and one O(generations) read per micro-batch.
  *
  * SINGLE WRITER: like the reference's offset table, the store assumes
  * one live writer per path (Debezium's engine holds exactly one offset
  * writer). The cached sequence is re-validated against disk at every
  * compaction boundary, so a violated assumption surfaces within
  * `compactEvery` puts rather than never — but two concurrent writers
  * can still interleave colliding generations between boundaries. */
class OffsetStore(val path: String, spark: SparkSession,
                  val compactEvery: Int = 64) {

  import spark.implicits._

  private def exists: Boolean = StoreFiles.nonEmpty(path)

  /** Highest seq written, cached after the first disk read; -1 = empty. */
  private var cachedSeq: Long = Long.MinValue

  private def lastSeq(): Long = {
    if (cachedSeq == Long.MinValue)
      cachedSeq =
        if (!exists) -1L
        else spark.read.parquet(path)
          .agg(max("seq")).as[Option[Long]].head().getOrElse(-1L)
    cachedSeq
  }

  /** Append a batch of key→value pairs as one new generation. */
  def put(offsets: Map[String, String]): Unit = {
    val seq = lastSeq() + 1L
    offsets.toSeq.toDF("key", "value")
      .withColumn("seq", lit(seq))
      .coalesce(1)
      .write.mode("append").parquet(path)
    cachedSeq = seq
    if (seq > 0 && seq % compactEvery == 0) compact()
  }

  /** Rewrite the store as ONE latest-per-key generation at the current
    * seq — crash-safely: the compacted generation is APPENDED first and
    * the superseded part files are deleted only after that write commits
    * (ADVICE r4: `mode("overwrite")` deleted history before the new write
    * committed, so a mid-compact crash wiped all offsets). A crash in the
    * delete window leaves duplicate rows at the same seq with identical
    * values, which the `max_by` in [[load]] resolves to the same answer.
    * State is collected first (a handful of keys by design) so the append
    * never reads the path it rewrites. */
  def compact(): Unit = {
    val latest = load()
    if (latest.nonEmpty) {
      cachedSeq = Long.MinValue // re-validate against disk (single-writer check)
      val seq = lastSeq()
      val old = StoreFiles.dataFiles(path)
      latest.toSeq.toDF("key", "value")
        .withColumn("seq", lit(seq))
        .coalesce(1)
        .write.mode("append").parquet(path)
      old.foreach(Files.deleteIfExists(_))
    }
  }

  /** Latest value per key across all generations. */
  def load(): Map[String, String] =
    if (!exists) Map.empty
    else spark.read.parquet(path)
      .groupBy("key")
      .agg(max_by(col("value"), col("seq")).as("value"))
      .as[(String, String)].collect().toMap

  /** One-time migration of a FILE-based Debezium offset into this
    * store — the reference's `bigquery.migrate-offset-file`
    * (BigqueryOffsetBackingStore.java:163-185 `loadFileOffset`, called
    * from `initializeTable`:110-117 only when the storage table was
    * just CREATED). Same semantics here:
    *
    *  - migrate-only-on-creation: a store that has EVER been written —
    *    any generation, including the empty one a prior empty-file
    *    migration left — is never touched (the reference only migrates
    *    when the storage table was just created); returns false;
    *  - a missing/non-regular file is a warn-and-skip no-op (the
    *    reference logs and returns), NOT an error — returns false;
    *  - the file is Kafka Connect's `FileOffsetBackingStore` format: a
    *    Java-serialized `HashMap<byte[], byte[]>` of UTF-8 key/value
    *    bytes. Anything else deserializable but not a HashMap throws
    *    (the reference's ConnectException), as does a corrupt stream;
    *  - entries with a NULL key are skipped (the store is keyed; the
    *    reference's `set` path skips them too).
    *
    * The imported map lands as ONE ordinary generation via [[put]] —
    * written even when the parsed map is EMPTY (a zero-row marker
    * generation, ADVICE r16), so idempotence is structural either way:
    * the second call sees an existing store and no-ops instead of
    * re-migrating a later file. Driver-side file IO on a KB-sized
    * artifact — never a Spark job over the file. Returns true iff a
    * migration ran. */
  def migrateFromFile(file: String): Boolean = {
    if (exists) return false
    val p = Paths.get(file)
    if (!Files.isRegularFile(p)) return false
    // the offset file is UNTRUSTED input — the reference reads it with
    // Kafka's SafeObjectInputStream for exactly this reason; resolve
    // only the classes the FileOffsetBackingStore format can contain
    // (HashMap + byte[]), so a hostile file cannot drive arbitrary
    // deserialization. The raw stream is opened first so a corrupt
    // header (constructor throw) cannot leak it.
    val fis = Files.newInputStream(p)
    val raw =
      try {
        val in = new java.io.ObjectInputStream(fis) {
          override def resolveClass(d: java.io.ObjectStreamClass): Class[_] = {
            val ok = Set("java.util.HashMap", "[B")
            if (!ok.contains(d.getName))
              throw new java.io.InvalidClassException(
                d.getName, "class not allowed in an offset file")
            super.resolveClass(d)
          }
        }
        in.readObject()
      } finally fis.close()
    val entries = raw match {
      case m: java.util.HashMap[_, _] =>
        m.asScala.toSeq.collect {
          case (k: Array[Byte], v) if k != null =>
            new String(k, java.nio.charset.StandardCharsets.UTF_8) ->
              (v match {
                case b: Array[Byte] =>
                  new String(b, java.nio.charset.StandardCharsets.UTF_8)
                case null => null
              })
        }
      case other => throw new IllegalStateException(
        s"expected HashMap in offset file but found ${other.getClass}")
    }
    put(entries.toMap) // empty map → zero-row marker generation
    true
  }
}

/** Schema-history store: an append-only parquet log, the analog of the
  * reference's `_debezium_database_history_storage`
  * (BigquerySchemaHistory.java — monotonically-ordered DDL records,
  * replayed in order on restart). Implements the reference's recovery
  * contract surface: `storageExists` (the storage table/path is present,
  * BigquerySchemaHistory.java:158-168), `exists` (it holds records,
  * :150-156) and `recover` (replay every record, in order, into a
  * consumer — the shape of `recoverRecords`, :127-143).
  *
  * Like [[OffsetStore]], the sequence is cached per instance and the log
  * compacts every `compactEvery` records into a single file — compaction
  * keeps EVERY record (replay needs the full history), it only merges the
  * one-file-per-append generations. Single-writer per path, with the same
  * compaction-boundary re-validation as [[OffsetStore]]. */
class SchemaHistory(val path: String, spark: SparkSession,
                    val compactEvery: Int = 64) {

  import spark.implicits._

  /** The storage location exists (reference `storageExists`). */
  def storageExists: Boolean = StoreFiles.nonEmpty(path)

  /** The history holds at least one record (reference `exists`). */
  def exists: Boolean = storageExists && !asDF.isEmpty

  private var cachedSeq: Long = Long.MinValue

  private def lastSeq(): Long = {
    if (cachedSeq == Long.MinValue)
      cachedSeq =
        if (!storageExists) -1L
        else spark.read.parquet(path)
          .agg(max("seq")).as[Option[Long]].head().getOrElse(-1L)
    cachedSeq
  }

  /** Append one schema-change record (e.g. a DDL statement or schema
    * JSON). */
  def record(entry: String): Unit = {
    val seq = lastSeq() + 1L
    Seq((seq, entry, System.currentTimeMillis()))
      .toDF("seq", "entry", "recorded_at_ms")
      .coalesce(1)
      .write.mode("append").parquet(path)
    cachedSeq = seq
    if (seq > 0 && seq % compactEvery == 0) compact()
  }

  /** Merge all generations into one file, preserving every record —
    * crash-safely, like [[OffsetStore.compact]]: append the merged file
    * first, delete the superseded part files only after the write
    * commits. Schema-history loss is unrecoverable (replay IS the
    * recovery contract), so the old delete-then-write overwrite was the
    * worst possible place for a crash window. A crash between the append
    * and the deletes leaves exact-duplicate rows, which [[replay]]
    * collapses by seq. The log is collected first (DDL-sized) so the
    * append never reads the path it rewrites. */
  def compact(): Unit = {
    val all = if (!storageExists) Seq.empty
      else spark.read.parquet(path)
        .dropDuplicates("seq")
        .orderBy("seq")
        .as[(Long, String, Long)].collect().toSeq
    if (all.nonEmpty) {
      cachedSeq = Long.MinValue // re-validate against disk (single-writer check)
      lastSeq()
      val old = StoreFiles.dataFiles(path)
      all.toDF("seq", "entry", "recorded_at_ms")
        .coalesce(1)
        .write.mode("append").parquet(path)
      old.foreach(Files.deleteIfExists(_))
    }
  }

  /** Replay the full history in append order. `dropDuplicates("seq")`
    * tolerates the half-compacted state (merged file committed, old
    * generations not yet deleted) — duplicates are exact copies. */
  def replay(): Seq[String] =
    if (!storageExists) Seq.empty
    else spark.read.parquet(path)
      .dropDuplicates("seq")
      .orderBy("seq").select("entry").as[String].collect().toSeq

  /** Recovery: feed every record, oldest first, to `consume` — the
    * reference's `recoverRecords(Consumer<HistoryRecord>)` shape. */
  def recover(consume: String => Unit): Unit = replay().foreach(consume)

  /** One-time migration of a FILE-based Debezium schema history into
    * this store — the reference's `bigquery.migrate-history-file`
    * (BigquerySchemaHistory.java:226-240 `loadFileSchemaHistory`,
    * called from `initializeStorage`:204-216 only when the storage
    * was just created). Same semantics here:
    *
    *  - load-only-if-empty: a history that already holds records is
    *    never touched — returns false;
    *  - missing/non-regular file: warn-and-skip no-op, returns false;
    *  - the file is Debezium's `FileSchemaHistory` format — JSON
    *    LINES, one HistoryRecord document per line; EMPTY lines are
    *    skipped (the reference's `line.isEmpty()` guard), everything
    *    else is stored verbatim IN FILE ORDER with consecutive seqs,
    *    so the migrated log replays in the exact original sequence.
    *    The whole file lands as ONE bulk generation (the reference
    *    stores line-by-line because each store is a warehouse insert;
    *    here one append preserves the same per-record ordering
    *    without one Spark write per DDL line).
    *
    * Idempotence is structural: the second call sees a non-empty
    * history and no-ops. Driver-side file IO on a DDL-sized artifact.
    * Returns the number of migrated records (0 = no migration ran).
    *
    * DELIBERATE DEVIATION (ADVICE r16): a mid-read IOException
    * PROPAGATES here, where the reference's `loadFileSchemaHistory`
    * (BigquerySchemaHistory.java:239) logs-and-continues with a
    * partial import. A truncated history replay silently loses DDL —
    * the connector then mis-parses every later change for the
    * affected tables — so an unreadable file should stop the one-time
    * migration loudly and let the operator fix the file and re-run
    * (nothing was written, the store is still empty). */
  def migrateFromFile(file: String): Int = {
    if (exists) return 0
    val p = Paths.get(file)
    if (!Files.isRegularFile(p)) return 0
    val recs = Files.readAllLines(
      p, java.nio.charset.StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).toSeq
    if (recs.nonEmpty) {
      val start = lastSeq() + 1L
      val now = System.currentTimeMillis()
      recs.zipWithIndex
        .map { case (e, i) => (start + i, e, now) }
        .toDF("seq", "entry", "recorded_at_ms")
        .coalesce(1)
        .write.mode("append").parquet(path)
      cachedSeq = start + recs.length - 1
    }
    recs.length
  }

  def asDF: DataFrame = spark.read.parquet(path)

  /** Schema-drift report over the recorded DDL log: per table, when it
    * was created (seq), how many columns it started with, how many ADD
    * COLUMN events followed, the resulting width, and the last change —
    * the "which tables drift fastest" ops view a CDC operator reads
    * before a consumer breaks on a surprise column. A table whose
    * n_added climbs every week has an upstream writing unvetted fields;
    * a table with none is safe to pin a static schema on.
    *
    * Pure column parsing over the DDL-sized history frame (compaction
    * keeps it one file; this never touches data tables). Duplicate seq
    * rows from the compaction crash window collapse exactly like
    * [[replay]] does. */
  def driftReport(): DataFrame = {
    import org.apache.spark.sql.functions._
    val pat = "^(CREATE|ALTER) TABLE (\\S+)"
    // column count = top-level commas + 1: nested type-parameter groups
    // are stripped first so MAP<K, V>, STRUCT<a: INT, b: INT> and
    // DECIMAL(12,2) commas never count as column separators (depth ≤ 4
    // covers any sane DDL; deeper nests degrade to an overcount, never
    // an error)
    val colList = regexp_extract(col("entry"), "\\((.*)\\)", 1)
    val stripped = (1 to 4).foldLeft(colList)((c, _) =>
      regexp_replace(regexp_replace(c, "<[^<>]*>", ""), "\\([^()]*\\)", ""))
    val isAdd = col("op") === "ALTER" && col("entry").rlike("ADD COLUMN")
    val parsed = asDF.dropDuplicates("seq").select(
      col("seq"), col("entry"),
      regexp_extract(col("entry"), pat, 1).as("op"),
      regexp_extract(col("entry"), pat, 2).as("tbl"),
      when(regexp_extract(col("entry"), pat, 1) === "CREATE",
        // split("") yields [""] (size 1), so a degenerate CREATE with an
        // empty column list '()' must report 0, not 1 (ADVICE r11)
        when(length(trim(stripped)) === 0, 0)
          .otherwise(size(split(stripped, ","))))
        .otherwise(0).as("init_cols"))
    parsed.groupBy(col("tbl").as("table"))
      .agg(
        min(when(col("op") === "CREATE", col("seq"))).as("created_seq"),
        max(col("init_cols")).cast("long").as("n_initial_cols"),
        // only ADD COLUMN alters widen the table — type changes,
        // renames, drops et al. are drift events but not width growth
        sum(when(isAdd, 1L).otherwise(0L)).as("n_added"),
        (max(col("init_cols")).cast("long") +
          sum(when(isAdd, 1L).otherwise(0L)))
          .as("n_columns"),
        max(col("seq")).as("last_change_seq"))
  }
}
