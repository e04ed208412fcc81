package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.sinks.BucketStore

/** Span-level exact dedup (the "paragraph/line dedup" of C4-style
  * pipelines, generalized): split every document into fixed-size token
  * chunks, drop every chunk whose exact text already occurred earlier in
  * the corpus (first occurrence wins, ordered by (doc_id, chunk_ord)),
  * and reassemble the surviving chunks into the cleaned document. A doc
  * whose every chunk occurred before (e.g. an exact copy of an earlier
  * doc) disappears entirely — span dedup subsumes whole-doc exact dedup.
  *
  * On corpora with newline structure the chunker would be
  * `split(text, '\n')` (true paragraph dedup); the synthetic `documents`
  * table is single-line (TESTDATA.md), so the fixed-token chunker stands
  * in — the plan shape is identical either way.
  *
  * Scale design: the dedup key is a 128-bit hash pair of the chunk (two
  * independent xxhash64 seeds — same collision stance as the md5 key in
  * [[Dedup.dedupExact]], but 16 bytes of longs instead of a 32-byte hex
  * string on the shuffle wire). One shuffle ranks occurrences per chunk
  * key (groups are duplicate-multiplicity sized, so the in-group sort is
  * O(dups)); the second shuffle reassembles docs. Chunk text rides the
  * wire only as agg payload — there is no string equi-join anywhere.
  */
object SpanDedup {

  /** @param chunkTokens tokens per chunk; chunk boundaries are fixed
    *                    offsets (i*chunkTokens), so a duplicated span is
    *                    only caught when aligned — the standard tradeoff
    *                    of chunk-level vs suffix-array substring dedup.
    * @param tokenize    text → token array. Default whitespace split; a
    *                    paragraph chunker (split on newlines, drop empty
    *                    paragraphs) is the documented swap — note such a
    *                    chunker CAN yield an empty array, which
    *                    [[chunkRows]] maps to one empty chunk. */
  def dedupChunks(docs: DataFrame, chunkTokens: Int = 10,
                  tokenize: Column => Column = split(_, " ")): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    reassemble(keepFirst(hashed(chunkRows(docs, chunkTokens, tokenize))))
  }

  /** Driver entry: 10-token span dedup over `documents`. */
  def dedupChunksQ(spark: SparkSession, dir: String): DataFrame =
    dedupChunks(Tables.documents(spark, dir))

  /** Corpus-level boilerplate removal — the C4 "line occurring in ≥3
    * documents" filter generalized to the same fixed-token spans as
    * [[dedupChunks]]: compute each distinct chunk's document frequency
    * and drop EVERY occurrence of chunks reaching `minDf` distinct docs.
    * The semantic difference from span dedup is deliberate: in dedup the
    * first occurrence survives; a cookie banner or nav header is noise
    * in every document INCLUDING the first, so boilerplate is removed
    * wholesale. Docs reassemble from surviving chunks; a doc that was
    * pure boilerplate vanishes (same contract as [[dedupChunks]]).
    *
    * Scale design: document frequency aggregates on the 128-bit
    * chunk-hash pair (16 bytes of longs on the shuffle wire, never the
    * chunk text; the count-distinct's partial phase collapses within-doc
    * repeats map-side), so the heavy chunk frame pays one shuffle for
    * the df count and one for reassembly. The flagged frame
    * (df ≥ minDf) comes back as a LEFT ANTI join on (h1, h2) with NO
    * broadcast hint: a true boilerplate vocabulary is dimension-sized
    * and AQE broadcasts it, while a pathological corpus (most content
    * repeated across minDf+ docs) grows the flagged set past the
    * threshold and degrades to a co-partitioned shuffle anti-join
    * instead of OOMing the driver. Chunking runs twice (df pass + keep
    * pass) by design — at corpus scale re-deriving chunks from the
    * column-pruned scan is cheaper than caching an exploded chunk frame.
    *
    * @param minDf distinct-document threshold; chunks in ≥ minDf docs
    *              are boilerplate. Must be ≥ 2 (minDf ≤ 1 flags every
    *              chunk and empties the corpus). */
  def removeBoilerplate(docs: DataFrame, chunkTokens: Int = 10,
                        minDf: Long = 3,
                        tokenize: Column => Column = split(_, " ")): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf)")
    val chunks = hashed(chunkRows(docs, chunkTokens, tokenize))
    val boiler = chunks
      .groupBy(col("h1"), col("h2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h1"), col("h2"))
    reassemble(chunks.join(boiler, Seq("h1", "h2"), "left_anti"))
  }

  /** Driver entry: df≥3 boilerplate removal over `documents`. */
  def removeBoilerplateQ(spark: SparkSession, dir: String): DataFrame =
    removeBoilerplate(Tables.documents(spark, dir))

  // --- Incremental span dedup against a persisted chunk-hash store ---
  // Fifth member of the store family (exact / minhash / simhash / embed /
  // spans). The store holds only the DISTINCT chunk-hash pairs the corpus
  // has ever contained — 16 bytes per unique span, no text, no keeper ids
  // (span dedup needs existence, not attribution) — a
  // [[graft.sinks.BucketStore]] on the pair, so a batch probe reads only
  // its touched buckets.

  /** Chunk rows of a doc frame: (doc_id, chunk_ord, chunk). */
  private[llm] def chunkRows(docs: DataFrame, chunkTokens: Int,
                             tokenize: Column => Column = split(_, " ")): DataFrame =
    docs
      .select(col("doc_id"), tokenize(col("text")).as("l"))
      .select(col("doc_id"), col("l"),
        // greatest(0, …): an EMPTY token array (legal under a chunker that
        // drops empty paragraphs; unreachable with the whitespace default,
        // where split("") = [""]) would bound the sequence at -1, which
        // Spark walks DOWNWARD — a phantom (0, -1) ord pair whose -1 row
        // feeds slice() a start index of 0 and throws. Guarded, an empty
        // doc produces exactly one empty chunk.
        explode(sequence(lit(0L),
          greatest(lit(0L),
            ceil(size(col("l")) / lit(chunkTokens.toDouble)).cast("long") - 1)))
          .as("chunk_ord"))
      .select(col("doc_id"), col("chunk_ord"),
        array_join(slice(col("l"),
          (col("chunk_ord") * chunkTokens + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk"))

  /** The 128-bit chunk key. h2 hashes the literal FIRST so the chunk is
    * consumed under a different running seed than h1's: Spark's multi-arg
    * xxhash64 folds arguments sequentially with the accumulated hash as
    * the next seed, so the reversed form `xxhash64(chunk, lit(1))` would
    * be a pure function of h1 (any h1 collision ⇒ h2 collision — 64-bit
    * resistance dressed as 128). */
  private def hashed(chunks: DataFrame): DataFrame =
    chunks.select(col("doc_id"), col("chunk_ord"), col("chunk"),
      xxhash64(col("chunk")).as("h1"),
      xxhash64(lit(1), col("chunk")).as("h2"))

  /** Global first occurrence per chunk key: one shuffle on (h1, h2),
    * in-group sort bounded by duplicate multiplicity. */
  private def keepFirst(hashedChunks: DataFrame): DataFrame = {
    val byChunk = Window.partitionBy(col("h1"), col("h2"))
      .orderBy(col("doc_id"), col("chunk_ord"))
    hashedChunks
      .withColumn("rn", row_number().over(byChunk))
      .filter(col("rn") === 1)
  }

  /** Surviving chunks → (doc_id, text); docs with no survivors vanish. */
  private def reassemble(kept: DataFrame): DataFrame =
    kept.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("chunk_ord"), col("chunk")))),
          x => x.getField("chunk"))).as("text"))

  /** Build (or grow) the span store from a corpus: distinct chunk-hash
    * pairs, bucketed on the pair. */
  def buildSpanStore(docs: DataFrame, sink: graft.sinks.WarehouseSink,
                     table: String = "spans", chunkTokens: Int = 10,
                     numBuckets: Int = 32,
                     append: Boolean = false): Unit =
    spanStore(table, numBuckets).write(sink,
      hashed(chunkRows(docs, chunkTokens)).select("h1", "h2").distinct(), append)

  /** The span store: one row per distinct chunk key. */
  private[graft] def spanStore(table: String, numBuckets: Int): BucketStore =
    BucketStore(table, Seq("h1", "h2"), Seq("h1", "h2"),
      StructType.fromDDL("h1 BIGINT, h2 BIGINT"), numBuckets)

  /** Span-dedup a NEW batch against the store WITHOUT re-reading corpus
    * text: a batch chunk survives iff its span was never in the corpus
    * (pruned anti-join on the 16-byte hash pair) and no earlier batch
    * position holds the same span (the same first-occurrence window as
    * [[dedupChunks]], restricted to the batch). Provided every batch
    * doc_id exceeds every corpus doc_id — the natural append-only id
    * discipline — the result is EXACTLY [[dedupChunks]] of corpus∪batch
    * restricted to batch docs (SpanDedupSpec pins it; the driver oracle
    * checks it in SQL). O(batch) work; appending the survivors' distinct
    * hashes rolls the store forward for the next batch. */
  def dedupChunksIncremental(newDocs: DataFrame, spark: SparkSession,
                             sink: graft.sinks.WarehouseSink,
                             table: String = "spans", chunkTokens: Int = 10,
                             numBuckets: Int = 32): DataFrame = {
    val layout = spanStore(table, numBuckets)
    val b = hashed(chunkRows(newDocs, chunkTokens)).persist()
    val store = layout.read(spark, sink, layout.touched(b).buckets)
      .select(col("h1"), col("h2"))
    val result = graft.Exec.materialize(
      reassemble(keepFirst(b).join(store, Seq("h1", "h2"), "left_anti")))
    b.unpersist()
    result
  }

  /** Arbitrary-alignment repeated-substring statistics (the Lee et al.
    * 2021 "Deduplicating Training Data" regime): every `n`-token window
    * at EVERY stride-1 position is hashed, windows occurring ≥ 2 times
    * anywhere in the corpus (cross-doc or within-doc) are flagged, and
    * each document reports how many of its token positions fall inside
    * some flagged window — `dup_frac` is the fraction of the doc that is
    * verbatim-repeated text. This is the measurement [[dedupChunks]]'s
    * fixed-offset chunker cannot make (its own scaladoc names the
    * tradeoff): a copied paragraph shifted by one token misses every
    * chunk boundary but hits every stride-1 window. Docs shorter than
    * `n` tokens have no windows and report 0.
    *
    * Scale shape: windows explode to ~n_tok rows/doc (linear, the price
    * of stride 1 — ~10× [[dedupChunks]]'s chunk rows at n=10), hashed
    * map-side to one long each; the frequency pass is a
    * map-side-combined count on the hash (the textRarity shape) and the
    * coverage union is a per-doc `lead` window over ONLY the flagged
    * positions — sorted interval merge as sum(min(n, next−pos)), no
    * quadratic interval logic. The flagged join is hash-keyed; window
    * text never rides the wire. */
  def dedupSubstrings(docs: DataFrame, n: Int = 15): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val wins = docs
      .select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ts")) - n),
        i => struct(i.as("pos"),
          xxhash64(slice(col("ts"), i + 1, lit(n))).as("wh")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
      .persist()
    val repeated = wins.groupBy("wh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("wh")
    val flagged = wins.join(repeated, "wh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val covered = flagged
      .withColumn("nxt", lead(col("pos"), 1).over(w))
      .groupBy("doc_id")
      .agg(sum(least(lit(n.toLong),
        coalesce(col("nxt") - col("pos"), lit(n.toLong)))).as("nd"))
    val result = graft.Exec.materialize(
      docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("nd"), lit(0L)).as("n_dup_tokens"),
          round(coalesce(col("nd"), lit(0L)).cast("double") /
            col("n_tokens"), 4).as("dup_frac")))
    wins.unpersist()
    result
  }

  def dedupSubstringsQ(spark: SparkSession, dir: String): DataFrame =
    dedupSubstrings(Tables.documents(spark, dir))

  /** Driver query: span-store the `doc_id < 300` corpus slice, then
    * span-dedup the later docs against it. Oracle-checkable in plain SQL:
    * with ids ordered corpus-before-batch, this equals the FULL
    * [[dedupChunks]] restricted to `doc_id >= 300`. */
  def dedupChunksIncrementalQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // session-cached store: probe-only on repeat invocations
    val sink = graft.state.SessionStores.warehouse("spanstore", dir)(s =>
      buildSpanStore(docs.filter(col("doc_id") < 300), s))
    dedupChunksIncremental(docs.filter(col("doc_id") >= 300), spark, sink)
  }
}
