package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ann, Dedup, Multimodal, TextOps}

class LlmOpsSpec extends AnyFunSuite with SparkFixture {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dedup_exact groups identical texts and keeps the smallest doc_id") {
    import spark.implicits._
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = Dedup.dedupExact(d)
      .select("keep_doc_id", "n_copies").as[(Long, Long)].collect().sortBy(_._1)
    assert(out === Array((1L, 2L), (3L, 1L)))
  }

  test("fuzzy dedup collapses case/punct/whitespace variants; exact keeps them apart") {
    import spark.implicits._
    val d = docs(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO WORLD"),
      (4L, "goodbye world"))
    val fuzzy = Dedup.dedupFuzzy(d)
      .select("keep_doc_id", "n_copies").as[(Long, Long)].collect().sortBy(_._1)
    assert(fuzzy === Array((1L, 3L), (4L, 1L)))
    assert(Dedup.dedupExact(d).count() === 4) // byte-distinct texts stay apart
  }

  test("corpus_refine: scrub feeds the gate, dedup keeps first, sample is consistent") {
    import spark.implicits._
    val good = (1 to 70).map(i => s"word$i").mkString(" ") // long, clean
    val d = Seq(
      (1L, good, "en", "web"),
      (2L, good, "en", "web"),              // exact dup of 1 → dropped
      (3L, "short text here", "en", "web"), // under the token floor
      (4L, ("!! ?? ;; ,, ## $$ %% ^^ && **" + " !?") * 4, "en", "web"), // punct soup
      (5L, good + " extra tail", "en", "web"),
      // 6/7 differ ONLY by email — identical after scrub → dedup as one
      (6L, good + " contact a@b.com", "en", "web"),
      (7L, good + " contact z@w.org", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.TextOps.corpusRefine(d,
      ratesPermille = Seq("en" -> 1000)) // keep-all sampling for the test
      .select("doc_id").as[Long].collect().sorted
    assert(out === Array(1L, 5L, 6L))
    // the sampler composes: rate 0 drops everything deterministically
    assert(graft.llm.TextOps.corpusRefine(d,
      ratesPermille = Seq("en" -> 0), defaultPermille = 0).count() === 0)
    // plan: exactly ONE exchange — the dedup window's content-hash
    // shuffle; scrub/gate/sample stay fused map-side
    val plan = graft.llm.TextOps.corpusRefine(d).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan.take(500))
  }

  test("incremental dedup: store keepers win, then batch-first, else kept") {
    import spark.implicits._
    val sink = new graft.sinks.WarehouseSink(tmpDir("fp_store_"))
    Dedup.buildFingerprintStore(
      docs((1L, "a b c"), (2L, "x y z"), (3L, "a b c")), sink)
    val batch = docs(
      (10L, "a b c"),  // dup of corpus keeper 1
      (11L, "p q r"),  // new, duplicated at 12 → kept, 12 points here
      (12L, "p q r"),
      (13L, "fresh"))  // genuinely new
    val out = Dedup.dedupIncremental(batch, spark, sink)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(10L -> 1L, 11L -> -1L, 12L -> 11L, 13L -> -1L))
    // the next batch deduped against the SAME store still sees the corpus
    // (the store is persistent state, not a per-call recompute)
    val out2 = Dedup.dedupIncremental(docs((20L, "x y z")), spark, sink)
      .as[(Long, Long)].collect().toMap
    assert(out2 === Map(20L -> 2L))
  }

  test("incremental dedup prunes the store read to the batch's buckets") {
    val sink = new graft.sinks.WarehouseSink(tmpDir("fp_prune_"))
    Dedup.buildFingerprintStore(
      docs((0L to 99L).map(i => (i, s"corpus doc $i")): _*), sink)
    val batch = docs((500L, "corpus doc 7"), (501L, "novel"))
    val out = Dedup.dedupIncremental(batch, spark, sink)
    import spark.implicits._
    assert(out.as[(Long, Long)].collect().toMap === Map(500L -> 7L, 501L -> -1L))
    // the two batch fingerprints land in ≤2 buckets; the store scan must
    // carry a partition filter (pruned read — the point of the layout)
    val store = sink.read(spark, "fingerprints")
      .filter(col("part_bucket").isin(0, 1))
    assert(store.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [part_bucket"),
      "store read not partition-pruned")
  }

  test("ngram jaccard: identical docs pair at 1.0, disjoint docs never pair") {
    import spark.implicits._
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words in this one here now"))
    val out = Dedup.dedupNgramJaccard(d, tau = 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out === Array((1L, 2L, 1.0)))
  }

  test("minhash finds exact duplicates with est_sim 1.0 and skips disjoint docs") {
    import spark.implicits._
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated content talking about databases and queries"))
    val out = Dedup.dedupMinhash(d)
      .select("doc_a", "doc_b", "est_sim").as[(Long, Long, Double)].collect()
    assert(out === Array((1L, 2L, 1.0)))
  }

  test("minhash candidates on the test corpus are exactly the true near-dup pairs") {
    // the regression that motivates this: a bad permutation modulus made
    // est_sim ~0.8 for pairs whose true jaccard was ~0.05
    val d = Tables.documents(spark, sfDir)
    val mh = Dedup.dedupMinhash(d).select("doc_a", "doc_b")
    val truth = Dedup.dedupNgramJaccard(d, tau = 0.8).select("doc_a", "doc_b")
    assert(mh.exceptAll(truth).isEmpty, "minhash produced false positives")
    assert(truth.exceptAll(mh).isEmpty, "minhash missed true near-dup pairs")
  }

  test("minhash_tuning_report: closed-form recalls, wider bands cost more candidates") {
    import spark.implicits._
    // duplicate-heavy corpus: identical docs share every band at every
    // banding, so each config's estimate counts the planted pair
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "an entirely different document about something else whatever"),
      (4L, "yet another unrelated piece of text with its own words"))
    val out = Dedup.minhashTuningReport(d)
      .select("num_bands", "rows_per_band", "recall_s50", "recall_s90",
        "est_candidate_pairs")
      .as[(Int, Int, Double, Double, Long)].collect().sortBy(_._1)
    assert(out.map(x => (x._1, x._2)) === Array((8, 8), (16, 4), (32, 2)))
    // analytic recalls match the closed form 1-(1-s^r)^b exactly
    out.foreach { case (b, r, r50, r90, _) =>
      def f(s: Double) = BigDecimal(1.0 - math.pow(1.0 - math.pow(s, r), b))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r50 === f(0.5) && r90 === f(0.9))
    }
    // every config sees the exact-duplicate pair in all its bands:
    // b bands x C(2,2) pairs at minimum
    out.foreach { case (b, _, _, _, est) => assert(est >= b.toLong) }
    // narrower bands (more rows) prune candidates; recall moves with it
    assert(out(0)._5 <= out(1)._5 && out(1)._5 <= out(2)._5)
    assert(out(0)._3 <= out(1)._3 && out(1)._3 <= out(2)._3)
  }

  test("incremental minhash equals the full run restricted to new-doc pairs") {
    import spark.implicits._
    // real corpus split 60/40 by id — near-dup pairs exist on both sides
    // of the split and across it (the dedup_minhash driver rows)
    val d = Tables.documents(spark, sfDir)
    val corpus = d.filter(pmod(col("doc_id"), lit(10)) < 6)
    val batch = d.filter(pmod(col("doc_id"), lit(10)) >= 6)
    val sink = new graft.sinks.WarehouseSink(tmpDir("mh_store_"))
    Dedup.buildMinhashStore(corpus, sink)
    val inc = Dedup.dedupIncrementalMinhash(batch, spark, sink)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val isNew = (id: Long) => id % 10 >= 6
    val expected = Dedup.dedupMinhash(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      .filter(p => isNew(p._1) || isNew(p._2))
    assert(inc === expected)
    // appending the batch to the store makes a later probe see it
    Dedup.buildMinhashStore(batch, sink, append = true)
    val again = Dedup.dedupIncrementalMinhash(batch, spark, sink)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // now batch-vs-batch pairs arrive via the store too (plus the same
    // within-batch detection) — still the identical pair set
    assert(again === expected)
  }

  test("incremental simhash equals the full run restricted to new-doc pairs") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val sink = new graft.sinks.WarehouseSink(tmpDir("sh_store_"))
    Dedup.buildSimhashStore(d.filter(pmod(col("doc_id"), lit(10)) < 6), sink)
    val inc = Dedup.dedupIncrementalSimhash(
      d.filter(pmod(col("doc_id"), lit(10)) >= 6), spark, sink)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val isNew = (id: Long) => id % 10 >= 6
    val expected = Dedup.dedupSimhash(d)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
      .filter(p => isNew(p._1) || isNew(p._2))
    assert(inc === expected)
    // an absent store reads as empty: within-batch pairs only, no throw
    val fresh = new graft.sinks.WarehouseSink(tmpDir("sh_fresh_"))
    val onlyWithin = Dedup.dedupIncrementalSimhash(
      d.filter(pmod(col("doc_id"), lit(10)) >= 6), spark, fresh)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(onlyWithin === expected.map(p => (p._1, p._2))
      .filter(p => isNew(p._1) && isNew(p._2)))
  }

  test("incremental embed dedup equals the full run restricted to new-vector pairs") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) < 6)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) >= 6)
    val sink = new graft.sinks.WarehouseSink(tmpDir("emb_store_"))
    Ann.buildEmbedStore(corpus, sink)
    val inc = Ann.dedupEmbedIncremental(batch, spark, sink)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val isNew = (id: Long) => id % 10 >= 6
    val expected = Ann.dedupEmbed(emb)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      .filter(p => isNew(p._1) || isNew(p._2))
    assert(inc === expected)
    assert(inc.nonEmpty, "split produced no cross/within pairs to check")
  }

  test("simhash: identical docs at hamming 0; banding finds them") {
    import spark.implicits._
    val d = docs(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val out = Dedup.dedupSimhash(d)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(out === Array((1L, 2L, 0)))
  }

  test("brute-force ANN ranks an exact duplicate vector first") {
    import spark.implicits._
    // vec 5 duplicates vec 0 (query); must be its top-1
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.annTopK(vecs, nQueries = 1, k = 3)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(_._2)
    assert(out.head === ((0L, 1, 5L)))
    assert(out.map(_._3).toSet === Set(5L, 1L, 4L))
  }

  test("filtered ANN pre-filters: only same-label neighbors, where post-filter under-returns") {
    import spark.implicits._
    // query 0 (label 1) has ONE same-label neighbor (5) that global
    // top-2 misses behind the closer cross-label vectors 1 and 4 —
    // post-filtering a global top-2 would return nothing
    val vecs = Seq(
      (0L, 1, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, 2, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (4L, 2, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (5L, 1, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (6L, 2, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val filtered = Ann.annFilteredTopK(vecs, nQueries = 1, k = 2)
      .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
    assert(filtered === Array((0L, 1, 5L)))
    val postFiltered = Ann.annTopK(vecs, nQueries = 1, k = 2)
      .join(vecs.filter($"label" === 1).select("vec_id"), "vec_id")
    assert(postFiltered.count() === 0)
    // real table: every returned neighbor shares its query's label
    val emb = Tables.embeddings(spark, sfDir)
    val lab = emb.select(col("vec_id"), col("label"))
    val bad = Ann.annFilteredTopK(emb, nQueries = 5, k = 5)
      .join(lab.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "ql"), "query_id")
      .join(lab, "vec_id")
      .filter(col("label") =!= col("ql"))
    assert(bad.isEmpty)
  }

  test("ann_recall_report: self-recall 1.0, disjoint 0.0, LSH audited on the real corpus") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5)
    // truth vs itself: every query at exactly 1.0
    val self = Ann.annRecallReport(brute, brute)
      .select("query_id", "n_true", "n_hit", "recall_at_k")
      .as[(Long, Long, Long, Double)].collect()
    assert(self.length === 5)
    assert(self.forall { case (_, t, h, r) => t === 5L && h === 5L && r === 1.0 })
    // truth vs a disjoint result set: 0.0, and n_true still counts
    val shifted = brute.withColumn("vec_id", col("vec_id") + 1000000L)
    val zero = Ann.annRecallReport(brute, shifted)
      .select("recall_at_k").as[Double].collect()
    assert(zero.forall(_ === 0.0))
    // the real audit pairing: LSH against brute force — the report's
    // aggregate must EQUAL the independently-computed intersect recall
    // (the report audits correctly), and clear the same floor the
    // direct LSH spec uses at this banding/scale
    val lsh = Ann.annLshTopK(emb, nQueries = 5, k = 5)
    val audit = Ann.annRecallReport(brute, lsh)
    val sums = audit.agg(sum("n_hit"), sum("n_true")).head()
    val overall = sums.getLong(0).toDouble / sums.getLong(1)
    val want = lsh.select("query_id", "vec_id")
      .intersect(brute.select("query_id", "vec_id")).count().toDouble /
      brute.count()
    assert(overall === want)
    assert(overall >= 0.4, s"LSH overall recall $overall")
  }

  test("LSH ANN recalls most of the brute-force top-k on the test corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val lsh = Ann.annLshTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val recall = lsh.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.4, s"LSH recall $recall too low")
  }

  test("jaccard collapse and direct paths produce identical pair sets") {
    import spark.implicits._
    // duplicate-heavy corpus: 3 copies each of 6 base docs + unique docs
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "sphinx of black quartz judge my vow tonight ok",
      "how vexingly quick daft zebras jump over fences",
      "the five boxing wizards jump quickly at dawn",
      "a completely different sentence about spark engines")
    val d = (bases.zipWithIndex.flatMap { case (t, i) =>
      (0 until 3).map(r => (i * 10L + r, t))
    } ++ Seq((100L, "unique words appear here once and never again"),
             (101L, "zz")) // too short to shingle
      ).toDF("doc_id", "text")
    val direct = Dedup.dedupNgramJaccard(d, tau = 0.8, collapseThreshold = 0.0)
      .select("doc_a", "doc_b", "jaccard")
    val collapsed = Dedup.dedupNgramJaccard(d, tau = 0.8, collapseThreshold = 2.0)
      .select("doc_a", "doc_b", "jaccard")
    assert(direct.exceptAll(collapsed).isEmpty &&
      collapsed.exceptAll(direct).isEmpty)
    // sanity: each base trio yields its 3 within pairs
    assert(collapsed.count() >= 18)
  }

  test("containment collapse and direct paths produce identical pair sets") {
    import spark.implicits._
    // duplicate-heavy corpus plus a doc-in-doc case crossing class lines
    val words = (1 to 40).map(i => s"v$i")
    val long = words.mkString(" ")
    val quote = words.slice(4, 15).mkString(" ")
    val d = ((0 until 3).map(r => (r.toLong, long)) ++ // 3 copies of long
      (0 until 2).map(r => (10L + r, quote)) ++        // 2 copies of the quote
      Seq((100L, "unique words appear here once and never again"))
      ).toDF("doc_id", "text")
    val direct = Dedup.dedupContainment(d, collapseThreshold = 0.0)
      .select("doc_a", "doc_b", "containment")
    val collapsed = Dedup.dedupContainment(d, collapseThreshold = 2.0)
      .select("doc_a", "doc_b", "containment")
    assert(direct.exceptAll(collapsed).isEmpty &&
      collapsed.exceptAll(direct).isEmpty)
    // 3 within-long + 1 within-quote + 6 cross long×quote pairs, all 1.0
    assert(collapsed.count() === 10)
  }

  test("minhash collapse and direct paths produce identical pair sets") {
    import spark.implicits._
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "sphinx of black quartz judge my vow tonight ok",
      "a completely different sentence about spark engines")
    val d = (bases.zipWithIndex.flatMap { case (t, i) =>
      (0 until 3).map(r => (i * 10L + r, t))
    } ++ Seq((100L, "unique words appear here once and never again"),
             (101L, "zz")) // too short to shingle → no signature
      ).toDF("doc_id", "text")
    val direct = Dedup.dedupMinhash(d, collapseThreshold = 0.0)
      .select("doc_a", "doc_b", "est_sim")
    val collapsed = Dedup.dedupMinhash(d, collapseThreshold = 2.0)
      .select("doc_a", "doc_b", "est_sim")
    assert(direct.exceptAll(collapsed).isEmpty &&
      collapsed.exceptAll(direct).isEmpty)
    // each base trio yields its 3 within pairs at est 1.0
    assert(collapsed.filter(col("est_sim") === 1.0).count() >= 12)
  }

  test("dedup_embed collapse+expand: duplicate classes yield every member pair") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val base = Array.tabulate(64)(i => math.sin(i + 1))          // class A vector
    val near = base.updated(0, base(0) + 1e-4)                   // ≈A, own class
    val ortho = Array.tabulate(64)(i => math.cos(3 * (i + 1)))   // unrelated
    val emb = Seq(
      1L -> base, 2L -> base,            // class A: exact duplicates
      3L -> near, 4L -> near,            // class B: exact duplicates, B≈A
      5L -> ortho)
      .map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val pairs = Ann.dedupEmbed(emb, tau = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // within-class pairs + all four cross-class member pairs; nothing with 5
    assert(pairs === Set((1L, 2L), (3L, 4L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
  }

  test("simhash banded pairs equal brute-force hamming on the test corpus") {
    // the banding is pigeonhole-COMPLETE for hamming <= 3 (4 blocks of 16
    // bits: 3 flipped bits leave at least one block verbatim), so the
    // banded pipeline must equal the all-pairs check EXACTLY — the only
    // §2C dedup whose correctness previously rested on identity cases
    val d = Tables.documents(spark, sfDir)
    val sigs = Dedup.simhashSigs(Dedup.shingleHashes(d))
    val brute = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= 3)
    val banded = Dedup.dedupSimhash(d)
    assert(banded.exceptAll(brute).isEmpty, "banded produced extra pairs")
    assert(brute.exceptAll(banded).isEmpty, "banded missed true pairs")
  }

  test("dedup_semantic with one cell equals brute-force cosine pairs") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Ann.norm(col("v")))
    val brute = vecs.as("a")
      .join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Ann.dot(col("a.v"), col("b.v"))
        / (col("a.nrm") * col("b.nrm")) >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val sem = Ann.dedupSemantic(emb, tau = 0.4, nlist = 1)
      .select("vec_a", "vec_b")
    assert(sem.exceptAll(brute).isEmpty, "semantic produced false pairs")
    assert(brute.exceptAll(sem).isEmpty, "one-cell semantic missed pairs")
    // multi-cell: never a false pair (scores are exact; cells only prune)
    val sem8 = Ann.dedupSemantic(emb, tau = 0.4, nlist = 8)
      .select("vec_a", "vec_b")
    assert(sem8.exceptAll(brute).isEmpty, "multi-cell produced false pairs")
  }

  test("dedup_semantic always finds exact-duplicate vectors; deterministic") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    // identical vectors share an argmax cell at ANY clustering, so exact
    // dups are structurally unmissable — the SemDeDup safety floor
    val dup = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 1000000)
    val emb = Tables.embeddings(spark, sfDir).unionByName(dup)
    val pairs = Ann.dedupSemantic(emb, tau = 0.99, nlist = 8)
    val found = pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { i =>
      assert(found.contains((i, i + 1000000)),
        s"exact duplicate pair ($i, ${i + 1000000}) missed")
    }
    val again = Ann.dedupSemantic(emb, tau = 0.99, nlist = 8)
    assert(pairs.exceptAll(again).isEmpty && again.exceptAll(pairs).isEmpty,
      "dedup_semantic is not deterministic")
  }

  test("incremental semantic dedup == fixed-quantizer full run on new pairs") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) < 6)
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) >= 6)
    val sink = new graft.sinks.WarehouseSink(tmpDir("sem_store_"))
    Ann.buildSemanticStore(corpus, sink)
    val inc = Ann.dedupSemanticIncremental(batch, spark, sink)
    // the full run under the SAME frozen quantizer (training is
    // deterministic, so retraining on the corpus slice reproduces the
    // stored centroids), restricted to pairs touching a batch vector
    val cents = Ann.trainSemanticCentroids(corpus)
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) >= 6
    val expected = Ann.dedupSemanticWith(emb, cents, tau = 0.4)
      .filter(isNew(col("vec_a")) || isNew(col("vec_b")))
    assert(inc.exceptAll(expected).isEmpty, "incremental produced extra pairs")
    assert(expected.exceptAll(inc).isEmpty, "incremental missed pairs")
    // growing the store keeps the ORIGINAL quantizer frozen
    Ann.buildSemanticStore(batch, sink, append = true)
    val c2 = sink.read(spark, "semantic_centroids").count()
    assert(c2 === 16L, "append must not retrain or duplicate centroids")
  }

  test("semantic store probe reads only touched cell buckets") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val sink = new graft.sinks.WarehouseSink(tmpDir("sem_prune_"))
    Ann.buildSemanticStore(emb, sink)
    val store = sink.read(spark, "semantic")
      .filter(col("part_bucket").isin(0, 1))
    assert(store.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [part_bucket"),
      "semantic store read not partition-pruned")
  }

  test("dedup_embed collapse and direct paths produce identical pair sets") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val direct = Ann.dedupEmbed(emb, collapseThreshold = 0.0)
      .select("vec_a", "vec_b")
    val collapsed = Ann.dedupEmbed(emb, collapseThreshold = 2.0)
      .select("vec_a", "vec_b")
    assert(direct.exceptAll(collapsed).isEmpty &&
      collapsed.exceptAll(direct).isEmpty)
  }

  test("distributed CC converges on a long chain via pointer doubling") {
    import spark.implicits._
    // a 50-hop chain: one-hop propagation needs 50 rounds (> maxIters=20
    // — the silent-split failure ADVICE r3 flagged); pointer doubling
    // closes it in ~log2(50) rounds
    val n = 50L
    val d = (0L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponentsDistributed(pairs)
    assert(labels.count() === n + 1)
    assert(labels.filter(col("label") =!= 0L).count() === 0,
      "chain not fully labeled with the component minimum")
    // end-to-end through the forced-distributed dedup path
    val kept = Dedup.dedupedCorpus(d, pairs, maxDriverPairs = 0L)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(0L))
  }

  test("distributed connected components equals driver union-find") {
    import spark.implicits._
    val d = (1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // two chains (transitive components) + one clique + isolated docs
    val pairs = Seq(
      (1L, 2L), (2L, 3L),                    // chain -> {1,2,3}
      (5L, 6L), (6L, 7L), (7L, 8L),          // longer chain -> {5,6,7,8}
      (10L, 11L), (10L, 12L), (11L, 12L))    // clique -> {10,11,12}
      .toDF("doc_a", "doc_b")
    val viaDriver = Dedup.dedupedCorpus(d, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // maxDriverPairs = 0 forces the label-propagation path
    val viaSpark = Dedup.dedupedCorpus(d, pairs, maxDriverPairs = 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaDriver === Seq(1L, 4L, 5L, 9L, 10L))
    assert(viaSpark === viaDriver)
  }

  test("dedupedCorpus drops all but the smallest doc of each near-dup component") {
    import spark.implicits._
    val d = docs((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "c"))
    // pairs form one component {1,2,3} (transitively via 2-3)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupedCorpus(d, pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 4L, 5L))
    // end-to-end: jaccard pairs over the real corpus collapse the 25
    // planted near-dup pairs into their keepers
    val corpus = Tables.documents(spark, sfDir)
    val realPairs = Dedup.dedupNgramJaccard(corpus, tau = 0.8)
    val deduped = Dedup.dedupedCorpus(corpus, realPairs)
    assert(deduped.count() < corpus.count())
    // no pair should survive within the deduped corpus
    val survivors = Dedup.dedupNgramJaccard(deduped, tau = 0.8)
    assert(survivors.count() === 0)
  }

  test("IVF ANN recalls a good share of the brute-force top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val ivf = Ann.annIvfTopK(emb, nQueries = 5, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "vec_id")
    val recall = ivf.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // determinism: same params -> identical result set
    val again = Ann.annIvfTopK(emb, nQueries = 5, k = 5, nlist = 8, nprobe = 3)
      .select("query_id", "vec_id")
    assert(ivf.exceptAll(again).isEmpty && again.exceptAll(ivf).isEmpty)
  }

  test("PQ ANN recalls a good share of the brute-force top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val pq = Ann.annPqTopK(emb, nQueries = 5, k = 5)
      .select("query_id", "vec_id")
    val recall = pq.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.6, s"PQ recall $recall too low")
    // determinism: same params -> identical result set
    val again = Ann.annPqTopK(emb, nQueries = 5, k = 5)
      .select("query_id", "vec_id")
    assert(pq.exceptAll(again).isEmpty && again.exceptAll(pq).isEmpty)
    // a perfect codebook is exact: with ONE subspace of corpus-sized
    // codebook capacity the ADC score IS the true cosine, so PQ@k for a
    // tiny corpus slice must equal brute force exactly
    val tiny = emb.filter(col("vec_id") < 40)
    val exact = Ann.annPqTopK(tiny, nQueries = 3, k = 3, m = 1, ksub = 40,
      refineFactor = 14).select("query_id", "vec_id")
    val bruteTiny = Ann.annTopK(tiny, nQueries = 3, k = 3)
      .select("query_id", "vec_id")
    assert(exact.exceptAll(bruteTiny).isEmpty && bruteTiny.exceptAll(exact).isEmpty)
    // corpus SMALLER than ksub: the codebook seeds fewer than ksub
    // centroids and nlist/LUT-stride must follow the actual size — a
    // hardcoded ksub misaligned every centroid row (crash or garbage)
    val micro = emb.filter(col("vec_id") < 10)
    val microPq = Ann.annPqTopK(micro, nQueries = 2, k = 3)
      .select("query_id", "vec_id")
    val microBrute = Ann.annTopK(micro, nQueries = 2, k = 3)
      .select("query_id", "vec_id")
    assert(microPq.exceptAll(microBrute).isEmpty &&
      microBrute.exceptAll(microPq).isEmpty)
  }

  test("IVF-PQ ANN recalls a good share of the brute-force top-k") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val ivfpq = Ann.annIvfPqTopK(emb, nQueries = 5, k = 5,
      nlist = 8, nprobe = 3).select("query_id", "vec_id")
    val recall = ivfpq.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.4, s"IVF-PQ recall $recall too low")
    // determinism: same params -> identical result set
    val again = Ann.annIvfPqTopK(emb, nQueries = 5, k = 5,
      nlist = 8, nprobe = 3).select("query_id", "vec_id")
    assert(ivfpq.exceptAll(again).isEmpty && again.exceptAll(ivfpq).isEmpty)
    // probing EVERY cell removes the IVF pruning loss: recall must then
    // be at least the plain-PQ regime's (residual codes approximate
    // better than raw-vector codes at the same budget)
    val full = Ann.annIvfPqTopK(emb, nQueries = 5, k = 5,
      nlist = 8, nprobe = 8).select("query_id", "vec_id")
    val fullRecall = full.intersect(brute).count().toDouble / brute.count()
    assert(fullRecall >= recall, s"full-probe $fullRecall < pruned $recall")
  }

  test("embed_project: exact per-term math, determinism, JL distance preservation") {
    import spark.implicits._
    // exact: hand-fold a 4-dim vector through the same sign function and
    // the same left-associated order — bit-equality, not tolerance
    val vec = Array(1.0f, 2.0f, -3.0f, 0.5f)
    val one = Seq((0L, vec)).toDF("vec_id", "embedding")
    val row = Ann.embedProject(one, dim = 4, outDim = 2).collect().head
    val got = (1 to 2).map(row.getDouble)
    val want = (0 until 2).map { j =>
      (0 until 4).map(i => vec(i).toDouble * Ann.projectSign(j * 4 + i))
        .reduce(_ + _) * (1.0 / math.sqrt(2.0))
    }
    assert(got === want)
    // JL on the real embeddings: projected pairwise distances stay within
    // a loose band of the originals (k=16 is a coarse sketch; the point
    // is order-of-magnitude preservation for downstream LSH banding)
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 20)
    val orig = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val proj = Ann.embedProject(emb).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- orig.keys.toSeq; k <- orig.keys.toSeq if i < k
    } yield d2(proj(i).toArray, proj(k).toArray) / d2(orig(i), orig(k))
    val sorted = ratios.sorted
    val median = sorted(sorted.size / 2)
    assert(median > 0.5 && median < 2.0, s"JL median ratio $median off")
    // k=16 makes the JL ε bound loose (ε ≈ √(8·ln n/k) > 1), so the tail
    // is only sanity-checked: ratios are positive/finite and the bulk
    // concentrates (observed min ~0.05 on the near-duplicate pairs whose
    // small distances distort proportionally most)
    assert(ratios.forall(r => r > 0.0 && !r.isInfinite),
      "degenerate JL ratio")
    val inBand = ratios.count(r => r > 0.25 && r < 4.0).toDouble / ratios.size
    assert(inBand >= 0.6, s"only ${inBand * 100}%% of JL ratios in [0.25, 4]")
  }

  test("persisted IVF-PQ index: probe recall, determinism, pruned read, append") {
    val emb = Tables.embeddings(spark, sfDir)
    val sink = new graft.sinks.WarehouseSink(tmpDir("ivfpq_idx_"))
    Ann.buildIvfPqIndex(emb, sink, nlist = 8)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Ann.annTopK(emb, nQueries = 5, k = 5).select("query_id", "vec_id")
    val probe = Ann.annIvfPqIndexTopK(queries, spark, sink, k = 5, nprobe = 3)
    val recall = probe.select("query_id", "vec_id")
      .intersect(brute).count().toDouble / brute.count()
    // ADC-only ranking (no exact refine — codes are all the index holds),
    // so the bound sits under the refined annIvfPqTopK's
    assert(recall >= 0.4, s"index probe recall $recall too low")
    // determinism: probing the same store twice is identical
    val again = Ann.annIvfPqIndexTopK(queries, spark, sink, k = 5, nprobe = 3)
    assert(probe.exceptAll(again).isEmpty && again.exceptAll(probe).isEmpty)
    // the code-table read is partition-pruned to probed cells' buckets
    val plan = Ann.annIvfPqIndexTopK(queries, spark, sink, k = 5, nprobe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [part_bucket"),
      "code-table read not partition-pruned")
    // probing every cell removes the pruning loss
    val full = Ann.annIvfPqIndexTopK(queries, spark, sink, k = 5, nprobe = 8)
      .select("query_id", "vec_id")
    val fullRecall = full.intersect(brute).count().toDouble / brute.count()
    assert(fullRecall >= recall, s"full-probe $fullRecall < pruned $recall")
    // append: the initial build's quantizers keep encoding, so a probe of
    // the two-step store sees the whole corpus including appended rows
    val sink2 = new graft.sinks.WarehouseSink(tmpDir("ivfpq_idx2_"))
    Ann.buildIvfPqIndex(emb.filter(pmod(col("vec_id"), lit(10)) < 6),
      sink2, nlist = 8)
    Ann.buildIvfPqIndex(emb.filter(pmod(col("vec_id"), lit(10)) >= 6),
      sink2, nlist = 8, append = true)
    val probe2 = Ann.annIvfPqIndexTopK(queries, spark, sink2, k = 5, nprobe = 8)
    assert(probe2.select(countDistinct(col("query_id"))).head().getLong(0) === 5)
    assert(probe2.filter(pmod(col("vec_id"), lit(10)) >= 6).count() > 0,
      "appended vectors never surfaced in the probe")
  }

  test("text tokens: bpe token count splits finer than whitespace") {
    import spark.implicits._
    val d = docs((1L, "hello, world! x2"))
    val out = TextOps.textTokens(d).as[(Long, Int, Int)].collect().head
    // ws: [hello,, world!, x2]; bpe: [hello][,][world][!][x][2]
    assert(out === ((1L, 3, 6)))
  }

  test("langid votes by marker words with deterministic ties") {
    import spark.implicits._
    val d = docs((1L, "el la de y es algo"), (2L, "the and of is a thing"))
    val out = TextOps.textLangid(d)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().sortBy(_._1)
    assert(out === Array((1L, "es"), (2L, "en")))
  }

  test("blocklist counts token-level hits only — no substring false positives") {
    import spark.implicits._
    val d = docs(
      (1L, "the slow query"),
      (2L, "slowest bigger"),   // substrings of blocked terms stay clean
      (3L, "big slow Big"))     // case-insensitive, counts every hit
    val out = TextOps.textBlocklist(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1, true)))
    assert(out(2L) === ((0, false)))
    assert(out(3L) === ((3, true)))
  }

  test("lang confusion flags only declared/predicted disagreements, one scan") {
    import spark.implicits._
    val d = Seq(
      (1L, "the and of is a thing", "en"), // vote agrees with the label
      (2L, "the and of is a thing", "es"), // declared es, votes en
      (3L, "el la de y es algo", "es"))    // agrees
      .toDF("doc_id", "text", "lang")
    val out = TextOps.textLangConfusion(d).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 2L && out.head.getString(1) === "es" &&
      out.head.getString(2) === "en")
    // the declared lang rides the langid scan: no self-join, no shuffle
    val plan = TextOps.textLangConfusion(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan.take(400))
  }

  test("PII scrub redacts emails, IPs and phone runs with audit counts") {
    import spark.implicits._
    val d = docs((1L,
      "contact bob@example.com or 192.168.0.1 or call +1 (555) 123-4567 now"))
    val out = TextOps.textScrub(d).head()
    val clean = out.getAs[String]("clean_text")
    assert(clean.contains("<EMAIL>") && clean.contains("<IP>") &&
      clean.contains("<PHONE>"))
    assert(!clean.contains("bob@") && !clean.contains("192.168"))
    assert(out.getAs[Int]("n_emails") === 1 && out.getAs[Int]("n_ips") === 1)
  }

  test("decontamination flags docs sharing benchmark n-grams, skips clean docs") {
    import spark.implicits._
    val bench = docs((100L, "the secret benchmark answer is forty two"))
    val train = docs(
      (1L, "prefix words then the secret benchmark answer is forty two suffix"),
      (2L, "totally unrelated content about databases and sorting"))
    val out = TextOps.decontaminate(train, bench)
      .as[(Long, Long)].collect().toMap
    assert(out.contains(1L) && out(1L) >= 5) // the copied span's 3-grams
    assert(!out.contains(2L))
  }

  test("repetition metrics separate repetitive from varied docs") {
    import spark.implicits._
    val d = docs(
      (1L, "spam spam spam spam spam spam"),
      (2L, "six completely different words here now"))
    val out = TextOps.textRepetition(d)
      .select("doc_id", "tok_rep", "max_tok_frac", "dup_3gram_frac")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    val (_, rep1, maxf1, dup1) = out(0)
    val (_, rep2, maxf2, dup2) = out(1)
    assert(rep1 > 0.8 && maxf1 === 1.0 && dup1 > 0.7) // all one token
    assert(rep2 === 0.0 && maxf2 < 0.2 && dup2 === 0.0) // all distinct
  }

  test("corpus_sample: deterministic, stratified by lang, rate-ordered") {
    import spark.implicits._
    val d = (0L until 1000L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "zh", s"src${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = TextOps.corpusSample(d)
    // en rate is 1000 permille -> every en doc survives
    assert(kept.filter(col("lang") === "en").count() === 500)
    // zh rate is 250 permille -> strictly downsampled, non-empty
    val zh = kept.filter(col("lang") === "zh").count()
    assert(zh > 50 && zh < 250)
    // deterministic: second evaluation keeps exactly the same ids
    val ids1 = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = TextOps.corpusSample(d).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 === ids2)
  }

  test("corpus_split: disjoint 90/5/5 assignment that composes with the sampler") {
    import spark.implicits._
    val d = (0L until 10000L).map(i =>
      (i, s"text $i", if (i % 2 == 0) "en" else "zh", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val split = TextOps.corpusSplit(d)
    // exhaustive and disjoint: one row per doc, one split per row
    assert(split.count() === 10000)
    val shares = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(shares.keySet === Set("train", "val", "test"))
    // 90/5/5 within multiplicative-hash wobble
    assert(shares("train") > 8700 && shares("train") < 9300, shares)
    assert(shares("val") > 300 && shares("val") < 700, shares)
    assert(shares("test") > 300 && shares("test") < 700, shares)
    // deterministic: same assignment on re-evaluation
    val a1 = split.select("doc_id", "split").as[(Long, String)].collect().sortBy(_._1)
    val a2 = TextOps.corpusSplit(d).select("doc_id", "split")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(a1 === a2)
    // THE composition property the decorrelated multiplier buys: the
    // sampler keeps LOW sample-buckets, so a split keyed on the same
    // bucket would put the entire zh sample (rate 250) in `train`;
    // under SplitMultiplier the sampled subset still splits ~90/5/5
    val sampled = TextOps.corpusSplit(TextOps.corpusSample(d)
      .join(d.select("doc_id", "text"), "doc_id"))
    val zs = sampled.groupBy("split").count().as[(String, Long)].collect().toMap
    val n = zs.values.sum.toDouble
    assert(zs.keySet === Set("train", "val", "test"), zs)
    assert(zs("train") / n > 0.85 && zs("train") / n < 0.95, zs)
  }

  test("corpus_split plan: no exchange, text column pruned from the scan") {
    val split = TextOps.corpusSplit(Tables.documents(spark, sfDir))
    val plan = split.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
    // the split never reads text: column pruning must reach the parquet
    // scan, or a 100 TB corpus pays its full text bytes for a 3-column op
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("text"), scan)
  }

  test("text_perplexity: hand-computed unigram cross-entropy, repetition scores low") {
    import spark.implicits._
    // corpus counts: a→3, b→1, N=4
    val d = docs((1L, "a a"), (2L, "a b"))
    val out = TextOps.textPerplexity(d)
      .select("doc_id", "n_tokens", "bits_per_token")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // doc1: log2(4) − mean(log2 3, log2 3) = 2 − 1.58496… → 0.4150
    // doc2: 2 − mean(log2 3, log2 1) = 2 − 0.79248… → 1.2075
    assert(out === Array((1L, 2L, 0.415), (2L, 2L, 1.2075)))
    // the memorized doc carries fewer bits/token than the rare-token doc
    assert(out(0)._3 < out(1)._3)
  }

  test("bigram perplexity: interpolated LM on a hand-computed fixture; <2-token docs drop") {
    import spark.implicits._
    // corpus: tok N=6 (doc3's lone token counts in the unigram table
    // even though it yields no transition), uni a=3 b=2 solo=1; bigrams
    // (a,a) (a,b) (b,a); prefix counts a·=2 b·=1; λ=0.7
    //   doc1: −mean(log2(.7/2+.3·3/6), log2(.7/2+.3·2/6)) = 1.0760
    //   doc2: −log2(.7/1+.3·3/6) = 0.2345
    val d = docs((1L, "a a b"), (2L, "b a"), (3L, "solo"))
    val out = TextOps.textPerplexityBigram(d)
      .select("doc_id", "n_bigrams", "bits_per_transition")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // doc3 has one token → zero transitions → absent, like the oracle
    assert(out === Array((1L, 2L, 1.076), (2L, 1L, 0.2345)))
  }

  test("decontaminate_report: per-benchmark leak counts, clean items present at 0") {
    import spark.implicits._
    // b1's two 3-grams each leak (one into c10, one into c11); b2 is
    // clean and must still appear, at zero
    val bench = docs((1L, "q1 q2 q3 q4"), (2L, "z1 z2 z3"))
    val corpus = docs(
      (10L, "q1 q2 q3"),
      (11L, "x q2 q3 q4 y"),
      (12L, "totally unrelated text here"))
    val out = TextOps.decontaminateReport(corpus, bench)
      .select("bench_id", "n_hit_docs", "n_leaked_ngrams")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Array((1L, 2L, 2L), (2L, 0L, 0L)))
    // transpose consistency: the distinct corpus docs the report sees
    // are exactly the docs decontaminate flags
    val flagged = TextOps.decontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(10L, 11L))
  }

  test("dsir_score: hand-computed add-α log ratios rank target-like docs first") {
    import spark.implicits._
    // target "x y"; corpus: d1 target-like, d2 disjoint, d3 mixed.
    // α=0.5, V=4, N_tgt=2 (denom 4), N_raw=6 (denom 8):
    //   d1 = mean(log2(.375/.3125), log2(.375/.1875)) =  0.6315
    //   d2 = mean(log2(.125/.3125), log2(.125/.1875)) = −0.9534
    //   d3 = mean(log2(.375/.3125), log2(.125/.3125)) = −0.5294
    val corpus = docs((1L, "x y"), (2L, "p q"), (3L, "x p"))
    val target = docs((100L, "x y"))
    val out = TextOps.dsirScore(corpus, target)
      .select("doc_id", "n_tokens", "dsir_score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(out === Array((1L, 2L, 0.6315), (2L, 2L, -0.9534), (3L, 2L, -0.5294)))
    // the doc sharing the target's vocabulary outranks mixed outranks
    // disjoint — the selection order DSIR exists to produce
    assert(out(0)._3 > out(2)._3 && out(2)._3 > out(1)._3)
    // determinism: a second run reproduces every rounded score
    val again = TextOps.dsirScore(corpus, target)
      .select("doc_id", "n_tokens", "dsir_score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(again === out)
  }

  test("bigram perplexity separates token orders the unigram model cannot") {
    import spark.implicits._
    // same token multiset, different order: unigram bits identical by
    // construction, bigram bits differ — the whole point of the context
    val d = docs((1L, "c d c d c d"), (2L, "c c c d d d"))
    val uni = TextOps.textPerplexity(d)
      .select("doc_id", "bits_per_token").as[(Long, Double)]
      .collect().toMap
    assert(uni(1L) === uni(2L))
    val bi = TextOps.textPerplexityBigram(d)
      .select("doc_id", "bits_per_transition").as[(Long, Double)]
      .collect().toMap
    // doc1 is pure (c,d)/(d,c) alternation — the corpus' dominant
    // transitions — while doc2 spends two transitions on the rarer
    // (c,c)/(d,d) repeats; the alternating doc must score fewer bits
    assert(bi(1L) < bi(2L))
  }

  test("containment catches a doc quoted inside a longer one that jaccard misses") {
    import spark.implicits._
    val words = (1 to 50).map(i => s"w$i")
    val long = words.mkString(" ")
    val quote = words.slice(9, 20).mkString(" ") // 11 tokens ⊂ long
    val d = docs((1L, long), (2L, quote), (3L, "x y z q r s t u v"))
    val pairs = Dedup.dedupContainment(d)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    // every shingle of the quote appears in the long doc → containment 1.0
    assert(pairs === Array((1L, 2L, 1.0)))
    // jaccard at the same pair: 9 shared / (48+9−9) ≈ 0.19 — invisible
    assert(Dedup.dedupNgramJaccard(d).count() === 0)
  }

  test("corpus mix report: dimension-sized totals and shares that sum to 1") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three", "en", "web"),
      (2L, "four five", "en", "web"),
      (3L, "six seven eight nine", "zh", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextOps.corpusMixReport(d)
      .select("lang", "source", "n_docs", "n_tokens", "doc_share", "token_share")
      .as[(String, String, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq ===
      Seq(("en", "web", 2L, 5L), ("zh", "books", 1L, 4L)))
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-12)
    assert(math.abs(out.map(_._6).sum - 1.0) < 1e-12)
  }

  test("top-k n-grams ranks the repeated shingle first, deterministic ties") {
    import spark.implicits._
    val d = docs(
      (1L, "spam spam spam spam spam"),          // "spam spam spam" x3
      (2L, "alpha beta gamma delta"))            // singleton shingles
    val out = TextOps.textNgramTopK(d, k = 3)
      .as[(String, Long)].collect()
    assert(out.head === (("spam spam spam", 3L)))
    // remaining singletons tie at 1 and order lexicographically
    assert(out.drop(1).map(_._1).toSeq === out.drop(1).map(_._1).sorted.toSeq)
  }

  test("corpus_budget_select keeps the quality-ranked prefix within budget") {
    import spark.implicits._
    // no punctuation → score = n_tokens/64, so ranking = length desc,
    // ties by doc_id. Budget 24: 16 + 8 fit, the tied second 8 and the
    // 4 do not (prefix semantics — nothing after the first overflow)
    val d = docs(
      (1L, Seq.fill(16)("w").mkString(" ")),
      (2L, Seq.fill(8)("w").mkString(" ")),
      (3L, Seq.fill(8)("w").mkString(" ")),
      (4L, Seq.fill(4)("w").mkString(" ")))
    val out = TextOps.corpusBudgetSelect(d, budgetTokens = 24L)
      .select("doc_id", "n_tokens", "cum_tokens", "selected")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 16L, 16L, true), (2L, 8L, 24L, true),
      (3L, 8L, 32L, false), (4L, 4L, 36L, false)))
  }

  test("corpus_budget_select prefix-sum equals a single global cumsum on the real corpus") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
    val got = TextOps.corpusBudgetSelect(d)
    // naive reference: ONE global window over the same ordering
    val q = TextOps.textQuality(d).select(col("doc_id"), col("n_tokens"),
      round(col("quality_score") * 10000).cast("long").as("qk"))
    val w = Window.orderBy(col("qk").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = q.select(col("doc_id"), col("n_tokens"),
      sum(col("n_tokens")).over(w).as("cum_tokens"))
      .withColumn("selected", col("cum_tokens") <= 8000L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the kept set is a clean prefix: every selected cum < every
    // unselected cum
    val maxSel = got.filter(col("selected")).agg(max("cum_tokens")).head().getLong(0)
    val minUnsel = got.filter(!col("selected")).agg(min("cum_tokens")).head().getLong(0)
    assert(maxSel <= 8000L && minUnsel > 8000L && maxSel < minUnsel)
  }

  test("corpus_interleave: exact stride fixture, then proportional prefixes on the real corpus") {
    import spark.implicits._
    // a has 4 docs (keys .125 .375 .625 .875), b has 2 (.25 .75) →
    // global order a1 b1 a2 a3 b2 a4, worked by hand
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (5L, "b"), (6L, "b")).toDF("doc_id", "source")
    val out = TextOps.corpusInterleave(d)
      .select("doc_id", "source", "src_rank", "train_order")
      .as[(Long, String, Long, Long)].collect().sortBy(_._4)
    assert(out === Array(
      (1L, "a", 1L, 1L), (5L, "b", 1L, 2L), (2L, "a", 2L, 3L),
      (3L, "a", 3L, 4L), (6L, "b", 2L, 5L), (4L, "a", 4L, 6L)))

    // real corpus: equality to ONE global window over the same key, and
    // the defining property — every prefix carries each source within
    // ~a doc of its proportional share
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val got = TextOps.corpusInterleave(docs)
    val r = docs.select(col("doc_id"), col("source"))
      .withColumn("src_rank",
        row_number().over(Window.partitionBy("source").orderBy("doc_id"))
          .cast("long"))
      .withColumn("n_s",
        count(lit(1)).over(Window.partitionBy("source")))
    val want = r.select(col("doc_id"), col("source"), col("src_rank"),
      row_number().over(Window.orderBy(
          (col("src_rank") - 0.5) / col("n_s"), col("source"), col("doc_id")))
        .cast("long").as("train_order"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val n = docs.count().toDouble
    val shares = docs.groupBy("source").count().collect()
      .map(x => x.getString(0) -> (x.getLong(1) / n)).toMap
    val rows = got.select("source", "train_order")
      .as[(String, Long)].collect()
    for (l <- Seq(10, 50, 100, 250, (n / 2).toInt)) {
      val prefix = rows.filter(_._2 <= l)
      shares.foreach { case (src, share) =>
        val cnt = prefix.count(_._1 == src)
        assert(math.abs(cnt - l * share) <= 2.0,
          s"prefix $l: source $src carries $cnt vs proportional ${l * share}")
      }
    }
  }

  test("corpus_pack distributed prefix-sum equals a single global cumsum") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = (0L until 500L).map(i => (i, ("w " * (1 + (i % 37)).toInt).trim))
      .toDF("doc_id", "text")
    // tiny buckets force many prefix-offset boundaries
    val got = TextOps.corpusPack(d, packTokens = 64, bucketWidth = 7L)
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    val want = d.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("tok_start", sum("n_tok").over(w) - col("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        (col("tok_start") - pmod(col("tok_start"), lit(64L)))./(lit(64L))
          .cast("long").as("pack_id"),
        pmod(col("tok_start"), lit(64L)).as("pack_offset"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // packs fill contiguously: every pack id in [0, max] is used
    val packIds = got.select("pack_id").distinct().as[Long].collect().sorted
    assert(packIds.toSeq === (packIds.head to packIds.last))
  }

  test("multimodal pipeline: real codec features, deterministic, schema intact") {
    implicit val s = spark
    val media = Multimodal.withMediaColumn(docs((1L, "abcd"), (2L, "zzzz")))
    val records = media.collect().sortBy(_.doc_id)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats.map(_.doc_id).toSeq === Seq(1L, 2L))
    val f1 = feats.head
    // doc 1 (odd id) is a 17x17 PGM: "P5\n17 17\n255\n" header (13 bytes)
    // + 289-byte raster — n_bytes counts the ENCODED payload
    assert(f1.format === "pgm")
    assert(f1.n_bytes === records.head.media.length)
    assert(f1.n_bytes === 13 + 17 * 17)
    // expected mean luminance recomputed from the generator formula:
    // raster(i) = (text(i % 4) + i / 4).toByte over "abcd", grayscale
    val tb = "abcd".getBytes("UTF-8")
    val want = (0 until 289).map(i => ((tb(i % 4) & 0xff) + i / 4) & 0xff).sum / 289.0
    assert(math.abs(f1.mean_byte - want) < 1e-9)
    assert(f1.grid.length === 16)
    // doc 2 (even id) is RGB P6
    assert(feats(1).format === "ppm")
    assert(feats(1).n_bytes === records(1).media.length)
    // determinism: a second run produces identical features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(again.map(_.mean_byte).toSeq === feats.map(_.mean_byte).toSeq)
    assert(again.map(_.grid.toSeq).toSeq === feats.map(_.grid.toSeq).toSeq)
  }

  test("multimodal pipeline flags an undecodable payload instead of failing") {
    implicit val s = spark
    import spark.implicits._
    import graft.llm.{MediaMeta, MediaRecord}
    val bad = spark.createDataset(Seq(
      MediaRecord(1L, "not an image".getBytes("US-ASCII"), MediaMeta("ppm", 4, 4))))
    val out = Multimodal.extractFeatures(bad).collect()
    assert(out.length === 1)
    assert(out.head.format === "invalid")
    assert(out.head.n_bytes === 12)
    assert(out.head.grid.forall(_ === 0.0))
  }

  test("text_gopher: each rule fires alone on its crafted violator, clean doc passes") {
    import spark.implicits._
    val clean = ("the quick brown fox jumps over that lazy dog again today " * 5).trim
    // every violator is built to break EXACTLY one rule: the other six
    // metrics stay inside their thresholds, so pass=false pins the rule
    val d = docs(
      (1L, clean),                                      // passes every rule
      (2L, "the of tiny"),                              // word count 3 < 5
      (3L, ("the of " + "a b c d e f " * 10).trim),     // mean word len ~1
      (4L, "hash# tags# the of more# words# here#"),    // 5 '#' / 7 words
      (5L, ("•item one two the of\n" * 9) + "plain line tail the of"),
      (6L, ("one two the of soon...\n" * 4) + ("three four the of now\n" * 6).trim),
      (7L, ("the of " + "1234 5678 9012 3456 " * 10).trim), // numeric soup
      (8L, ("xyzzy plugh quux corge grault " * 10).trim))   // no stopwords
    val out = TextOps.textGopher(d, minWords = 5, maxWords = 1000, minStop = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    def pass(id: Long) = out(id).getBoolean(8)
    assert(pass(1L) && out(1L).getLong(7) === 2L) // stop set = {the, that}
    assert(!pass(2L) && out(2L).getLong(1) === 3L)
    assert(!pass(3L) && out(3L).getDouble(2) < 3.0)
    assert(!pass(4L) && out(4L).getDouble(3) >= 0.1)
    assert(!pass(5L) && out(5L).getDouble(4) === 0.9) // 9/10 bullet lines
    assert(!pass(6L) && out(6L).getDouble(5) === 0.4) // 4/10 ellipsis ends
    assert(!pass(7L) && out(7L).getDouble(6) <= 0.8)
    assert(!pass(8L) && out(8L).getLong(7) === 0L)
    // isolation: every violator satisfies the six rules it does not target
    assert(out(5L).getDouble(6) > 0.8 && out(5L).getLong(7) === 2L)
    assert(out(6L).getDouble(3) < 0.1 && out(6L).getDouble(2) >= 3.0)
    assert(out(7L).getLong(1) === 42L && out(7L).getDouble(2) >= 3.0)
    // blank-only lines never count toward line ratios
    val blanky = docs((9L, "the text of it\n\n   \nreal line"))
    val r9 = TextOps.textGopher(blanky, minWords = 1).collect().head
    assert(r9.getDouble(4) === 0.0 && r9.getDouble(5) === 0.0)
  }

  test("corpus_bpe_pairs: vocab-weighted intra-word pair counts, ranked") {
    import spark.implicits._
    // vocab: ab×3 (pairs: ab×3), abc×1 (ab, bc), aaa×1 (aa, aa), x×2 (none)
    val d = docs((1L, "ab ab x"), (2L, "ab abc x"), (3L, "aaa"))
    val out = TextOps.corpusBpePairs(d)
      .as[(String, Long)].collect()
    // expected: ab=4 (3 from 'ab' + 1 from 'abc'), aa=2 (both from 'aaa'),
    // bc=1; single-char words contribute nothing; rank by count then pair
    assert(out === Array(("ab", 4L), ("aa", 2L), ("bc", 1L)))
    // the k cutoff keeps the most frequent pairs
    assert(TextOps.corpusBpePairs(d, k = 1).as[(String, Long)].collect()
      === Array(("ab", 4L)))
  }

  test("embed_whiten standardizes each dim; constant dims pin to 0, not NaN") {
    import spark.implicits._
    // dim 0: values 0,2,4 → μ=2, σ=sqrt(8/3); dim 1: constant → σ=0
    val emb = Seq(
      (0L, Array(0.0f, 5.0f)),
      (1L, Array(2.0f, 5.0f)),
      (2L, Array(4.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Ann.embedWhiten(emb, dim = 2)
      .select($"vec_id", $"w".getItem(0).as("w0"), $"w".getItem(1).as("w1"))
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val sd0 = math.sqrt(8.0 / 3.0)
    out.zip(Seq(-2.0, 0.0, 2.0)).foreach { case ((_, w0, w1), exp) =>
      assert(math.abs(w0 - exp / sd0) < 1e-12)
      assert(w1 === 0.0) // σ=0 dim: defined 0, never 0/0 = NaN
    }
    // whitened output is itself standardized: mean 0, population sd 1
    val w0s = out.map(_._2)
    assert(math.abs(w0s.sum / 3) < 1e-12)
    assert(math.abs(math.sqrt(w0s.map(x => x * x).sum / 3) - 1.0) < 1e-12)
  }

  test("embed_centroid_shift: zero on identical snapshots, exact on a moved label") {
    import spark.implicits._
    val a = Seq(
      (0L, 1, Array(1.0f, 0.0f)), (2L, 1, Array(3.0f, 0.0f)),
      (4L, 2, Array(0.0f, 5.0f))).toDF("vec_id", "label", "embedding")
    // identical snapshots: every shared label at exactly 0.0
    val same = Ann.embedCentroidShift(a, a, dim = 2)
      .select("label", "centroid_shift").as[(Int, Double)].collect().toMap
    assert(same === Map(1 -> 0.0, 2 -> 0.0))
    // label 1's centroid moves from (2,0) to (2,1) → shift exactly 1;
    // label 3 exists only in b and must NOT appear (movement of what
    // persists — appearing labels are corpus_diff's job)
    val b = Seq(
      (1L, 1, Array(1.0f, 1.0f)), (3L, 1, Array(3.0f, 1.0f)),
      (5L, 2, Array(0.0f, 5.0f)), (7L, 3, Array(9.0f, 9.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Ann.embedCentroidShift(a, b, dim = 2)
      .select("label", "n_a", "n_b", "centroid_shift")
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(out === Array((1, 2L, 2L, 1.0), (2, 1L, 1L, 0.0)))
  }

  test("embed_outliers flags the planted far vector, z-math checks out") {
    import spark.implicits._
    // label 0: eight unit-ish vectors + one planted far point; label 1:
    // a clean cluster with no outlier. 4-dim keeps the arithmetic visible.
    val near = (0L until 8L).map(i =>
      (i, 0, Array(1.0f + 0.01f * i, 0.1f, 0.0f, 0.0f)))
    val far = Seq((8L, 0, Array(9.0f, 9.0f, 9.0f, 9.0f)))
    val other = (10L until 16L).map(i =>
      (i, 1, Array(0.0f, 1.0f + 0.02f * (i - 10), 0.2f, 0.0f)))
    val emb = (near ++ far ++ other).toDF("vec_id", "label", "embedding")
    val out = Ann.embedOutliers(emb, dim = 4, zThresh = 2.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 15)
    assert(out(8L).getBoolean(4), "planted far vector must be flagged")
    assert((0L until 8L).forall(i => !out(i).getBoolean(4)))
    assert((10L until 16L).forall(i => !out(i).getBoolean(4)))
    // the far point dominates its label's spread: its z is the max and
    // its distance is far beyond every inlier's
    val d8 = out(8L).getDouble(2)
    assert((0L until 8L).forall(i => out(i).getDouble(2) < d8 / 5))
    // z is (dist - mu) / sd within the label, on ROUNDED distances
    val dists0 = (0L to 8L).map(i => out(i).getDouble(2))
    val mu = dists0.sum / dists0.size
    val sd = math.sqrt(dists0.map(d => (d - mu) * (d - mu)).sum / dists0.size)
    assert(math.abs(out(8L).getDouble(3) -
      BigDecimal((d8 - mu) / sd).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
    // determinism: a second run reproduces every rounded value
    val again = Ann.embedOutliers(emb, dim = 4, zThresh = 2.0)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert((0L until 16L).filter(_ != 9L).forall(i =>
      again(i).getDouble(3) === out(i).getDouble(3)))
    // a 2-vector label has ZERO distance spread (the centroid is the
    // midpoint; both distances are bit-identical), so sd = 0 and z would
    // be 0/0 = NaN — which Spark orders LARGEST, silently flagging both
    // ordinary vectors. z must pin to 0 and nothing gets flagged.
    val tiny = Seq(
      (20L, 5, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (21L, 5, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (22L, 6, Array(0.5f, 0.5f, 0.0f, 0.0f))) // singleton label
      .toDF("vec_id", "label", "embedding")
    val touts = Ann.embedOutliers(tiny, dim = 4).collect()
    assert(touts.length === 3)
    assert(touts.forall(r => !r.getBoolean(4) && r.getDouble(3) === 0.0),
      "zero-spread labels must not flag outliers")
  }

  test("bloom-pruned incremental dedup equals the plain probe; novel batch skips all buckets") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val sink = new graft.sinks.WarehouseSink(tmpDir("fp_bloom_"))
    graft.llm.Dedup.buildFingerprintStore(
      docs.filter(pmod(col("doc_id"), lit(10)) < 6), sink)
    graft.llm.Dedup.buildFingerprintBloom(spark, sink)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) >= 6)
    val plain = graft.llm.Dedup.dedupIncremental(batch, spark, sink)
      .as[(Long, Long)].collect().toSet
    val bloomed = graft.llm.Dedup.dedupIncrementalBloom(batch, spark, sink)
      .as[(Long, Long)].collect().toSet
    assert(bloomed === plain)
    // entirely novel content: every bucket's Bloom check comes back
    // empty, so the pruned store read is NO read at all
    val novel = (0 until 50)
      .map(i => (5000000L + i, s"novel nonsense payload $i xyzzy"))
      .toDF("doc_id", "text")
    val nb = novel.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("part_bucket",
        graft.sinks.WarehouseSink.bucketPartition(Seq("h"), 32))
    val touched = nb.select("part_bucket").as[Int].collect().toSet
    assert(touched.nonEmpty)
    assert(graft.llm.Dedup.bloomCandidates(nb, touched, spark, sink, "fingerprints", 32)
      .isEmpty)
    // and the novel batch still dedups correctly (all kept)
    val out = graft.llm.Dedup.dedupIncrementalBloom(novel, spark, sink)
      .as[(Long, Long)].collect()
    assert(out.length === 50 && out.forall(_._2 === -1L))
  }

  test("link_jaccard: orientation, no within-side pairs, identical texts at 1.0") {
    import spark.implicits._
    val left = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),   // same-side dup of 0: no pair
      (4L, "one two three four five")
    ).toDF("doc_id", "text")
    val right = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // identical to left 0 and 2
      (3L, "totally different words here now")
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.linkJaccard(left, right)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((0L, 1L, 1.0), (2L, 1L, 1.0)))
  }

  test("link_jaccard collapse and direct paths produce identical pair sets") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val (l, r) = (d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("left_id"), col("right_id"), round(col("jaccard"), 9))
      .as[(Long, Long, Double)].collect().toSet
    // force each path regardless of the corpus' duplicate mass
    val direct = norm(graft.llm.Dedup.linkJaccard(l, r, collapseThreshold = 0.0))
    val collapsed = norm(graft.llm.Dedup.linkJaccard(l, r, collapseThreshold = 1.01))
    assert(direct === collapsed && direct.nonEmpty)
  }

  test("link_jaccard equals self-join jaccard restricted to cross-parity pairs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val linked = graft.llm.Dedup.linkJaccardQ(spark, sfDir)
      .select(least(col("left_id"), col("right_id")).as("a"),
        greatest(col("left_id"), col("right_id")).as("b"),
        round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    val self = graft.llm.Dedup.dedupNgramJaccard(docs, tau = 0.5)
      .filter(col("doc_a") % 2 =!= col("doc_b") % 2)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(linked === self)
  }
}
