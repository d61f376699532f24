package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines over `documents` (and
  * `embeddings`): exact, n-gram Jaccard, MinHash-LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: the exact-pair operators (`ngram_jaccard`,
  * `embedding`) are quadratic and exist as the verification/oracle tier;
  * the sketch operators (`minhash`, `simhash`) are the 100 TB tier —
  * LSH banding / chunk pigeonholing turn all-pairs comparison into an
  * equi-join on band keys, shuffling each doc a constant number of times
  * (bands), and only candidate pairs (same-band collisions) are verified
  * exactly. Generalizes the reference's exact-dedup invariant
  * (main.py:90 + database.py:19) and its near-duplicate defect
  * ('1366 MV Xe' vs '1366 MeV Xe', SURVEY.md §5.2).
  */
object DedupOps {

  /** Flat distinct word-3-shingles: (doc_id, sz, g) — one row per
    * distinct shingle per doc, sz = the doc's shingle-set size.
    *
    * Built relationally (posexplode -> `lead` window -> `concat_ws` ->
    * distinct) rather than with an array-lambda: Spark's higher-order
    * functions (`transform`/`array_distinct`) are CodegenFallback and run
    * an interpreted lambda per row — measured ~4 s per pass over sf0.1
    * here, and the pair join pays the pass twice. The window/distinct
    * form is whole-stage-codegen end to end (~10x less CPU), shuffles by
    * doc_id (narrow, bounded rows), and is the shape every shingle
    * consumer (jaccard join, containment, incremental, SimHash) wants
    * anyway. MinHash sketches no longer read it: [[MinHashIndex.sketchOf]]
    * builds the same trigram set per document in one pass.
    */
  /** The CORPUS-table shingle frame is shared the way
    * `MultimodalOps.decodedMedia` and `AnalyticsOps.orderPartSets` are:
    * ~8 independent driver queries (jaccard/minhash/simhash/containment/
    * incremental/clusters/spans tiers) consume the identical
    * construction, so it is persisted LAZILY (MEMORY_AND_DISK,
    * recomputable from lineage) and Spark's CacheManager dedupes the
    * structurally-equal plans to one session-lifetime entry per sfDir.
    * Only this fixed per-corpus path caches — `shingleRowsOf` over
    * arbitrary frames (per-batch pipeline calls) must NOT persist, or a
    * long streaming run would grow one pinned cache entry per batch.
    */
  private[graft] def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOf(Tables.documents(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Same construction over any (doc_id, text) frame — callers that have
    * already normalized/filtered their text (e.g. CorpusPipeline) must
    * shingle THAT text, not a fresh table scan.
    */
  /** Word n-gram rows (doc_id, g), duplicates KEPT. Explode over an
    * INDEX sequence + element_at, not posexplode + window lead: the
    * lead form shuffles and sorts every TOKEN row by doc_id before the
    * grams even exist — the largest data volume in the whole dedup
    * pipeline at corpus scale. Indexing into the split array needs no
    * ordering at all, so the scan, the generate and the consumer's map
    * side fuse into one codegen stage with zero pre-gram shuffles (the
    * filter keeps sequence() ascending: sub-n-token docs emit nothing).
    * The single shared tokenization for every gram-row consumer —
    * dedup shingles, decontamination, repetition scoring. MinHash
    * sketches do not read these rows: `graft.functions.MinHashSketch`
    * tokenizes the same way inside one row (pinned against this path
    * in DedupSimilaritySuite).
    */
  private[graft] def gramRows(docs: DataFrame, n: Int): DataFrame = {
    val parts = (0 until n).map(j => element_at(col("ts"), col("i") + j))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), size(col("ts")) - (n - 1))).as("i"))
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("g"))
  }

  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    gramRows(docs, 3)
      .distinct()
      .withColumn("sz",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).cast("int"))
  }

  /** Exact trigram-set Jaccard for a joined pair carrying a_sh/b_sh. */
  private[operators] def pairJaccard: Column =
    graft.Det.r4(
      size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh"))))

  /** Exact n-gram Jaccard near-dup pairs over a `shingleRows` frame
    * (doc_id, sz, g): equi-join on shingle -> per-pair intersection
    * count -> threshold.
    *
    * `dfCap` is the skew guard for the 100 TB tier: the equi-join's work
    * per shingle key is quadratic in that shingle's document frequency —
    * one stop-phrase shingle shared by k docs emits k²/2 pairs into a
    * single hot partition. With `dfCap = Some(c)`, shingles seen in more
    * than c documents are dropped *from the join only* (sz stays the true
    * set size), bounding every join key to ≤ c·(c−1)/2 emitted pairs and
    * the whole join to predictable skew at any corpus size.
    *
    * Semantics under the cap: for a pair sharing m capped shingles the
    * computed score is (I−m)/(U+m) ≤ I/U — a strict underestimate, so the
    * cap only *drops* pairs, never invents them, and a pair whose true
    * jaccard clears the threshold by margin ≥ m·(1+τ)/U is still caught.
    * It is OPT-IN (`None` = exact, the oracle tier): on this corpus the
    * df distribution is flat (small vocab — PPJoin prefix filtering was
    * measured and rejected for the same reason), so the cap buys nothing
    * locally; it exists for hot-key corpora at scale. The subset property
    * is asserted in DedupSimilaritySuite.
    */
  /** Drop shingles whose document frequency exceeds `cap` from a
    * materialized (doc_id, sz, g) frame — the join side only; `sz` stays
    * the true set size, so every capped score is a strict underestimate
    * (drop-only; see the callers' bound arguments). df per shingle is a
    * partial-agg count (skew-safe even on hot keys); the join back is on
    * the same key the main join uses.
    */
  private def applyDfCap(exAll: DataFrame, dfCap: Option[Int]): DataFrame =
    dfCap match {
      case None => exAll
      case Some(c) =>
        val df = exAll.groupBy(col("g"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= c)
          .select(col("g"))
        exAll.join(df, Seq("g"))
    }

  def ngramJaccardPairs(ex0: DataFrame, threshold: Double,
      dfCap: Option[Int] = None): DataFrame = {
    // the shingle rows feed both sides of the self-join (and the
    // optional df-cap branch), and Spark has no automatic common-
    // subplan reuse above the exchange — persisted LAZILY so they
    // compute once per action but schedule NO job at query
    // construction and recompute from lineage on executor loss (the
    // replaced localCheckpoint parked a corpus-sized explosion in
    // non-fault-tolerant executor-local blocks; same conversion as
    // TrainingOps.perplexityScores)
    val exAll = ex0.select(col("doc_id"), col("sz"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = applyDfCap(exAll, dfCap)
    val a = ex.select(col("doc_id").as("d1"), col("sz").as("sz1"), col("g"))
    val b = ex.select(col("doc_id").as("d2"), col("sz").as("sz2"), col("g"))
    // length-bound pruning: jaccard >= t requires t*sz1 <= sz2 and vice
    // versa — applied with half-ulp-of-r4 slack (5e-5) because the FINAL
    // filter tests the ROUNDED score: a true jaccard of t - 4.9e-5 rounds
    // up to t and must survive the prune. With the slack this is a pure
    // optimization (cannot change the rounded >= t result set).
    val tSlack = math.max(0.0, threshold - 0.00005)
    a.join(b, Seq("g"))
      .filter(col("d1") < col("d2") &&
        col("sz1") * tSlack <= col("sz2") &&
        col("sz2") * tSlack <= col("sz1"))
      .groupBy(col("d1"), col("sz1"), col("d2"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", graft.Det.r4(col("inter") /
        (col("sz1") + col("sz2") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Cross-corpus exact Jaccard pairs: A-side shingles against B-side
    * shingles only (no A×A, no B×B) — the INCREMENTAL dedup shape, where
    * A is the standing corpus and B a new batch. Work per shingle key is
    * df_A·df_B instead of (df_A+df_B)²/2, and the batch side is usually
    * tiny relative to the corpus, so this is far cheaper than re-running
    * the full self-join on A∪B. Emits (d1 ∈ A, d2 ∈ B, jaccard ≥ t);
    * the same length-bound prune as the symmetric tier applies.
    */
  def crossNgramJaccardPairs(exA: DataFrame, exB: DataFrame,
      threshold: Double): DataFrame = {
    val a = exA.select(col("doc_id").as("d1"), col("sz").as("sz1"), col("g"))
    val b = exB.select(col("doc_id").as("d2"), col("sz").as("sz2"), col("g"))
    val tSlack = math.max(0.0, threshold - 0.00005)
    a.join(b, Seq("g"))
      .filter(col("sz1") * tSlack <= col("sz2") &&
        col("sz2") * tSlack <= col("sz1"))
      .groupBy(col("d1"), col("sz1"), col("d2"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", graft.Det.r4(col("inter") /
        (col("sz1") + col("sz2") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Asymmetric containment near-dup pairs: containment(A in B) =
    * |A∩B| / |A| — catches a document whose shingle set is (mostly) a
    * SUBSET of another's (prefix/suffix/template duplication), which
    * symmetric Jaccard under-scores when the containing doc is much
    * larger. Same equi-join + intersection-count shape as the Jaccard
    * tier — and the same hot-shingle skew exposure, so the same opt-in
    * `dfCap` guard: a capped shingle is removed from the join only, `sz_s`
    * stays the true set size, and a pair sharing m capped shingles scores
    * (I−m)/sz_s ≤ I/sz_s — a strict underestimate, so the cap only DROPS
    * pairs, never invents them (containment has no size-ratio prune to
    * interact with, making the bound even simpler than the Jaccard case).
    * Emitted directed: d_small's set is contained in d_big's.
    */
  def containmentPairs(ex0: DataFrame, threshold: Double,
      dfCap: Option[Int] = None): DataFrame = {
    // lazy persist, not localCheckpoint — see ngramJaccardPairs
    val exAll = ex0.select(col("doc_id"), col("sz"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = applyDfCap(exAll, dfCap)
    val a = ex.select(col("doc_id").as("d_small"), col("sz").as("sz_s"), col("g"))
    val b = ex.select(col("doc_id").as("d_big"), col("sz").as("sz_b"), col("g"))
    // size bound (pure pruning): the directed output filter requires
    // sz_s <= sz_b, so smaller-into-larger is the only shape that can
    // emit — strictly stronger than the threshold-derived bound and
    // unaffected by score rounding
    a.join(b, Seq("g"))
      .filter(col("d_small") =!= col("d_big") &&
        col("sz_s") <= col("sz_b"))
      .groupBy(col("d_small"), col("sz_s"), col("d_big"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", graft.Det.r4(col("inter") / col("sz_s")))
      .filter(col("containment") >= threshold &&
        (col("sz_s") < col("sz_b") ||
          (col("sz_s") === col("sz_b") && col("d_small") < col("d_big"))))
      .select(col("d_small"), col("d_big"), col("containment"))
  }

  /** The fixed-seed affine permutations shared by the band computation
    * AND the DuckDB oracle builder (the oracle interpolates the same
    * constants, so both engines derive identical band keys).
    */
  private[operators] val minhashPerms: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed)          // fixed seed: deterministic perms
    IndexedSeq.fill(32)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** Verified near-dup pairs between two sketches in the row form of
    * [[MinHashIndex.sketchOf]]: band collisions become candidate
    * (d1 from `a`, d2 from `b`) pairs, `keep` filters them, and exact
    * Jaccard over the set rows keeps those >= `threshold`. The one
    * candidate-plus-verification definition behind [[sketchPairs]],
    * [[minhashLshPairs]] and the index probe.
    */
  private[operators] def verifiedPairs(a: DataFrame, b: DataFrame,
      keep: Column, threshold: Double): DataFrame = {
    def bands(s: DataFrame, d: String) = s.filter(col("kind") === "b")
      .select(col("band"), col("doc_id").as(d))
    def sets(s: DataFrame, d: String, sh: String) = s
      .filter(col("kind") === "s").select(col("doc_id").as(d), col("sh").as(sh))
    bands(a, "d1").join(bands(b, "d2"), Seq("band"))
      .filter(keep).select(col("d1"), col("d2")).distinct()
      .join(sets(a, "d1", "a_sh"), Seq("d1"))
      .join(sets(b, "d2", "b_sh"), Seq("d2"))
      .withColumn("jaccard", pairJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Verified near-dup pairs (d1 < d2) within one sketch (the row form
    * of [[MinHashIndex.sketchOf]]) — for a caller that has sketched a
    * batch once and also probes or appends it.
    */
  def sketchPairs(sketch: DataFrame, threshold: Double): DataFrame =
    verifiedPairs(sketch, sketch, col("d1") < col("d2"), threshold)

  /** MinHash-LSH near-dup pairs over a `(doc_id, text)` frame (`doc_id`
    * unique) — the 100 TB sketch tier, exposed as a pair SOURCE so
    * cluster resolution (connected components) and the corpus pipeline
    * can compose over it interchangeably with the exact tier.
    *
    * 32 minhashes (ONE portable md5-derived hash per shingle + 32 wrapping
    * affine permutations `a_i*h + b_i`, a_i odd — see
    * `graft.functions.MinHashSketch`; 32x less hashing than
    * independent string hashes), 16 bands x 2 rows; band
    * collisions become candidate pairs via an equi-join on the band key
    * (each doc shuffles a constant 16 rows — never all-pairs), then exact
    * Jaccard verifies >= threshold, so every EMITTED pair is a true
    * near-dup pair: precision 1.0, recall asserted >= 80% vs the exact
    * tier in DedupSimilaritySuite.
    */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame =
    // the sketch feeds the band self-join AND both verification sides.
    // Lazy persist, not localCheckpoint — see ngramJaccardPairs.
    sketchPairs(MinHashIndex.sketchOf(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), threshold)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Asymmetric containment tier (threshold 0.8): sub-document
    // duplication the symmetric Jaccard tier under-scores.
    "q_dedup_containment" -> ((s, d) => {
      containmentPairs(shingleRows(s, d), 0.8)
        .orderBy(col("d_small").asc_nulls_first, col("d_big").asc_nulls_first)
    }),
    // Exact dedup: one representative (min doc_id) per (lang, source)
    // key — the deterministic dropDuplicates (reference R21).
    "q_dedup_exact" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id").asc_nulls_first)
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // Incremental dedup — the production loop: a new batch (doc_id % 5
    // == 0, ~20%) is admitted against the standing corpus (the rest)
    // WITHOUT reprocessing it. Exact tier: content-hash anti-join
    // (16-byte digests move, not text). Near-dup tier: cross-corpus
    // Jaccard (A×B only, never A×A — see crossNgramJaccardPairs; at
    // 100 TB swap in MinHashIndex.probe against the persisted band
    // index, suite-asserted equivalent-modulo-recall). Survivors =
    // incoming minus both victim sets.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val incoming = docs.filter(col("doc_id") % 5 === 0)
      val existing = docs.filter(col("doc_id") % 5 =!= 0)
      val exactSafe = incoming.join(
        existing.select(md5(col("text")).as("__h")).distinct(),
        md5(incoming("text")) === col("__h"), "left_anti")
      // lazy persist, not localCheckpoint — see ngramJaccardPairs
      val sh = shingleRows(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val victims = crossNgramJaccardPairs(
          sh.filter(col("doc_id") % 5 =!= 0),
          sh.filter(col("doc_id") % 5 === 0), 0.5)
        .select(col("d2").as("doc_id")).distinct()
      exactSafe.join(victims, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // Index takedown under the driver's eye (the R24 delete verb at
    // index-maintenance scale): fit the persisted band index on the
    // standing corpus, tombstone-delete a deterministic slice, COMPACT
    // (the bytes physically leave disk), then probe the incoming batch
    // against the compacted index. HARD ORACLE since round 11: the
    // bands are md5-portable, and a correct fit/delete/compact/probe
    // lifecycle must leave the index SEMANTICALLY equal to "bands of
    // (standing minus deleted)" — so DuckDB derives the expected result
    // from the corpus alone, and any lifecycle bug (tombstone leak,
    // compaction loss, stale band) breaks the hash match.
    // DedupSimilaritySuite additionally asserts the result equals the
    // undeleted probe minus exactly the deleted docs.
    "q_dedup_index_takedown" -> ((s, d) => {
      val path = s"/tmp/graft_mh_takedown_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      // clean slate: leftover index state from a previous run would
      // couple this lifecycle's cost to history (see the IVF analog)
      locally {
        val p = new org.apache.hadoop.fs.Path(path)
        val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (f.exists(p)) { f.delete(p, true); () }
      }
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
      MinHashIndex.delete(s, path,
        docs.filter(col("doc_id") % 10 === 1).select(col("doc_id")).distinct())
      MinHashIndex.compact(s, path)
      MinHashIndex.probe(s, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
        .withColumn("jaccard", graft.Det.r4(col("jaccard")))
        .orderBy(col("d1").asc_nulls_first, col("d2").asc_nulls_first)
    }),

    // Exact n-gram Jaccard near-dup pairs (threshold 0.5): shingle
    // explode -> equi-join on shingle -> per-pair intersection count.
    // dfCap = None here (the exact/oracle tier); see ngramJaccardPairs
    // for the opt-in hot-shingle skew guard used at scale.
    "q_dedup_ngram_jaccard" -> ((s, d) => {
      ngramJaccardPairs(shingleRows(s, d), 0.5)
        .orderBy(col("d1").asc_nulls_first, col("d2").asc_nulls_first)
    }),

    // MinHash + LSH banding: see minhashLshPairs. HARD ORACLE since
    // round 11: the portable md5-derived base hash + HUGEINT affine
    // arithmetic in SQL reproduce the exact band keys, so DuckDB derives
    // the identical candidate set and verified pairs (recall vs the
    // exact operator additionally asserted in DedupSimilaritySuite).
    "q_dedup_minhash" -> ((s, d) => {
      minhashLshPairs(Tables.documents(s, d), 0.5)
        .orderBy(col("d1").asc_nulls_first, col("d2").asc_nulls_first)
    }),

    // SimHash (64-bit over shingle hashes) + 4x16-bit chunk pigeonhole:
    // any pair within hamming distance 3 shares at least one chunk.
    // Candidates equi-join on (chunk index, chunk value); verified by
    // bit_count(xor) <= 3. HARD ORACLE since round 11: the bit source is
    // the portable md5-derived halves (h1 = hex[1..8], h2 = hex[9..16]),
    // so DuckDB reproduces signatures, chunks and pairs bit-exactly.
    "q_dedup_simhash" -> ((s, d) => {
      // One md5 per shingle, then 64 codegen'd conditional sums with
      // map-side partial aggregation — each doc shuffles as 64 longs.
      // (A nested HOF formulation recomputed the hash per bit and ran
      // interpreted: ~70x slower at sf0.1.)
      val ex = shingleRows(s, d)
        .select(col("doc_id"), md5(col("g")).as("m"))
        .select(col("doc_id"),
          conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("h1"),
          conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("h2"))
      val bitSums = (0 until 64).map { k =>
        val src = if (k < 32) s"(h1 >> $k)" else s"(h2 >> ${k - 32})"
        sum(when(expr(s"$src & 1") === 1, 1).otherwise(-1)).as(s"b$k")
      }
      val sigExpr = (0 until 64)
        .map(k => s"IF(b$k > 0, shiftleft(CAST(1 AS BIGINT), $k), CAST(0 AS BIGINT))")
        .mkString(" + ")
      val sig = ex.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), expr(sigExpr).as("simhash"))
      val chunks = sig.select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), c -> " +
          "concat(c, ':', (simhash >> (c * 16)) & 65535))")).as("chunk"))
      val cand = chunks.alias("x").join(chunks.alias("y"), Seq("chunk"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("x.simhash").as("s1"),
          col("y.doc_id").as("d2"), col("y.simhash").as("s2"))
        .distinct()
      cand.withColumn("hamming", bit_count(expr("s1 ^ s2")))
        .filter(col("hamming") <= 3)
        .select(col("d1"), col("d2"), col("hamming"))
        .orderBy(col("d1").asc_nulls_first, col("d2").asc_nulls_first)
    }),

    // Embedding-cosine near-dup pairs over `embeddings` (threshold on the
    // rounded score keeps the boundary identical across engines). The
    // cell count scales with the corpus (the OUTPUT is k-invariant — the
    // tile bound is exact — so adaptivity is free): constant tile width
    // keeps per-task memory flat as the corpus grows.
    "q_dedup_embedding" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val k = math.max(8L, math.min(4096L, e.count() / 1024L)).toInt
      embeddingPairsExact(e, k = k, iters = 2, threshold = 0.35)
        .orderBy(col("v1").asc_nulls_first, col("v2").asc_nulls_first)
    })
  )

  /** EXACT all-pairs cosine >= threshold — provably the same pair set
    * as a naive cross join, but cell-bucketed so the quadratic only
    * materializes where the geometry cannot rule it out:
    *
    *   1. spherical view: k-means cells (IvfAnn.assign) + per-cell max
    *      ANGLE from member to centroid (alpha_i), a k-row aggregate;
    *   2. the angular triangle inequality gives, for any u in cell i and
    *      v in cell j, theta(u,v) >= theta(c_i,c_j) - alpha_i - alpha_j
    *      — when that lower bound exceeds acos(threshold), NO pair
    *      across (i,j) can reach the threshold and the whole block is
    *      skipped exactly (Elkan-style pruning, driver-side over k^2
    *      cell pairs);
    *   3. surviving cell pairs become a tiny broadcast tile table; the
    *      vector sides shuffle by cell id into per-tile equi-joins and
    *      every candidate is verified by exact cosine.
    *
    * No broadcast of the corpus, no driver-side data, no all-pairs
    * plan: worst case (one smeared cluster) degrades to evenly-tiled
    * quadratic work across the cluster; clustered data prunes most
    * tiles. k scales with corpus size (tiles ~ k^2, tile width ~ n/k).
    */
  def embeddingPairsExact(e0: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    import graft.functions.VectorOps.{vec_dot, vec_dot_fd, vec_norm}
    // zero-norm vectors cannot score (null cosine) — the cross join
    // dropped them through the filter; drop them before bucketing
    val e = e0.withColumn("nrm", vec_norm(col("embedding")))
      .filter(col("nrm") > 0)
    val (assigned, centroids) = IvfAnn.assign(e, k, iters)
    val cNorms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    // per-row angle to the OWN cell's centroid, then per-cell max — a
    // k-row collect (bounded like the IVF centroid update). A CASE
    // chain keyed on `cell` computes only the one matching dot product
    // per row (O(n·d)), not all k of them.
    val ownCos = centroids.toIndexedSeq.zipWithIndex
      .filter { case (_, i) => cNorms(i) > 0 }
      .foldLeft(lit(Double.NaN)) { case (acc, (c, i)) =>
        when(col("cell") === i,
          vec_dot_fd(col("embedding"), array(c.toIndexedSeq.map(lit): _*)) /
            (col("nrm") * lit(cNorms(i)))).otherwise(acc)
      }
    val alphas = {
      val rows = assigned
        .withColumn("__ang",
          acos(greatest(lit(-1.0), least(lit(1.0), ownCos))))
        .groupBy(col("cell")).agg(max(col("__ang")).as("alpha"))
        .collect()
      val m = rows.collect {
        case r if !r.isNullAt(1) && !r.getDouble(1).isNaN =>
          r.getInt(0) -> r.getDouble(1)
      }.toMap
      Array.tabulate(centroids.length)(m.getOrElse(_, Double.NaN))
    }
    // driver-side tile pruning over k^2 cell pairs. thetaT carries the
    // r4-rounding slack (raw cos 0.34995 rounds INTO the threshold) and
    // a float-arithmetic epsilon, so the bound can only over-admit. A
    // cell whose centroid degenerated to zero norm (or whose alpha is
    // unknown) has NO valid bound — it stays unprunable against every
    // other cell, preserving the exactness contract.
    val thetaT = math.acos(math.max(-1.0,
      math.min(1.0, threshold - 1e-4))) + 1e-6
    def prunable(i: Int, j: Int): Boolean = {
      if (cNorms(i) <= 0 || cNorms(j) <= 0 ||
        alphas(i).isNaN || alphas(j).isNaN) false
      else {
        val dot = centroids(i).zip(centroids(j)).map(p => p._1 * p._2).sum
        val ang = math.acos(math.max(-1.0,
          math.min(1.0, dot / (cNorms(i) * cNorms(j)))))
        ang - alphas(i) - alphas(j) > thetaT
      }
    }
    val tiles = for {
      i <- centroids.indices; j <- centroids.indices
      if i == j || !prunable(i, j)
    } yield (i, j)
    val s = e0.sparkSession
    import s.implicits._
    // ordered tiles (both directions for i != j): with v1 < v2 below,
    // every unordered vector pair survives in exactly one orientation
    val tileDf = tiles.toDF("ca", "cb")
    val a = assigned.select(col("cell").as("ca"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = assigned.select(col("cell").as("cb"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(broadcast(tileDf), Seq("ca"))
      .join(b, Seq("cb"))
      .filter(col("v1") < col("v2"))
      .withColumn("cos", graft.Det.r4(
        vec_dot(col("e1"), col("e2")) / (col("n1") * col("n2"))))
      .filter(col("cos") >= threshold)
      .select(col("v1"), col("v2"), col("cos"))
  }

  /** The shared DuckDB shingle CTE (identical to the handwritten ones
    * in the jaccard/containment oracles).
    */
  private[operators] val shingleCte: String =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shs
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |  WHERE len(ts) >= 3)""".stripMargin

  private val U64 = "18446744073709551616::HUGEINT"
  private val S63 = "9223372036854775808::HUGEINT"

  /** DuckDB derivation of the EXACT q_dedup_minhash pair set: the
    * portable base hash (md5 halves packed via HUGEINT — DuckDB's `<<`
    * errors on sign-bit shifts, so the pack is arithmetic), the 32
    * affine permutations in wrapping 2^64 arithmetic (HUGEINT multiply,
    * mod, signed remap — bit-identical to the engine's Java wrapping
    * multiply since hu ≥ 0 and the constants are interpolated from the
    * SAME fixed-seed [[minhashPerms]]), the 16 band keys, the band
    * equi-join candidates, and the exact-jaccard verification. Shared
    * by the q_dedup_minhash oracle and the q_dedup_clusters_lsh
    * transitive-closure oracle.
    */
  /** The band-derivation prefix (shingles -> portable hash -> affine
    * minhashes -> 16 band keys) shared by every LSH oracle tail.
    */
  private[operators] def minhashBandCtes: String = {
    val mask32 = (BigInt(1) << 32) - 1
    // wrapping a·h+b mod 2^64 in 32-bit limbs (INT128 cannot hold the
    // full u64×u64 product): with h = h1·2^32 + h2 and a = a1·2^32 + a2,
    //   a·h ≡ a2·h2 + ((a2·h1 + a1·h2) mod 2^32)·2^32   (mod 2^64)
    // — every partial product stays under 2^64, well inside HUGEINT
    val affines = minhashPerms.zipWithIndex.map { case ((a, b), i) =>
      val au = BigInt(a) & ((BigInt(1) << 64) - 1)
      val bu = BigInt(b) & ((BigInt(1) << 64) - 1)
      val a1 = au >> 32
      val a2 = au & mask32
      s"    (($a2::HUGEINT * h2 + (($a2::HUGEINT * h1 + $a1::HUGEINT * h2)" +
        s" % 4294967296::HUGEINT) * 4294967296::HUGEINT" +
        s" + $bu::HUGEINT) % $U64) AS m$i"
    }.mkString(",\n")
    val mins = (0 until 32).map(i =>
      s"    min(CAST(CASE WHEN m$i >= $S63 THEN m$i - $U64 " +
        s"ELSE m$i END AS BIGINT)) AS mh$i").mkString(",\n")
    val bands = (0 until 16).map(b =>
      s"  SELECT doc_id, '$b:' || CAST(mh${2 * b} AS VARCHAR) || ':' || " +
        s"CAST(mh${2 * b + 1} AS VARCHAR) AS band FROM mh")
      .mkString("\nUNION ALL\n")
    s"""$shingleCte,
       |hu AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT)::HUGEINT AS h1,
       |    CAST(('0x' || substring(md5(g), 9, 8)) AS BIGINT)::HUGEINT AS h2
       |  FROM (SELECT doc_id, unnest(shs) AS g FROM sh)),
       |aff AS (
       |  SELECT doc_id,
       |$affines
       |  FROM hu),
       |mh AS (
       |  SELECT doc_id,
       |$mins
       |  FROM aff GROUP BY doc_id),
       |bands AS (
       |$bands)""".stripMargin
  }

  private[operators] def minhashPairCtes: String =
    s"""$minhashBandCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.doc_id < y.doc_id),
       |ver AS (
       |  SELECT c.d1, c.d2, len(list_intersect(a.shs, b.shs)) AS inter,
       |    len(a.shs) AS sz1, len(b.shs) AS sz2
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.d1
       |  JOIN sh b ON b.doc_id = c.d2),
       |lsh_pairs AS (
       |  SELECT d1, d2,
       |    floor((inter / (sz1 + sz2 - inter)) * 10000
       |      + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS jaccard
       |  FROM ver
       |  WHERE floor((inter / (sz1 + sz2 - inter)) * 10000
       |      + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5)"""
      .stripMargin

  /** DuckDB derivation of the EXACT q_dedup_simhash pair set: per-bit
    * ±1 sums over the md5-half bits, HUGEINT signature assembly (bit 63
    * lands in the sign — DuckDB's `<<` would error, the additive form
    * wraps exactly like the engine's shiftleft sum), 4×16-bit chunk
    * pigeonhole, hamming ≤ 3 verify.
    */
  private def simhashOracle: String = {
    val bitSums = (0 until 64).map { k =>
      val src = if (k < 32) s"(h1 >> $k)" else s"(h2 >> ${k - 32})"
      s"    sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS b$k"
    }.mkString(",\n")
    val terms = (0 until 64).map(k =>
      s"(CASE WHEN b$k > 0 THEN ${BigInt(1) << k}::HUGEINT " +
        s"ELSE 0::HUGEINT END)").mkString(" + ")
    s"""WITH $shingleCte,
       |hh AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(m, 1, 8)) AS BIGINT) AS h1,
       |    CAST(('0x' || substring(m, 9, 8)) AS BIGINT) AS h2
       |  FROM (SELECT doc_id, md5(g) AS m
       |        FROM (SELECT doc_id, unnest(shs) AS g FROM sh))),
       |bits AS (
       |  SELECT doc_id,
       |$bitSums
       |  FROM hh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, CAST(CASE WHEN su >= $S63 THEN su - $U64
       |    ELSE su END AS BIGINT) AS simhash
       |  FROM (SELECT doc_id, ($terms) AS su FROM bits)),
       |chunks AS (
       |  SELECT doc_id, simhash, c, ((simhash >> (c * 16)) & 65535) AS cv
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, x.simhash AS s1,
       |    y.doc_id AS d2, y.simhash AS s2
       |  FROM chunks x JOIN chunks y
       |    ON x.c = y.c AND x.cv = y.cv AND x.doc_id < y.doc_id)
       |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
       |ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the index lifecycle restated as a pure corpus query: d1 ranges
    // over the standing corpus minus the tombstoned slice, d2 over the
    // incoming batch; band-collision candidates, exact-jaccard verify
    "q_dedup_index_takedown" ->
      s"""WITH $minhashBandCtes,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |  FROM bands x JOIN bands y ON x.band = y.band
         |  WHERE x.doc_id % 5 <> 0 AND NOT (x.doc_id % 10 = 1)
         |    AND y.doc_id % 5 = 0 AND x.doc_id <> y.doc_id),
         |ver AS (
         |  SELECT c.d1, c.d2, len(list_intersect(a.shs, b.shs)) AS inter,
         |    len(a.shs) AS sz1, len(b.shs) AS sz2
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.d1
         |  JOIN sh b ON b.doc_id = c.d2)
         |SELECT d1, d2,
         |  floor((inter / (sz1 + sz2 - inter)) * 10000
         |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS jaccard
         |FROM ver
         |WHERE floor((inter / (sz1 + sz2 - inter)) * 10000
         |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5
         |ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashPairCtes
         |SELECT d1, d2, jaccard FROM lsh_pairs
         |ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""".stripMargin,
    "q_dedup_simhash" -> simhashOracle,
    "q_dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS d_small, a.sz AS sz_s,
        |    b.doc_id AS d_big, b.sz AS sz_b, count(1) AS inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT d_small, d_big,
        |  floor((inter / CAST(sz_s AS DOUBLE)) * 10000
        |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS containment
        |FROM pairs
        |WHERE floor((inter / CAST(sz_s AS DOUBLE)) * 10000
        |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.8
        |  AND (sz_s < sz_b OR (sz_s = sz_b AND d_small < d_big))
        |ORDER BY d_small ASC NULLS FIRST, d_big ASC NULLS FIRST""".stripMargin,
    "q_dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS g FROM sh),
        |cp AS (
        |  SELECT a.doc_id AS d1, a.sz AS sz1, b.doc_id AS d2, b.sz AS sz2,
        |    count(1) AS inter
        |  FROM ex a JOIN ex b ON a.g = b.g
        |  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        |  GROUP BY 1, 2, 3, 4),
        |victims AS (
        |  SELECT DISTINCT d2 FROM cp
        |  WHERE floor((inter / (sz1 + sz2 - inter)) * 10000
        |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5),
        |exact_dup AS (
        |  SELECT DISTINCT i.doc_id FROM documents i
        |  JOIN documents e ON i.text = e.text AND e.doc_id % 5 <> 0
        |  WHERE i.doc_id % 5 = 0)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id % 5 = 0
        |  AND doc_id NOT IN (SELECT d2 FROM victims)
        |  AND doc_id NOT IN (SELECT doc_id FROM exact_dup)
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY doc_id ASC NULLS FIRST) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |  WHERE len(ts) >= 3),
        |ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS d1, a.sz AS sz1, b.doc_id AS d2, b.sz AS sz2,
        |    count(1) AS inter
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT d1, d2, floor((inter / (sz1 + sz2 - inter)) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS jaccard
        |FROM pairs WHERE floor((inter / (sz1 + sz2 - inter)) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5
        |ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""".stripMargin,
    "q_dedup_embedding" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  floor((list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (a.nrm * b.nrm)) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE floor((list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / (a.nrm * b.nrm)) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.35
        |ORDER BY v1 ASC NULLS FIRST, v2 ASC NULLS FIRST""".stripMargin
  )
}
