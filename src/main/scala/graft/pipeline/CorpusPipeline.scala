package graft.pipeline

import graft.Tables
import graft.operators.{DedupOps, MinHashIndex, PipelineOps, TrainingOps}
import graft.Observed.observedLong
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus preprocessing pipeline, composed from
  * the engine's own operators:
  *
  *   normalize -> quality gate -> optional curation gates
  *   (benchmark decontamination / repetition / perplexity ceilings,
  *   from the TrainingOps tier) -> exact dedup -> near-dup cluster
  *   resolve (MinHash-free exact tier at test scale; swap the pair
  *   source for the LSH tier at 100 TB) -> per-language quota ->
  *   fixed-capacity sequence packing -> partitioned parquet write.
  *
  * Every stage is a declarative DataFrame transform; the only
  * driver-side materialization is the near-dup stage's bounded CC
  * endgame (≤ `localFinishEdges` canonical edges — see
  * [[PipelineOps.connectedComponentsWithRounds]]; pass 0 there to
  * forbid it). The stage ordering is the cost-aware one: cheap map-only
  * gates (normalize, quality) run first to shrink the corpus before the
  * shuffling stages (dedup joins, windows), and the near-dup stage
  * receives only quality survivors. Counts come back in a report struct
  * via one aggregation per stage boundary — the same observability the
  * reference gets from its per-stage prints (main.py:93-107), without
  * row-at-a-time work.
  */
object CorpusPipeline {

  case class Report(input: Long, afterQuality: Long, afterCuration: Long,
      afterExact: Long, afterNearDup: Long, afterQuota: Long, nBins: Long)

  /** Near-dup pair tiers for [[run]]'s `pairSource`: each takes the
    * exact-deduped, NORMALIZED docs frame (doc_id, text) plus the
    * caller's threshold and emits verified (d1, d2) pairs; the CC and
    * keep rule downstream are tier-independent. `exactPairs` is the
    * oracle tier (right at test scale), `lshPairs` the 100 TB text
    * sketch tier, `phashPairs` the image/perceptual tier (threshold is
    * ignored — hamming distance <= 3 is the pairing rule there).
    */
  val exactPairs: (DataFrame, Double) => DataFrame =
    (docs, t) => DedupOps.ngramJaccardPairs(
      DedupOps.shingleRowsOf(docs.select(col("doc_id"), col("text"))), t, None)

  val lshPairs: (DataFrame, Double) => DataFrame = DedupOps.minhashLshPairs

  val phashPairs: (DataFrame, Double) => DataFrame =
    (docs, _) => graft.operators.MultimodalOps.phashPairsOf(
      docs.select(col("doc_id"), col("text")))

  /** Run the full pipeline; writes the packed corpus partitioned by lang
    * under `outDir` and returns per-stage counts.
    *
    * `pairSource` selects the near-dup pair tier — [[exactPairs]] (the
    * default), [[lshPairs]], or [[phashPairs]].
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      minTokens: Int = 10, jaccardThreshold: Double = 0.5,
      quotaPerLang: Int = 200, binTokens: Int = 2048,
      pairSource: (DataFrame, Double) => DataFrame = exactPairs,
      benchmark: Option[DataFrame] = None,
      maxRepetition: Option[Double] = None,
      maxXent: Option[Double] = None): Report = {
    val docs = Tables.documents(spark, sfDir)
    val input = docs.count()

    // 1+2. normalize + quality gate (both map-only; shared with the
    //    incremental path via gate() so batch and full runs can never
    //    disagree on admission rules). Each stage boundary is
    //    localCheckpoint'ed: the report fires one action per stage and
    //    the write a final one — without materialization the exact-dedup
    //    shuffle would re-execute for every downstream action.
    val quality = gate(docs, minTokens).localCheckpoint()
    val afterQuality = quality.count()

    // 2.5 (optional) curation gates from the TrainingOps tier, cheapest
    //    first: benchmark decontamination (broadcast semi-join probe),
    //    in-document repetition ceiling, and a perplexity ceiling under
    //    the corpus's own unigram LM (self-scoring: outliers against the
    //    corpus distribution are exactly the gibberish the filter
    //    targets). All disabled by default; when disabled this stage
    //    adds zero jobs and afterCuration == afterQuality.
    val curated = curate(quality, benchmark, maxRepetition, maxXent)
    val curationOn =
      benchmark.nonEmpty || maxRepetition.nonEmpty || maxXent.nonEmpty
    val afterCuration = if (curationOn) curated.count() else afterQuality

    // 3. exact dedup: one survivor per exact text (content-hash key, not
    //    the raw text, so the shuffle moves 16-byte digests).
    val exact = curated
      .withColumn("__h", md5(col("text")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id").asc)))
      .filter(col("__rn") === 1).drop("__h", "__rn")
      .localCheckpoint()
    val afterExact = exact.count()

    // 4. near-dup resolution: pair graph -> connected components -> keep
    //    each cluster's min doc_id. The pair tier receives the SURVIVING
    //    NORMALIZED docs (stage-1 output) — featurizing a fresh table
    //    scan would score raw whitespace variants differently and miss
    //    exactly the pairs normalization exists to catch. The tier is
    //    the caller's `pairSource` (exact jaccard by default, MinHash-
    //    LSH or the perceptual-hash image tier at 100 TB) — the CC and
    //    the keep rule are unchanged either way.
    val pairs = pairSource(exact.select(col("doc_id"), col("text")),
        jaccardThreshold)
      .select(col("d1"), col("d2"))
    val clusters = PipelineOps.connectedComponents(pairs)
    val victims = clusters.filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"))
    val nearDeduped = exact.join(victims, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val afterNearDup = nearDeduped.count()

    // 5. per-language quota by portable hash order (reproducible mix).
    val quota = nearDeduped
      .withColumn("__hk", md5(col("doc_id").cast("string")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("__hk").asc, col("doc_id").asc)))
      .filter(col("__rk") <= quotaPerLang).drop("__hk", "__rk")
      .localCheckpoint()
    val afterQuota = quota.count()

    // 6. sequence packing into fixed-capacity bins per language.
    val packed = quota
      .withColumn("__cum", sum(col("n_toks")).over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)))
      .withColumn("bin",
        floor((col("__cum") - col("n_toks")) / lit(binTokens)).cast("bigint"))
      .drop("__cum")

    packed.write.mode("overwrite").partitionBy("lang").parquet(outDir)
    val nBins = spark.read.parquet(outDir)
      .select(col("lang"), col("bin")).distinct().count()
    Report(input, afterQuality, afterCuration, afterExact, afterNearDup,
      afterQuota, nBins)
  }

  // ---------------------------------------------------------------------
  // Incremental ingest: admit new batches against a standing corpus
  // without ever reprocessing it — the production loop once the initial
  // corpus is built. Generalizes the reference's idempotent dedup-append
  // invariant (main.py:90, database.py:19: re-running ingest adds
  // nothing) from exact row identity to near-duplicate content identity:
  // re-ingesting an already-admitted batch admits ZERO documents
  // (asserted in CorpusPipelineSuite).
  // ---------------------------------------------------------------------

  /** Per-batch admission counts. `afterQuality` counts the docs
    * surviving the normalize+token-floor gate AND any enabled
    * batch-local curation gates (they share the same admission stage).
    */
  case class IncrementalReport(batch: Long, afterQuality: Long,
      afterExact: Long, admitted: Long, corpusSize: Long)

  /** The optional curation chain (benchmark decontamination, repetition
    * ceiling, perplexity ceiling), shared by [[run]] and
    * [[runIncremental]] so full and incremental processing apply
    * identical admission rules. Each ENABLED gate checkpoints its
    * output: the next gate's plan references its input twice (main
    * branch + victims branch), so an unmaterialized boundary would
    * re-execute the previous gate's n-gram subtree once per reference.
    * When all gates are None this is the identity and adds zero jobs.
    * The perplexity gate self-scores against `docs` itself — right for
    * a full corpus; for a per-batch LM reference use
    * [[TrainingOps.perplexityScoresAgainst]] with the standing corpus.
    * The decontamination n-gram width is fixed at the 5-gram default;
    * call [[TrainingOps.decontaminate]] directly for other widths
    * (GPT-3/PaLM used 13-grams on web-scale text).
    */
  private def curate(docs: DataFrame, benchmark: Option[DataFrame],
      maxRepetition: Option[Double], maxXent: Option[Double]): DataFrame = {
    // the benchmark gets gate()'s whitespace normalization too: `docs`
    // arrives normalized, and a raw benchmark's double-spaced 5-grams
    // would tokenize differently and never match the corpus's grams —
    // defeating the containment probe on exactly the verbatim overlaps
    // it exists to catch
    val c0 = benchmark
      .map(b => TrainingOps.decontaminate(docs,
        b.withColumn("text", trim(regexp_replace(col("text"), " +", " "))),
        n = 5).localCheckpoint())
      .getOrElse(docs)
    val c1 = maxRepetition.map { t =>
      val victims = TrainingOps.repetitionScores(c0)
        .filter(col("dup_frac") > t).select(col("doc_id"))
      c0.join(victims, Seq("doc_id"), "left_anti").localCheckpoint()
    }.getOrElse(c0)
    maxXent.map { t =>
      val victims = TrainingOps.perplexityScores(c1)
        .filter(col("xent") > t).select(col("doc_id"))
      c1.join(victims, Seq("doc_id"), "left_anti").localCheckpoint()
    }.getOrElse(c1)
  }

  /** Stages 1+2 of admission (normalize + token floor), shared verbatim
    * by [[run]], [[seedCorpus]] and [[runIncremental]] so full and
    * incremental processing can never disagree on admission rules.
    * Whitespace collapse + trim only; casing is kept — tokens are the
    * dedup unit and the corpus is cased.
    */
  private def gate(docs: DataFrame, minTokens: Int): DataFrame = docs
    .withColumn("text", trim(regexp_replace(col("text"), " +", " ")))
    .withColumn("n_toks", size(split(col("text"), " ")))
    .filter(col("n_toks") >= minTokens)

  /** Exact-dedup within a gated frame and stamp the persisted
    * `content_hash` column (md5 of normalized text) — the 16-byte key
    * future batches' exact tier scans INSTEAD of re-hashing corpus text.
    */
  private def exactDedupWithHash(gated: DataFrame): DataFrame = gated
    .withColumn("content_hash", md5(col("text")))
    .withColumn("__rn", row_number().over(
      Window.partitionBy(col("content_hash")).orderBy(col("doc_id").asc)))
    .filter(col("__rn") === 1).drop("__rn")

  /** Initialize the standing corpus from a first document set: normalize
    * + quality gate + exact dedup, write the survivors (with their
    * `content_hash` column) to `corpusDir`, and sketch them into the
    * MinHash index at `indexPath`. (Use [[run]] first for full
    * historical cleaning — near-dup clusters, quotas — and seed from its
    * output when that matters.)
    */
  def seedCorpus(spark: SparkSession, docs: DataFrame, corpusDir: String,
      indexPath: String, minTokens: Int = 10): Long = {
    val seeded = exactDedupWithHash(gate(docs, minTokens)).localCheckpoint()
    val (written, writtenObs) = counted(seeded)
    written.write.mode("overwrite").parquet(corpusDir)
    // a fresh seed resets ALL admission state: a stale victims sidecar
    // from a previous incremental history would otherwise feed reconcile
    // phantom victims (old text re-sketched into the new index whenever
    // an old rep_id collides with a new doc_id)
    val vDir = victimsDir(corpusDir)
    val vPath = new org.apache.hadoop.fs.Path(vDir)
    vPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(vPath, true)
    MinHashIndex.fit(seeded, indexPath)
    countOf(writtenObs)(seeded.count())
  }

  /** Admit one batch against the standing corpus. The corpus itself is
    * touched only through (a) its persisted `content_hash` column
    * (16-byte digests — the text column is never re-read) and (b) the
    * persisted MinHash index — never re-shingled, never re-scanned
    * quadratically.
    *
    * Admission policy: a batch doc is dropped if it exactly or nearly
    * matches the corpus; near-dup CLUSTERS within the surviving batch
    * (connected components over verified LSH pairs) keep their min
    * doc_id — the same transitive policy as [[run]], so a chain A~B~C
    * admits only A even when A~C is below threshold. To keep replays
    * idempotent under that policy, the index receives the sketches of
    * EVERY corpus-safe batch doc (representatives AND their cluster
    * victims): a replayed or future chain member then matches its
    * nearest indexed neighbor even though only the representative lives
    * in the corpus. The corpus parquet itself stays admitted-docs-only.
    *
    * Contract: `doc_id` is the global primary key — callers assign ids
    * unique across all batches (the reference's R22 contract). A reused
    * id would defeat the probe's self-pair filter and conflate distinct
    * documents in every downstream join.
    *
    * The publish step is up to three ordered appends: the victims
    * sidecar (only when the batch has cluster victims), then the corpus,
    * then the index; a crash between any two leaves a window that
    * [[reconcile]] detects and repairs — run it on restart before
    * replaying batches. SINGLE WRITER: batches must be admitted one at
    * a time (the shape [[streamIncremental]]'s serialized micro-batches
    * give for free) — two concurrent admissions could each pass the
    * other's probe before either publishes, admitting mutual near-dups.
    *
    * The batch is sketched ONCE ([[MinHashIndex.sketchOf]]): that one
    * sketch is probed against the index, paired within the batch and
    * appended to the index. The report's counts ride the checkpoints
    * and the corpus append that run anyway (recounted only when a
    * metric is lost, see [[graft.Observed]]).
    */
  def runIncremental(spark: SparkSession, batch: DataFrame,
      corpusDir: String, indexPath: String, minTokens: Int = 10,
      threshold: Double = 0.5,
      benchmark: Option[DataFrame] = None,
      maxRepetition: Option[Double] = None): IncrementalReport = {
    val (batchIn, inObs) = counted(batch)
    // Without curation gates the gated frame is not materialized: the
    // exact tier's checkpoint below is its one reader, and the input and
    // afterQuality counts ride that job. The optional curation gates
    // mirror [[run]]'s (batch-local ones only: the perplexity gate needs
    // a reference LM — see [[TrainingOps.perplexityScoresAgainst]] — so
    // it is not offered per batch). When gates are on, the gate() output
    // is checkpointed FIRST — the first gate's dual-branch plan (victims
    // + anti-join) would otherwise re-scan the batch source twice — and
    // curate's last enabled gate checkpoints the final frame.
    val gated = {
      val g = gate(batchIn, minTokens)
      if (benchmark.nonEmpty || maxRepetition.nonEmpty)
        curate(g.localCheckpoint(), benchmark, maxRepetition, None)
      else g
    }

    // exact tier: dedup within the batch, then against the corpus's
    // persisted digests (a 16-byte column scan, pruned to one column).
    // A corpus written before the digest column existed is tolerated by
    // deriving it on the fly (one-time full-text scan; re-seed or add
    // the column to get the cheap path).
    // Mixed corpora (legacy files + digest-bearing appends) read the
    // legacy rows' content_hash as NULL — and NULL never equi-joins, so
    // trusting the column blindly would silently re-admit exact dups of
    // every legacy doc. One aggregate gives the corpus size and the
    // null-digest count; only a fully-digested corpus takes the
    // 16-byte-column fast path.
    val corpusRaw = spark.read.parquet(corpusDir)
    val digestCol = corpusRaw.columns.contains("content_hash")
    val corpusStats = corpusRaw.agg(count(lit(1)),
      if (digestCol) count_if(col("content_hash").isNull) else lit(1L)).head()
    val corpusSizeBefore = corpusStats.getLong(0)
    val hasDigests = digestCol && corpusStats.getLong(1) == 0L
    val corpusHashes = (if (hasDigests) corpusRaw.select(col("content_hash"))
      else corpusRaw.select(md5(col("text")).as("content_hash")))
      .distinct()
    val (gatedIn, qualityObs) = counted(gated)
    val (exactOut, exactObs) = counted(exactDedupWithHash(gatedIn)
      .join(corpusHashes, Seq("content_hash"), "left_anti"))
    val exactSafe = exactOut.localCheckpoint()
    val nBatch = countOf(inObs)(batch.count())
    val afterQuality = countOf(qualityObs)(gated.count())
    val afterExact = countOf(exactObs)(exactSafe.count())

    // near-dup vs corpus: one probe of the persisted band index with the
    // batch's sketch, which the in-batch pairs and the append reuse
    val sketch = MinHashIndex.sketchOf(exactSafe).localCheckpoint()
    val corpusVictims = MinHashIndex.probeSketch(spark, indexPath, sketch,
        threshold)
      .select(col("d2").as("doc_id")).distinct()
    val corpusSafe = exactSafe.join(corpusVictims, Seq("doc_id"), "left_anti")
      .localCheckpoint()  // consumed by the pair join AND the admit anti-join
    val safeSketch = sketch.join(corpusSafe.select(col("doc_id")),
      Seq("doc_id"), "left_semi")

    // near-dup within the surviving batch: LSH pairs -> CC -> keep min.
    // Victims keep their cluster label: the representative's doc_id is
    // what makes a torn publish recoverable (see the sidecar below).
    val (victimsOut, victimsObs) = counted(PipelineOps.connectedComponents(
        DedupOps.sketchPairs(safeSketch, threshold)
          .select(col("d1"), col("d2")))
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("doc_id"), col("cluster").as("rep_id")))
    val batchVictims = victimsOut.localCheckpoint()
    val nVictims = countOf(victimsObs)(batchVictims.count())
    val admittedRows = corpusSafe
      .join(batchVictims.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val (admitted, admittedObs) = counted(admittedRows)

    // publish, in recovery order (each step makes the next repairable by
    // [[reconcile]]):
    //   1. victims sidecar (doc_id, text, rep_id) — the cluster victims'
    //      text, keyed by their admitted representative; appended only
    //      when the batch HAS victims. Without it a crash before the
    //      index append would lose the victims' sketches forever (their
    //      text lives nowhere else), and a replayed chain A~B~C with A~C
    //      below threshold would re-admit C. reconcile purges sidecar
    //      rows whose rep never landed (crash before step 2) and
    //      re-sketches the rest (crash before step 3).
    //   2. corpus rows for admitted docs (their count rides the write).
    //   3. index sketches for every corpus-safe doc (representatives AND
    //      victims — replay idempotence under the transitive cluster
    //      policy needs the victims' sketches too).
    if (nVictims > 0)
      corpusSafe.join(batchVictims, Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("rep_id"))
        .write.mode("append").parquet(victimsDir(corpusDir))
    admitted.write.mode("append").parquet(corpusDir)
    val nAdmitted = countOf(admittedObs)(admittedRows.count())
    MinHashIndex.appendSketch(safeSketch, indexPath)
    IncrementalReport(nBatch, afterQuality, afterExact, nAdmitted,
      corpusSizeBefore + nAdmitted)
  }

  /** `df` with its row count riding whatever job executes it. */
  private def counted(df: DataFrame): (DataFrame, Observation) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("n")), o)
  }

  /** The count [[counted]] observed, or `recount` when it was lost. */
  private def countOf(o: Observation)(recount: => Long): Long =
    observedLong(o.get, "n")(recount)

  /** Sidecar of within-batch cluster victims (doc_id, text, rep_id),
    * sibling to the corpus directory; owned by this object.
    */
  private def victimsDir(corpusDir: String): String =
    corpusDir.stripSuffix("/") + "_victims"

  /** Continuous corpus admission: stream document-batch files landing
    * under `sourceDir` through [[runIncremental]] with a foreachBatch
    * sink — the Structured-Streaming composition of the incremental
    * path. Micro-batch delivery is at-least-once on recovery, which is
    * exactly why it composes safely here: [[runIncremental]] is
    * near-dup-idempotent (replayed docs match their own sketches in the
    * band index and are dropped), so a re-delivered micro-batch admits
    * nothing twice. Caller picks the trigger: `Trigger.AvailableNow()`
    * drains the backlog and stops (the tested shape); the default
    * processing-time trigger tails the directory forever.
    */
  def streamIncremental(spark: SparkSession, sourceDir: String,
      corpusDir: String, indexPath: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      minTokens: Int = 10, threshold: Double = 0.5,
      benchmark: Option[DataFrame] = None,
      maxRepetition: Option[Double] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // a restarting stream IS the crash-recovery path: repair any torn
    // publish BEFORE the checkpoint re-delivers the in-flight batch,
    // or the replay meets a half-published corpus (admitted docs whose
    // sketches are missing) and re-admits their near-dups
    reconcile(spark, corpusDir, indexPath)
    graft.streaming.CheckpointTuning.forLocalCheckpoint(spark, checkpointDir)
    val batches = spark.readStream
      .schema(graft.Schemas.corpus("documents"))
      .parquet(sourceDir)
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          runIncremental(spark, batch.toDF(), corpusDir, indexPath,
            minTokens, threshold, benchmark, maxRepetition)
          ()
        }
      }
      .start()
  }

  /** Erasure / takedown: remove documents from the standing corpus, the
    * victims sidecar, AND the near-dup index in one maintenance call —
    * the pipeline-level generalization of the reference's R24 delete
    * verb (database.py:66-71) for opt-outs, post-hoc contamination
    * discoveries, and erasure requests. Semantics: after takedown the
    * content is gone everywhere text lives (corpus + sidecar) and its
    * sketches stop matching probes immediately (index tombstones, then
    * a physical compaction) — so a FUTURE batch with the same content
    * is re-admitted, which is the definition of erasure, not a bug.
    *
    * Cluster victims of a removed REPRESENTATIVE erase with it: their
    * text lives only in the sidecar (purged below), and the index must
    * never hold sketches whose text is recoverable from nowhere — that
    * is [[reconcile]]'s invariant, and orphan sketches would also
    * ghost-reject future submissions of content that no longer exists
    * anywhere. [[reconcile]] reads the post-takedown state as
    * consistent (suite-asserted). Returns the number of corpus rows
    * removed.
    *
    * Single writer, like every maintenance verb here: do not run
    * concurrently with batch admission.
    */
  def takedown(spark: SparkSession, corpusDir: String, indexPath: String,
      docIds: DataFrame, compactIndex: Boolean = true): Long = {
    // the id lists must be severed from the directories rewritten below
    // (callers often derive them from the corpus itself — "take down
    // docs matching X"); they are takedown-sized, so the eager
    // localCheckpoints are bounded state, not corpus materializations
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint()
    val vDir = victimsDir(corpusDir)
    val vPath = new org.apache.hadoop.fs.Path(vDir)
    val vExists = vPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(vPath)
    // the full erasure set: the requested ids plus sidecar victims whose
    // representative is being removed (see the cluster policy above)
    val extIds = if (!vExists) ids
      else ids.union(spark.read.parquet(vDir)
          .join(ids.select(col("doc_id").as("rep_id")), Seq("rep_id"))
          .select(col("doc_id")))
        .distinct().localCheckpoint()
    // 1. index tombstones FIRST: from here the docs are unmatchable even
    //    if a crash interrupts the rewrites below; delete is idempotent,
    //    so a replayed takedown just re-appends ignored tombstones
    MinHashIndex.delete(spark, indexPath, extIds)
    // 2. corpus rewrite minus the ids (stage-then-swap, the same
    //    discipline as reconcile's sidecar GC); the rows before and
    //    after are counted on the rewrite itself
    val (corpus, before) = counted(spark.read.parquet(corpusDir))
    val (keep, after) = counted(corpus.join(ids, Seq("doc_id"), "left_anti"))
    val removed = swapRewrite(spark, corpusDir, keep) {
      countOf(before)(spark.read.parquet(corpusDir).count()) -
        countOf(after)(spark.read.parquet(corpusDir + ".tmp").count())
    }
    // 3. victims sidecar: purge every erased row — takedown ids that
    //    live there as victims AND victims of removed representatives
    //    (both are in extIds by construction)
    if (vExists) {
      val victims = spark.read.parquet(vDir)
      swapRewrite(spark, vDir, victims
        .join(extIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"), col("rep_id")))(())
    }
    // 4. fold the tombstones into the index files (prunable work for the
    //    IVF layout; one amortizable rewrite for the band index)
    if (compactIndex) MinHashIndex.compact(spark, indexPath)
    removed
  }

  /** Stage-then-swap rewrite of a parquet directory: write `keep` to a
    * sibling .tmp, evaluate `staged` (both copies still exist), then
    * delete + rename and return its value. The delete/rename instant is
    * the one non-atomic window; the durable .tmp makes the loss
    * recoverable by hand, matching reconcile's sidecar GC contract.
    */
  private def swapRewrite[A](spark: SparkSession, dir: String,
      keep: DataFrame)(staged: => A): A = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    keep.write.mode("overwrite").parquet(dir + ".tmp")
    val result = staged
    if (!fs.delete(dirPath, true))
      throw new java.io.IOException(s"takedown: delete($dir) failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(dir + ".tmp"), dirPath))
      throw new java.io.IOException(
        s"takedown: rename($dir.tmp -> $dir) failed — " +
          "restore the .tmp directory and re-run")
    result
  }

  /** Detect and repair the publish windows [[runIncremental]] documents:
    *
    *  1. RE-SKETCH docs missing from the band index: corpus docs, and
    *     sidecar victims whose representative IS in the corpus (crash
    *     between the corpus append and the index append) — restoring
    *     the victims' sketches is what keeps a replayed near-dup chain
    *     A~B~C (A~C below threshold) from re-admitting its tail.
    *  2. GC the sidecar: drop orphan victims whose representative never
    *     landed (crash between the sidecar append and the corpus append
    *     — the batch will replay from scratch, so they must not linger)
    *     and victims whose sketches are now durably indexed (keeping
    *     their text would grow the sidecar without bound across
    *     batches). The rewrite is stage-then-swap; the delete/rename
    *     instant is the one remaining non-atomic window and loses at
    *     most the sidecar (a re-run then sees an absent/complete
    *     sidecar, never a torn one).
    *
    * Returns orphaned + re-sketched row count (0 ⇔ consistent; GC of
    * already-indexed rows is maintenance, not a repair, and does not
    * count). Idempotent; cheap when consistent (id-column scans +
    * anti-joins over a normally-empty sidecar).
    */
  def reconcile(spark: SparkSession, corpusDir: String,
      indexPath: String): Long = {
    val corpus = spark.read.parquet(corpusDir)
    val corpusReps = corpus.select(col("doc_id").as("rep_id"))
    val dir = victimsDir(corpusDir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no sidecar (no batch since the last GC had cluster victims): no
    // orphans to count, nothing to collect
    val victims =
      if (fs.exists(dirPath)) Some(spark.read.parquet(dir).localCheckpoint())
      else None
    val nOrphans =
      victims.fold(0L)(_.join(corpusReps, Seq("rep_id"), "left_anti").count())
    val validVictims = victims.map(_.join(corpusReps, Seq("rep_id"), "left_semi"))
    // docs under 3 tokens produce no trigram shingles and CAN never be
    // indexed — excluding them keeps "returns 0" ⇔ "consistent" (they
    // are equally invisible to every probe, so nothing is lost)
    val (missingRows, missingObs) = counted(validVictims
      .foldLeft(corpus.select(col("doc_id"), col("text")))(
        (docs, v) => docs.union(v.select(col("doc_id"), col("text"))))
      .filter(size(split(col("text"), " ")) >= 3)
      .join(MinHashIndex.indexedIds(spark, indexPath),
        Seq("doc_id"), "left_anti"))
    val missing = missingRows.localCheckpoint()
    val n = countOf(missingObs)(missing.count())
    if (n > 0)
      MinHashIndex.append(missing, indexPath)
    // sidecar GC: after the repairs above, drop rows that are orphans
    // (their batch never landed — they must not linger into a replay)
    // or already fully indexed (their sketches are durable; keeping the
    // text would grow the sidecar without bound across batches). The
    // sidecar thus shrinks back to only victims of publishes still in
    // flight — normally empty.
    for (all <- victims; valid <- validVictims) {
      val keep = valid
        .join(MinHashIndex.indexedIds(spark, indexPath),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"), col("rep_id"))
        .localCheckpoint()
      if (keep.count() < all.count()) {
        // HDFS-style FileSystems report failure by RETURNING false, not
        // throwing — a swallowed false would report rows as purged while
        // they linger (or silently drop the sidecar on a failed rename)
        if (keep.isEmpty) {
          if (fs.exists(dirPath) && !fs.delete(dirPath, true))
            throw new java.io.IOException(s"sidecar GC: delete($dir) failed")
        } else {
          keep.write.mode("overwrite").parquet(dir + ".tmp")
          if (!fs.delete(dirPath, true))
            throw new java.io.IOException(s"sidecar GC: delete($dir) failed")
          if (!fs.rename(new org.apache.hadoop.fs.Path(dir + ".tmp"), dirPath))
            throw new java.io.IOException(
              s"sidecar GC: rename($dir.tmp -> $dir) failed — " +
                "re-run reconcile after restoring the .tmp directory")
        }
      }
    }
    n + nOrphans
  }
}
