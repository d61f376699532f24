package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH index: sketch the standing corpus once, probe
  * each incoming batch against it — the 100 TB tier of incremental
  * near-dup detection (`q_dedup_incremental` is the exact/oracle tier).
  *
  * Layout: ONE parquet table at `<path>/data`, partitioned by `kind` —
  * `kind=b` rows hold the 16 LSH band keys per doc (the join side of
  * every future probe), `kind=s` rows the distinct shingle set per doc
  * (for exact verification of candidates). Both halves are written by a
  * SINGLE job commit, so a crash can never publish one without the
  * other (the round-5 review found the previous two-directory layout
  * left a bands-without-sets window that silently dropped candidate
  * verification forever).
  *
  * The table is BUCKETED by `band` (registered as an external bucketed
  * catalog table over the same path): the probe's candidate join reads
  * the corpus side pre-hashed into band buckets, so ONLY the incoming
  * batch shuffles — the standing 100 TB side never moves
  * (plan-asserted: no Exchange under the corpus side of the band join,
  * DedupSimilaritySuite). `kind=s` rows carry a per-doc spread value in
  * `band` purely for bucket balance; probes never read it. Bucket
  * metadata lives in the session catalog (a persistent metastore in a
  * real deployment); a session that only sees the files falls back to a
  * plain parquet read — identical results, one extra shuffle — and its
  * appends stay on the plain layout rather than mislabel unbucketed
  * files as bucketed (fallback path suite-asserted). A `_layout` marker
  * file records which layout the files are actually in; readers and
  * appenders prefer it over the session catalog, so a session holding a
  * stale catalog entry after another session's plain-layout append
  * detects the demotion at runtime instead of mis-scanning (bucketed
  * scans key bucket ids off file names). The index still assumes a
  * single writer AT A TIME for appends.
  *
  * The row form `(doc_id, band, sh, kind)` is [[sketchOf]]: a caller
  * that sketches a batch once can probe ([[probeSketch]]), pair it
  * within itself (`DedupOps.sketchPairs`) and append it
  * ([[appendSketch]]) without re-sketching; [[fit]], [[append]] and
  * [[probe]] are the same verbs over a `(doc_id, text)` frame.
  *
  * A probe is one equi-join on the band key followed by exact Jaccard
  * verification of the (few) collisions, so emitted pairs have precision
  * 1.0 and the corpus text is never re-shingled. Band keys are
  * deterministic (fixed-seed permutations, see [[sketchOf]]), which
  * is what makes cross-run probing sound.
  *
  * Generalizes the reference's ingest-skip invariant (main.py:90,
  * database.py:19 — "don't re-admit what's already in the DB") from
  * exact file identity to near-duplicate content identity.
  */
object MinHashIndex {

  /** Band buckets for the catalog layout. Small here; at 100 TB size so
    * one bucket's band rows fit an executor's shuffle-free merge.
    */
  private val nBuckets = 8

  /** Deterministic catalog name for the index at `path` — fit/append/
    * probe within a session agree on it without threading extra state.
    */
  private def tableName(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "graft_mhidx_" +
      md.digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** On-disk layout marker (`<path>/_layout`, contents `bucketed` or
    * `plain`): the runtime detector for the mixed-layout hazard. A
    * session holding the bucketed catalog entry while ANOTHER session
    * appends plain-layout files would otherwise probe through the
    * bucketed table over files whose names carry no bucket ids — which
    * Spark rejects at scan time or mis-plans. Every fit/append rewrites
    * the marker, and readers prefer it over the catalog.
    */
  private def markerPath(path: String) =
    new org.apache.hadoop.fs.Path(path + "/_layout")

  private def writeLayout(s: SparkSession, path: String,
      layout: String): Unit = {
    val p = markerPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(layout.getBytes("UTF-8")) finally out.close()
  }

  private def readLayout(s: SparkSession, path: String): Option[String] = {
    val p = markerPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** The index frame: the bucketed catalog table when this session has
    * it AND the layout marker agrees, else the raw parquet files
    * (correct, just re-shuffles probes). A `plain` marker overrides a
    * stale catalog entry — another session's plain append demoted the
    * layout, and the bucketed scan would key bucket ids off file names
    * that no longer carry them.
    */
  private def indexFrame(s: SparkSession, path: String): DataFrame = {
    val tbl = tableName(path)
    if (readLayout(s, path).contains("plain")) s.read.parquet(path + "/data")
    else if (s.catalog.tableExists(tbl)) s.table(tbl)
    else s.read.parquet(path + "/data")
  }

  private val minhashSketch =
    graft.functions.MinHashSketch.udfOf(DedupOps.minhashPerms)

  /** The index row form of a `(doc_id, text)` frame: per doc, 16 LSH
    * band rows (`kind = b`, `sh` null) and one set row (`kind = s`, the
    * distinct trigram shingles in `sh`; `band` is `s:<doc_id>`, a spread
    * key that only balances the band buckets and that probes never
    * read). A doc with fewer than 3 tokens has no trigram and no rows.
    *
    * Band key = `index:sig:sig` over the 32 fixed-seed minhashes of
    * `DedupOps.minhashLshPairs`, so bands computed in different runs
    * collide identically and the DuckDB oracle reproduces them
    * bit-exactly. Each doc is sketched in one pass over its own row
    * (`graft.functions.MinHashSketch`): a batch is sketched with no
    * shuffle. `doc_id` must be unique in `docs` (every caller's
    * contract): a repeated id would get one row set per occurrence.
    */
  def sketchOf(docs: DataFrame): DataFrame = {
    val sig = col("k.sig")
    val bands = (0 until 16).map { b =>
      struct(concat(lit(s"$b:"), sig(2 * b).cast("string"), lit(":"),
          sig(2 * b + 1).cast("string")).as("band"),
        lit(null).cast("array<string>").as("sh"), lit("b").as("kind"))
    }
    val set = struct(concat(lit("s:"), col("doc_id")).as("band"),
      col("k.sh").as("sh"), lit("s").as("kind"))
    docs.select(col("doc_id"), minhashSketch(col("text")).as("k"))
      // a null sketch (under 3 tokens) explodes to no rows
      .select(col("doc_id"),
        inline(when(col("k").isNotNull, array(bands :+ set: _*))))
  }

  /** Sketch `docs` (a `(doc_id, text)` frame) into `path`. */
  def fit(docs: DataFrame, path: String): Unit =
    write(sketchOf(docs), path, "overwrite")

  // ---- deletion / takedown (tombstones + compaction) -------------------
  //
  // The index-maintenance generalization of the reference's R24
  // delete_entry_from_table (database.py:66-71): opt-outs, post-hoc
  // contamination discoveries, and erasure requests must be REMOVABLE
  // from a 100 TB index without rewriting it on every request. delete()
  // appends doc_ids to a tombstone sidecar (<path>/tombstones) that
  // probe/indexedIds anti-join (the tombstone side is takedown-sized, so
  // Spark broadcasts it — the standing corpus side still never
  // shuffles); compact() later folds the tombstones into one physical
  // rewrite. Same single-writer contract as append.

  private def tombstonesPath(path: String) =
    new org.apache.hadoop.fs.Path(path + "/tombstones")

  private def compactStagePath(path: String) =
    new org.apache.hadoop.fs.Path(path + "/data.compact")

  /** Tombstoned doc_ids, or None when nothing was ever deleted (keeps
    * the no-deletions plans byte-identical to the pre-takedown ones).
    */
  private def tombstoneFrame(s: SparkSession, path: String): Option[DataFrame] = {
    val p = tombstonesPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString)) else None
  }

  private def minusTombstones(s: SparkSession, path: String,
      d: DataFrame): DataFrame =
    tombstoneFrame(s, path).fold(d) { t =>
      // explicit broadcast: the tombstone list is takedown-sized by
      // contract, and the hint guarantees the corpus side reaches its
      // band join shuffle-free regardless of config/AQE estimates
      // (plan-asserted in DedupSimilaritySuite)
      d.join(broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
    }

  /** Remove documents from the index: their sketches stop matching
    * probes IMMEDIATELY (tombstone anti-join), and the bytes leave disk
    * at the next [[compact]]. Idempotent — re-deleting appends duplicate
    * tombstone rows, which the anti-join ignores and compact clears.
    * Note the [[graft.pipeline.CorpusPipeline]] interplay: a takedown
    * must also remove the doc from the CORPUS (see
    * `CorpusPipeline.takedown`) — otherwise reconcile re-sketches it
    * (harmlessly: the re-appended rows stay tombstone-masked, but they
    * occupy space until compaction).
    */
  def delete(s: SparkSession, path: String, docIds: DataFrame): Unit =
    // takedown-sized by contract (minusTombstones broadcasts it) — one
    // file per delete, not one per shuffle partition of the distinct
    docIds.select(col("doc_id")).distinct().coalesce(1)
      .write.mode("append").parquet(tombstonesPath(path).toString)

  /** Fold tombstones into the files: rewrite the index minus deleted
    * docs, republish on the bucketed layout, clear the tombstones. The
    * remaining rows are STAGED to a sibling dir first (a durable job
    * commit, not an in-memory checkpoint), so a crash mid-swap never
    * loses the index: re-running compact finishes the interrupted swap
    * from the stage before starting a fresh pass. A doc's band rows
    * scatter across all 8 band buckets by construction, so — unlike the
    * cell-partitioned IVF index — there are no prunable partitions here
    * and compaction is one full rewrite; amortize it over many deletes.
    */
  def compact(s: SparkSession, path: String): Unit = {
    val stage = compactStagePath(path)
    val fs = stage.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(stage)) {
      // finish a torn swap — but ONLY from a COMPLETE stage (job-commit
      // _SUCCESS marker). A crash mid-stage-write leaves partial files;
      // trusting them would publish a partial index and silently lose
      // the rest. An incomplete stage is discarded: the data dir is
      // still intact in that crash window, and the tombstones still
      // present drive a fresh pass below.
      if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
        publishCompacted(s, path)
      else { fs.delete(stage, true); () }
    }
    tombstoneFrame(s, path).foreach { t =>
      val remaining = s.read.parquet(path + "/data")
        .join(t.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      remaining.write.mode("overwrite").parquet(stage.toString)
      publishCompacted(s, path)
    }
  }

  /** Steps 2..4 of the compaction swap (stage dir must exist): replace
    * the data table with the staged copy, then clear tombstones + stage.
    */
  private def publishCompacted(s: SparkSession, path: String): Unit = {
    val staged = s.read.parquet(compactStagePath(path).toString)
      .select(col("doc_id"), col("band"), col("sh"), col("kind"))
    val tbl = tableName(path)
    val dataPath = new org.apache.hadoop.fs.Path(path + "/data")
    val fs = dataPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    if (fs.exists(dataPath)) { fs.delete(dataPath, true); () }
    staged.repartition(nBuckets, col("band")) // one file per bucket
      .write.mode("overwrite")
      .partitionBy("kind")
      .bucketBy(nBuckets, "band").sortBy("band")
      .option("path", path + "/data")
      .format("parquet")
      .saveAsTable(tbl)
    writeLayout(s, path, "bucketed") // compaction restores the fast layout
    if (fs.exists(tombstonesPath(path))) {
      fs.delete(tombstonesPath(path), true); ()
    }
    fs.delete(compactStagePath(path), true); ()
  }

  /** Distinct doc_ids FULLY present in the index (both halves) — the
    * membership view consistency checks (e.g. CorpusPipeline.reconcile)
    * compare against, kept here so the on-disk layout stays this
    * object's private knowledge. Requiring both halves means a doc torn
    * by a mid-commit crash reads as missing and gets re-sketched; the
    * re-append then duplicates its surviving half's rows, which is
    * harmless — duplicate candidates collapse in probe's distinct, and
    * duplicate verification rows re-verify the same pair.
    */
  def indexedIds(s: SparkSession, path: String): DataFrame = {
    val d = minusTombstones(s, path, indexFrame(s, path))
    d.filter(col("kind") === "b").select(col("doc_id")).distinct()
      .join(d.filter(col("kind") === "s").select(col("doc_id")).distinct(),
        Seq("doc_id"))
  }

  /** Add new (already-admitted) docs' sketches to an existing index —
    * the incremental-ingest publish step. Callers guarantee the doc_ids
    * are new; the index itself never dedups.
    */
  def append(docs: DataFrame, path: String): Unit =
    appendSketch(sketchOf(docs), path)

  /** [[append]] for docs already in the row form of [[sketchOf]]. */
  def appendSketch(sketch: DataFrame, path: String): Unit =
    write(sketch, path, "append")

  private def write(sketch: DataFrame, path: String, mode: String): Unit = {
    val all = sketch.select(col("doc_id"), col("band"), col("sh"), col("kind"))
    val spark = all.sparkSession
    val tbl = tableName(path)
    val dataPath = new org.apache.hadoop.fs.Path(path + "/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mode == "overwrite") {
      // External table: DROP leaves files behind and CTAS refuses a
      // non-empty location — clear both halves of the old index first,
      // plus any tombstones / half-finished compaction of the PREVIOUS
      // index generation (a fresh fit resets all deletion state).
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      if (fs.exists(dataPath)) { fs.delete(dataPath, true); () }
      if (fs.exists(tombstonesPath(path))) {
        fs.delete(tombstonesPath(path), true); ()
      }
      if (fs.exists(compactStagePath(path))) {
        fs.delete(compactStagePath(path), true); ()
      }
    }
    if (mode == "append" && (!spark.catalog.tableExists(tbl) ||
        readLayout(spark, path).contains("plain"))) {
      // Appending to files written by an earlier session (no bucket
      // metadata), or to an index another session already demoted to
      // the plain layout (marker says so even though this session still
      // holds a catalog entry): stay on the plain layout rather than
      // mislabel unbucketed files as bucketed.
      all.write.mode(mode).partitionBy("kind").parquet(path + "/data")
      writeLayout(spark, path, "plain")
    } else {
      // pre-shuffle by the bucket key (same Murmur3 hash bucketBy
      // applies): each task then holds exactly one bucket and writes
      // ONE file per (kind, bucket) instead of every task opening a
      // file in every bucket it sees — up to tasks x buckets tiny
      // files per fit (guide §6 small files)
      all.repartition(nBuckets, col("band"))
        .write.mode(mode)
        .partitionBy("kind")
        .bucketBy(nBuckets, "band").sortBy("band")
        .option("path", path + "/data")
        .format("parquet")
        .saveAsTable(tbl)
      writeLayout(spark, path, "bucketed")
    }
  }

  /** Probe an incoming batch (a `(doc_id, text)` frame) against the
    * index: returns (d1 = indexed doc, d2 = incoming doc, jaccard) for
    * every verified near-dup pair at `threshold`. Recall vs the exact
    * cross join is the LSH band recall (suite-asserted >= 80%);
    * precision is 1.0 (every candidate is exactly verified).
    */
  def probe(s: SparkSession, path: String, docs: DataFrame,
      threshold: Double): DataFrame =
    // materialized: the band join and the verification sets both read it
    probeSketch(s, path, sketchOf(docs).localCheckpoint(), threshold)

  /** [[probe]] for a batch already in the row form of [[sketchOf]]. */
  def probeSketch(s: SparkSession, path: String, sketch: DataFrame,
      threshold: Double): DataFrame =
    // tombstoned docs stop matching immediately (pre-compaction); the
    // tombstone side is takedown-sized so the anti-join broadcasts and
    // the corpus side keeps its shuffle-free bucketed path
    DedupOps.verifiedPairs(minusTombstones(s, path, indexFrame(s, path)),
      sketch, col("d1") =!= col("d2"), threshold)
}
