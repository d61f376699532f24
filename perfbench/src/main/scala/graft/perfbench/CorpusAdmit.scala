package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables
import graft.pipeline.CorpusPipeline

/** The training-corpus admission pipeline. Set-up seeds the standing
  * corpus and its MinHash index from the corpus's `documents`; the loop
  * then runs rounds of five ops in a fixed order: admit, takedown, admit,
  * reconcile, admit. Admissions go through `runIncremental`; a takedown
  * erases 3 seeded live documents. Each batch plants a fixed mix of fresh
  * documents, exact duplicates and near duplicates of live corpus
  * documents, and low-quality (too short) ones, so the report's counts
  * are known before the batch runs.
  *
  * The batch takes its shape from the repository's own corpus and tests:
  * a batch is one fifth of `documents` (the 1-in-5 split
  * `CorpusPipelineSuite` admits), and 5% of it are near duplicates made
  * the way the test corpus makes them, a live text plus a " dup" token.
  * The test corpus holds almost no exact duplicates (8 in 5,000 at
  * sf0.1) and no low-quality documents; each batch plants one of each so
  * that both paths run.
  */
final class CorpusAdmit(a: Args, rng: scala.util.Random, stats: Stats) extends Workload {
  private val nearShare = 0.05
  private val exact = 1
  private val lowQuality = 1
  private var batchSize = 0
  private var near = 0
  private def fresh = batchSize - near - exact - lowQuality
  private val takedownDocs = 3
  private val vocab = ("join hash row batch scan customer column filter small slow merge " +
    "order vector line data table agg value key stream window spark a group part big " +
    "sort query fast the").split(" ").toIndexedSeq

  private var spark: SparkSession = _
  private var corpusDir = ""
  private var indexPath = ""
  private var schema: StructType = _
  /** The live corpus the model expects: doc id -> text. */
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private val offered = mutable.ArrayBuffer.empty[Row]
  private var nextId = 10000000L

  def setup(s: SparkSession, r: Int): Unit = {
    spark = s
    val t0 = System.nanoTime()
    val docs = Tables.documents(s, a.data)
    schema = docs.schema
    batchSize = (docs.count() / 5).toInt
    near = math.round(batchSize * nearShare).toInt
    val seedTexts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    stats.add("tables.warm_ms", (System.nanoTime() - t0) / 1e6)
    val root = s"${a.work}/corpus_admit/setup$r"
    Files.rm(root)
    corpusDir = s"$root/corpus"
    indexPath = s"$root/index"
    live.clear(); offered.clear()
    val expectSeeded = seedTexts.filter(_._2.split(" ").length >= 10)
      .groupBy(_._2).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
    val n = CorpusPipeline.seedCorpus(s, docs, corpusDir, indexPath)
    require(n == expectSeeded.size, s"seedCorpus kept $n docs, expected ${expectSeeded.size}")
    live ++= expectSeeded
    // the first set-up warms the admission plan (codegen and the JIT are
    // process-wide) on its own corpus
    if (r == 0) require(admit(new Timer, false), "warm-up batch")
  }

  private def words(n: Int): String = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")

  private def doc(text: String): Row = {
    nextId += 1
    Row(nextId, text, "en", s"src${nextId % 20}", text.length.toLong)
  }

  /** Runs one planted batch and checks the admission report. Near
    * duplicates copy distinct live documents of at least 40 tokens, which
    * the MinHash index always matches, and never a text that is itself
    * live.
    */
  private def admit(timed: Timer, corrupt: Boolean): Boolean = {
    val ids = live.keysIterator.toIndexedSeq
    val liveTexts = live.valuesIterator.toSet
    val longIds = ids.filter(id => live(id).count(_ == ' ') >= 39 &&
      !liveTexts.contains(live(id) + " dup"))
    val freshRows = Seq.fill(fresh)(doc(words(10 + rng.nextInt(90))))
    val rows = freshRows ++
      Seq.fill(exact)(doc(live(ids(rng.nextInt(ids.size))))) ++
      rng.shuffle(longIds).take(near).map(id => doc(live(id) + " dup")) ++
      Seq.fill(lowQuality)(doc(words(3 + rng.nextInt(6))))
    val shuffled = java.util.Arrays.asList(rng.shuffle(rows): _*)
    stats.note(rows.map(_.getString(1)).mkString("|"))
    val rep0 = timed(CorpusPipeline.runIncremental(spark,
      spark.createDataFrame(shuffled, schema), corpusDir, indexPath))
    stats.add("pipeline.admit_ms", timed.ms)
    stats.add("rows", batchSize)
    stats.add("pipeline.offered", batchSize)
    stats.add("pipeline.admitted", rep0.admitted.toDouble)
    offered ++= rows
    freshRows.foreach(r => live(r.getLong(0)) = r.getString(1))
    val rep = if (corrupt) rep0.copy(admitted = rep0.admitted + 1) else rep0
    val want = CorpusPipeline.IncrementalReport(batchSize, batchSize - lowQuality,
      batchSize - lowQuality - exact, fresh, live.size.toLong)
    if (rep != want) System.err.println(s"[perfbench] admit report $rep, expected $want")
    rep == want
  }

  private def takedown(timed: Timer, corrupt: Boolean): Boolean = {
    val ids = rng.shuffle(live.keys.toIndexedSeq).take(takedownDocs)
    stats.note(ids.mkString(","))
    val idRows = java.util.Arrays.asList(ids.map(Row(_)): _*)
    val removed = timed(CorpusPipeline.takedown(spark, corpusDir, indexPath,
      spark.createDataFrame(idRows, StructType(Seq(StructField("doc_id", LongType))))))
    stats.add("pipeline.takedown_ms", timed.ms)
    ids.foreach(live.remove)
    (if (corrupt) removed + 1 else removed) == ids.size
  }

  private def reconcile(timed: Timer, corrupt: Boolean): Boolean = {
    val repaired = timed(CorpusPipeline.reconcile(spark, corpusDir, indexPath))
    stats.add("pipeline.reconcile_ms", timed.ms)
    (if (corrupt) repaired + 1 else repaired) == 0
  }

  def nextRound(): Seq[Op] = {
    val a = Op("admit", "admit", admit)
    Seq(a, Op("takedown", "maintain", takedown), a, Op("reconcile", "maintain", reconcile), a)
  }

  def finish(): Boolean = {
    val corpus = spark.read.parquet(corpusDir)
    val got = corpus.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ok = got == live.toMap
    if (a.trace) {
      val plainDir = s"${a.work}/corpus_admit/plain"
      stats.add("plain_written_bytes", Files.plainBytes(
        spark.createDataFrame(java.util.Arrays.asList(offered.toSeq: _*), schema),
        s"$plainDir/written"))
      stats.add("plain_final_bytes", Files.plainBytes(corpus, s"$plainDir/final"))
      stats.add("live_bytes", Seq(corpusDir, corpusDir + "_victims", indexPath)
        .map(p => Files.list(p).values.sum).sum.toDouble)
    }
    ok
  }

  override def layerMetrics(ops: Int): Map[String, Double] = Map(
    "pipeline.admit_ms" -> stats.mean("pipeline.admit_ms"),
    "pipeline.takedown_ms" -> stats.mean("pipeline.takedown_ms"),
    "pipeline.reconcile_ms" -> stats.mean("pipeline.reconcile_ms"),
    "pipeline.admit_ratio" ->
      stats.sum("pipeline.admitted") / stats.sum("pipeline.offered").max(1.0))

  override def info: Map[String, Any] = Map(
    "batch_docs" -> batchSize,
    "planted_shares" -> Map(
      "fresh" -> fresh.toDouble / batchSize, "exact_dup" -> exact.toDouble / batchSize,
      "near_dup" -> near.toDouble / batchSize,
      "low_quality" -> lowQuality.toDouble / batchSize),
    "corpus_docs_at_end" -> live.size)
}
