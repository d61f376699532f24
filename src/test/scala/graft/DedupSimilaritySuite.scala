package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/structure checks for the sketch-based operators against their
  * exact counterparts (the exact operators themselves are DuckDB-oracled).
  */
class DedupSimilaritySuite extends AnyFunSuite {
  import SparkFixture._

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select(col(if (name.contains("embedding")) "v1" else "d1"),
        col(if (name.contains("embedding")) "v2" else "d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("shingle construction matches a plain sliding-window reference") {
    import spark.implicits._
    // seeded generator covering the edge shapes: short docs (< 3
    // tokens emit nothing), repeated grams (distinct), empty tokens
    // from double spaces (kept as tokens, exactly like split())
    val rnd = new scala.util.Random(0x5417)
    val vocab = Vector("a", "bb", "ccc", "", "d e") // "" ~ double space
    val docs = (1L to 40L).map { id =>
      val n = rnd.nextInt(7) // 0..6 tokens
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val expected = docs.flatMap { case (id, text) =>
      val ts = text.split(" ", -1).toSeq
      val grams = if (ts.size < 3) Seq.empty
        else ts.sliding(3).map(_.mkString(" ")).toSeq.distinct
      grams.map(g => (id, g, grams.size))
    }.toSet
    val got = operators.DedupOps
      .shingleRowsOf(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected).take(3)} / ${(expected diff got).take(3)}")
  }

  /** A sketch frame as a sorted multiset of (doc_id, kind, band, sorted sh). */
  private def sketchRows(sk: org.apache.spark.sql.DataFrame) =
    sk.select("doc_id", "kind", "band", "sh").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) Seq.empty[String] else r.getSeq[String](3).sorted)
    }.toSeq.sortBy(t => (t._1, t._2, t._3, t._4.mkString("\u0000")))

  test("the index sketch equals the two-shuffle reference on random texts") {
    import spark.implicits._
    // seeded property loop over the tokenizer's edge shapes: null and
    // empty text, 1-2 tokens (no trigram), repeated trigrams, runs of
    // spaces (empty tokens), leading/trailing spaces, non-ASCII
    val rnd = new scala.util.Random(0x5ce7)
    val vocab = Vector("a", "bb", "ccc", "", "é", "日本", "straße", "😀")
    def tokens(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def text(): String = rnd.nextInt(7) match {
      case 0 => null
      case 1 => ""
      case 2 => tokens(1 + rnd.nextInt(2)).mkString(" ")
      case 3 => Vector.fill(2 + rnd.nextInt(4))(tokens(2).mkString(" ")).mkString(" ")
      case 4 => " " * (1 + rnd.nextInt(3)) + tokens(rnd.nextInt(6)).mkString(" ") +
        " " * rnd.nextInt(3)
      case _ => tokens(rnd.nextInt(12)).mkString(" " * (1 + rnd.nextInt(2)))
    }
    (1 to 4).foreach { round =>
      val docs = (1L to 60L).map(id => (round * 1000L + id, text()))
        .toDF("doc_id", "text")
      val want = sketchRows(operators.SketchReference.sketchOf(docs))
      val got = sketchRows(operators.MinHashIndex.sketchOf(docs))
      assert(want.exists(_._2 == "b"), s"round $round sketched no document")
      assert(got == want, s"round $round: ${got.diff(want).take(2)} / " +
        s"${want.diff(got).take(2)}")
    }
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    assert(sketchRows(operators.MinHashIndex.sketchOf(corpus)) ==
      sketchRows(operators.SketchReference.sketchOf(corpus)))
  }

  /** The physical plans of the SQL executions `body` runs, the writes
    * nested in its commands included. Listener events arrive
    * asynchronously but in order, so a fence query after `body` flushes
    * them.
    */
  private def plansOf(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val fence = spark.range(1)
    spark.listenerManager.register(listener)
    try {
      body
      fence.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(fence.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(10)
      require(seen.contains(fence.queryExecution), "listener never saw the fence")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.filterNot(_ eq fence.queryExecution).map(_.executedPlan)
  }

  test("the sketch plans no shuffle; fit's write plans one, the band bucket repartition") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan) =
      helper.collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }
    val docs = Tables.documents(spark, sf)
    val sketch = operators.MinHashIndex.sketchOf(docs)
    sketch.collect() // finalize AQE
    assert(exchanges(sketch.queryExecution.executedPlan).isEmpty,
      s"the sketch shuffled:\n${sketch.queryExecution.executedPlan}")
    // a second sketch of the same docs plans the same result, so the
    // sketch minhashLshPairs persists is found again, not re-cached
    assert(operators.MinHashIndex.sketchOf(docs).queryExecution.analyzed
      .sameResult(sketch.queryExecution.analyzed))
    val path = java.nio.file.Files
      .createTempDirectory("graft_mhp").toString + "/idx"
    val ex = plansOf(operators.MinHashIndex.fit(docs, path)).flatMap(exchanges)
    assert(ex.size == 1, s"fit planned ${ex.size} exchanges: $ex")
    ex.head.outputPartitioning match {
      case HashPartitioning(Seq(k), 8) =>
        assert(k.references.map(_.name).toSet == Set("band"), s"bucket key $k")
      case p => fail(s"fit's exchange is not the 8-bucket band repartition: $p")
    }
  }

  test("minhash-LSH recalls >= 80% of exact jaccard>=0.5 pairs, no junk") {
    val exact = pairs("q_dedup_ngram_jaccard")
    val lsh = pairs("q_dedup_minhash")
    assert(exact.nonEmpty, "exact near-dup pairs expected in corpus")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall over ${exact.size} pairs")
    // every LSH survivor passed the exact >= 0.5 verification
    assert((lsh -- exact).isEmpty)
  }

  test("simhash candidates are a subset of exact near-dup pairs") {
    val exact = pairs("q_dedup_ngram_jaccard")
    val sim = pairs("q_dedup_simhash")
    assert(sim.nonEmpty, "hamming<=3 pairs expected (corpus has ~0.99-jaccard dups)")
    assert((sim -- exact).isEmpty,
      s"simhash emitted non-near-dup pairs: ${(sim -- exact).take(5)}")
  }

  test("dfCap shingle guard: generous cap is lossless, any cap only drops") {
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    try {
      val exact = operators.DedupOps.ngramJaccardPairs(sh, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // cap above the corpus's max shingle df -> identical result set
      val maxDf = sh.groupBy("g").count().agg(max("count")).head().getLong(0)
      val capped = operators.DedupOps.ngramJaccardPairs(sh, 0.5, Some(maxDf.toInt))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == exact, "cap >= max df must be a no-op")
      // aggressive cap: strictly a subset (underestimates jaccard, never
      // invents pairs) — the documented scale-guard semantics
      val tight = operators.DedupOps.ngramJaccardPairs(sh, 0.5, Some(3))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((tight -- exact).isEmpty, s"cap invented pairs: ${(tight -- exact).take(5)}")
    } finally { sh.unpersist(); () }
  }

  test("LSH-sourced clusters refine the exact clusters with >= 80% coverage") {
    val exact = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = SparkEntry.queries("q_dedup_clusters_lsh")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // LSH pairs are exact-verified, so a missed candidate can only SPLIT
    // a cluster, never merge two: every LSH cluster sits inside exactly
    // one exact cluster
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"LSH clustered docs the exact tier didn't: ${(lsh.keySet -- exact.keySet).take(5)}")
    lsh.groupBy(_._2).foreach { case (c, members) =>
      val exactLabels = members.keySet.map(exact)
      assert(exactLabels.size == 1,
        s"LSH cluster $c spans exact clusters $exactLabels")
    }
    val coverage = lsh.size.toDouble / exact.size
    assert(coverage >= 0.8, s"cluster doc coverage $coverage over ${exact.size}")
  }

  test("containment dfCap: generous cap is lossless, any cap only drops") {
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    try {
      val exact = operators.DedupOps.containmentPairs(sh, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val maxDf = sh.groupBy("g").count().agg(max("count")).head().getLong(0)
      val capped = operators.DedupOps.containmentPairs(sh, 0.8, Some(maxDf.toInt))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped == exact, "cap >= max df must be a no-op")
      val tight = operators.DedupOps.containmentPairs(sh, 0.8, Some(3))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((tight -- exact).isEmpty,
        s"cap invented pairs: ${(tight -- exact).take(5)}")
    } finally { sh.unpersist(); () }
  }

  test("persisted MinHash index probe: precision 1.0, >= 80% cross recall") {
    val docs = Tables.documents(spark, sf)
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    try {
      val shEx = sh.filter(col("doc_id") % 5 =!= 0)
      val shInc = sh.filter(col("doc_id") % 5 === 0)
      val exact = operators.DedupOps.crossNgramJaccardPairs(shEx, shInc, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty, "planted cross-split near-dup pairs expected")
      val path = java.nio.file.Files
        .createTempDirectory("graft_mh").toString + "/idx"
      operators.MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
      val probed = operators.MinHashIndex
        .probe(spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((probed -- exact).isEmpty,
        s"probe invented pairs: ${(probed -- exact).take(5)}")
      val recall = (exact & probed).size.toDouble / exact.size
      assert(recall >= 0.8, s"probe recall $recall over ${exact.size} pairs")
      // and the survivors the oracled incremental query admits are
      // exactly the incoming docs minus victims of the exact tier
      val survivors = SparkEntry.queries("q_dedup_incremental")(spark, sf)
        .collect().map(_.getLong(0)).toSet
      val victims = exact.map(_._2)
      assert((survivors & victims).isEmpty,
        "no admitted doc may be a verified near-dup of the corpus")
    } finally { sh.unpersist(); () }
  }

  test("MinHash index probe: bucketed corpus side of the band join has no exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    val docs = Tables.documents(spark, sf)
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    // at test scale everything broadcasts; force the shuffled join the
    // 100 TB probe would plan so the bucketing claim is actually tested
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
    try {
      val path = java.nio.file.Files
        .createTempDirectory("graft_mhb").toString + "/idx"
      operators.MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
      val probed = operators.MinHashIndex.probe(
        spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
      probed.collect() // finalize AQE so stage boundaries are real
      val exec = probed.queryExecution.executedPlan
      // the candidate join is the (only) equi-join keyed on `band`
      val bandJoins = helper.collectWithSubqueries(exec) {
        case j: SortMergeJoinExec
            if j.leftKeys.exists(_.toString.contains("band")) => j: SparkPlan
        case j: ShuffledHashJoinExec
            if j.leftKeys.exists(_.toString.contains("band")) => j: SparkPlan
      }
      assert(bandJoins.nonEmpty, "expected a shuffled equi-join on band")
      val sides = bandJoins.head.children.map { side =>
        (helper.collectWithSubqueries(side) {
          case s: FileSourceScanExec => s }.nonEmpty,
         helper.collectWithSubqueries(side) {
          case e: ShuffleExchangeExec => e }.isEmpty)
      }
      // exactly one side reads the index files, and that side (the
      // standing corpus) must reach the join without an Exchange
      val corpus = sides.filter(_._1)
      assert(corpus.nonEmpty, "no file-scan side under the band join")
      assert(corpus.forall(_._2),
        "corpus side of the probe join shuffled despite bucketing")
      // tombstones must not cost the corpus side its shuffle-free path:
      // the mask is an explicitly-BROADCAST anti-join (takedown-sized by
      // contract), so even with broadcast estimation forced off the
      // deleted docs are masked map-side and no Exchange appears
      operators.MinHashIndex.delete(spark, path,
        sh.filter(col("doc_id") === 1).select("doc_id"))
      val probedDel = operators.MinHashIndex.probe(
        spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
      probedDel.collect()
      val execDel = probedDel.queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val antiJoins = helper.collectWithSubqueries(execDel) {
        case b: BroadcastHashJoinExec
            if b.joinType.toString == "LeftAnti" => b
      }
      assert(antiJoins.nonEmpty, "tombstone mask must be a broadcast anti-join")
      val bandJoinsDel = helper.collectWithSubqueries(execDel) {
        case j: SortMergeJoinExec
            if j.leftKeys.exists(_.toString.contains("band")) => j: SparkPlan
        case j: ShuffledHashJoinExec
            if j.leftKeys.exists(_.toString.contains("band")) => j: SparkPlan
      }
      assert(bandJoinsDel.nonEmpty)
      // scoped to the BAND join's corpus side: the tombstone DISTINCT
      // legitimately shuffles on the (tiny) broadcast build side, and
      // pair verification legitimately shuffles candidates downstream —
      // what must never happen is an Exchange between the corpus /data
      // scan and the band join on the streamed path
      val sidesDel = bandJoinsDel.head.children.map { side =>
        (helper.collectWithSubqueries(side) {
          case s: FileSourceScanExec
            if s.metadata.get("Location").exists(_.contains("/data")) => s
        }.nonEmpty,
         helper.collectWithSubqueries(side) {
          case e: ShuffleExchangeExec if helper.collectWithSubqueries(e) {
            case s: FileSourceScanExec
              if s.metadata.get("Location").exists(_.contains("/data")) => s
          }.nonEmpty => e
        }.isEmpty)
      }
      val corpusDel = sidesDel.filter(_._1)
      assert(corpusDel.nonEmpty, "no file-scan side under the band join")
      assert(corpusDel.forall(_._2),
        "tombstone anti-join shuffled the corpus side")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      sh.unpersist(); ()
    }
  }

  test("MinHash index append falls back to the plain layout without catalog metadata") {
    val docs = Tables.documents(spark, sf)
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    try {
      val shA = sh.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val shB = sh.filter(col("doc_id") % 5 === 1)
      val shInc = sh.filter(col("doc_id") % 5 === 0)
      val path = java.nio.file.Files
        .createTempDirectory("graft_mhf").toString + "/idx"
      operators.MinHashIndex.fit(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1), path)
      // simulate a NEW session appending to the same files: this session
      // forgets the catalog entry, so append must go down the plain-
      // parquet branch instead of mislabeling unbucketed files
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_mhidx_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      operators.MinHashIndex.append(docs.filter(col("doc_id") % 5 === 1), path)
      val nA = shA.select("doc_id").distinct().count()
      val nB = shB.select("doc_id").distinct().count()
      assert(operators.MinHashIndex.indexedIds(spark, path).count() == nA + nB,
        "both halves of both publishes must be visible")
      // probing the mixed-layout index still verifies against BOTH
      // publishes, matching the exact cross join at >= 80% recall
      val exact = operators.DedupOps
        .crossNgramJaccardPairs(sh.filter(col("doc_id") % 5 =!= 0), shInc, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val probed = operators.MinHashIndex
        .probe(spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((probed -- exact).isEmpty,
        s"probe invented pairs: ${(probed -- exact).take(5)}")
      assert(exact.isEmpty ||
        (exact & probed).size.toDouble / exact.size >= 0.8)
    } finally { sh.unpersist(); () }
  }

  test("MinHash index delete + compact: takedown invisible, probe parity preserved") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_mhd").toString + "/idx"
    operators.MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
    def probePairs() = operators.MinHashIndex
      .probe(spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probePairs()
    assert(before.nonEmpty, "planted cross-split near-dup pairs expected")
    // take down half the indexed docs that currently match something
    val deleted = before.map(_._1).toSeq.sorted
      .take(math.max(1, before.size / 2)).toSet
    operators.MinHashIndex.delete(spark, path,
      deleted.toSeq.toDF("doc_id"))
    val after = probePairs()
    assert(after == before.filterNot(p => deleted.contains(p._1)),
      "exactly the deleted docs' pairs must vanish, nothing else")
    assert(operators.MinHashIndex.indexedIds(spark, path)
      .collect().map(_.getLong(0)).toSet.intersect(deleted).isEmpty,
      "membership view must exclude tombstoned docs")
    // replayed delete is an idempotent no-op
    operators.MinHashIndex.delete(spark, path,
      deleted.toSeq.toDF("doc_id"))
    assert(probePairs() == after)
    // compaction: bytes leave disk, probe parity holds, state cleared
    operators.MinHashIndex.compact(spark, path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "/tombstones")),
      "compact must clear the tombstones")
    assert(probePairs() == after, "compaction must not change results")
    assert(spark.read.parquet(path + "/data")
      .filter(col("doc_id").isInCollection(deleted)).count() == 0,
      "deleted docs' rows must be physically gone")
    // compacting an already-clean index is a no-op
    operators.MinHashIndex.compact(spark, path)
    assert(probePairs() == after)
  }

  test("MinHash compact recovers a swap torn between stage and publish") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_mhc").toString + "/idx"
    operators.MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
    def probePairs() = operators.MinHashIndex
      .probe(spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probePairs()
    val deleted = before.map(_._1).toSeq.sorted.take(2).toSet
    operators.MinHashIndex.delete(spark, path, deleted.toSeq.toDF("doc_id"))
    val expected = probePairs()
    // simulate the crash window: the staged survivors are durable, but
    // the process died after dropping the table + data dir and before
    // republishing — the exact state compact's scaladoc promises to
    // repair from the stage
    spark.read.parquet(path + "/data")
      .join(deleted.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(path + "/data.compact")
    val md = java.security.MessageDigest.getInstance("MD5")
    val tbl = "graft_mhidx_" + md.digest(path.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val dataDir = new java.io.File(path + "/data")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dataDir)
    assert(!dataDir.exists, "crash state: data dir gone, stage durable")
    // recovery: compact first finishes the torn swap, then the fresh
    // pass sees no remaining tombstoned rows and clears state
    operators.MinHashIndex.compact(spark, path)
    assert(probePairs() == expected,
      "recovered index must equal the tombstone-masked results")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "/data.compact")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "/tombstones")))
    // an INCOMPLETE stage (crash mid-stage-write: no _SUCCESS marker)
    // must be DISCARDED, never published — trusting partial files
    // would silently lose the rest of the index. The data dir is
    // intact in that window, so the fresh pass still folds the
    // tombstones.
    val del2 = expected.map(_._1).toSeq.sorted.take(1)
    operators.MinHashIndex.delete(spark, path, del2.toDF("doc_id"))
    val expected2 = probePairs()
    val stageDir = new java.io.File(path + "/data.compact")
    stageDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path + "/data.compact/part-garbage.parquet"),
      "not parquet".getBytes("UTF-8"))
    operators.MinHashIndex.compact(spark, path)
    assert(probePairs() == expected2,
      "partial stage must be discarded and the pass re-run")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path + "/tombstones")))
  }

  test("q_dedup_index_takedown equals the undeleted probe minus deleted docs") {
    val got = SparkEntry.queries("q_dedup_index_takedown")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_mhq").toString + "/idx"
    operators.MinHashIndex.fit(docs.filter(col("doc_id") % 5 =!= 0), path)
    val full = operators.MinHashIndex
      .probe(spark, path, docs.filter(col("doc_id") % 5 === 0), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filterNot(_._1 % 10 == 1)
    assert(got == expected,
      s"takedown query drifted: extra=${(got -- expected).take(5)} " +
        s"missing=${(expected -- got).take(5)}")
    assert(full.exists(_._1 % 10 == 1),
      "the deleted slice must have matched something pre-delete " +
        "or the assertion is vacuous")
  }

  test("layout marker overrides a stale bucketed catalog entry after a plain append") {
    val docs = Tables.documents(spark, sf)
    val sh = operators.DedupOps.shingleRows(spark, sf).cache()
    try {
      val shA = sh.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val shB = sh.filter(col("doc_id") % 5 === 1)
      val path = java.nio.file.Files
        .createTempDirectory("graft_mhm").toString + "/idx"
      val md = java.security.MessageDigest.getInstance("MD5")
      val tbl = "graft_mhidx_" + md.digest(path.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      operators.MinHashIndex.fit(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1), path)
      assert(spark.catalog.tableExists(tbl), "fit must register the table")
      // another session (no catalog) appends: plain layout, marker demoted
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      operators.MinHashIndex.append(docs.filter(col("doc_id") % 5 === 1), path)
      val marker = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path + "/_layout")), "UTF-8").trim
      assert(marker == "plain", s"plain append must demote the marker ($marker)")
      // back in the ORIGINAL session, which still holds a bucketed
      // catalog entry over the now-mixed files: recreate that stale
      // entry, and verify readers trust the marker, not the catalog —
      // the bucketed scan would key bucket ids off file names that the
      // appended files don't carry
      spark.sql(
        s"""CREATE TABLE $tbl (doc_id BIGINT, band STRING,
           |  sh ARRAY<STRING>, kind STRING)
           |USING PARQUET PARTITIONED BY (kind)
           |CLUSTERED BY (band) SORTED BY (band) INTO 8 BUCKETS
           |LOCATION '$path/data'""".stripMargin)
      try {
        val nA = shA.select("doc_id").distinct().count()
        val nB = shB.select("doc_id").distinct().count()
        assert(operators.MinHashIndex.indexedIds(spark, path).count() == nA + nB,
          "marker-routed read must see both publishes despite the stale entry")
        // and a further append from this session must STAY plain — not
        // mislabel the unbucketed files because it sees a catalog entry
        operators.MinHashIndex.append(
          docs.filter(col("doc_id") % 5 === 0), path)
        val after = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path + "/_layout")), "UTF-8").trim
        assert(after == "plain", s"append through a stale entry relabeled ($after)")
      } finally { spark.sql(s"DROP TABLE IF EXISTS $tbl"); () }
    } finally { sh.unpersist(); () }
  }

  test("exact dedup keeps one representative per (lang, source)") {
    val got = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val keys = Tables.documents(spark, sf)
      .select(col("lang"), col("source")).distinct().count()
    assert(got.count() == keys)
  }

  test("ANN-LSH neighbors never beat the brute-force top-1") {
    val brute = SparkEntry.queries("q_sim_topk_cosine")(spark, sf)
      .filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ann = SparkEntry.queries("q_sim_ann_lsh")(spark, sf)
      .filter(col("qid") < 10)
      .collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val (qid, cos) = (r.getLong(0), r.getDouble(3))
      brute.get(qid).foreach(best => assert(cos <= best + 1e-9,
        s"ANN found cos=$cos above brute best=$best for qid=$qid"))
    }
  }

  test("matryoshka coarse tier beats chance and its re-rank emits true " +
      "full-dim cosines") {
    val brute = SparkEntry.queries("q_sim_topk_cosine")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    val bruteSet = brute.map(_._1).toSet
    val bruteCos = brute.toMap
    val mrl = SparkEntry.queries("q_sim_matryoshka")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(mrl.length == 50)
    // any (qid, nid) the two-tier search shares with brute force must
    // carry the IDENTICAL full cosine — the re-rank arithmetic is exact
    mrl.foreach { case (qid, nid, cos) =>
      bruteCos.get((qid, nid)).foreach(b => assert(cos == b))
    }
    // recall: random vectors are the MRL worst case (no head-heavy
    // training), yet 16/64 dims must beat the ~4% chance of a random
    // 20-candidate tier by a wide margin (measured ~0.4 at sf0.01)
    val recall = mrl.count(m => bruteSet((m._1, m._2))).toDouble / mrl.length
    assert(recall >= 0.15, s"matryoshka recall@5 = $recall")
  }

  test("hamming coarse tier beats chance and its re-rank emits true " +
      "full-dim cosines") {
    val brute = SparkEntry.queries("q_sim_topk_cosine")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    val bruteSet = brute.map(_._1).toSet
    val bruteCos = brute.toMap
    val ham = SparkEntry.queries("q_sim_hamming")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(ham.length == 50)
    ham.foreach { case (qid, nid, cos, h) =>
      bruteCos.get((qid, nid)).foreach(b => assert(cos == b))
      assert(h >= 0 && h <= 64)
    }
    // sign bits track cosine on centered data: must beat the ~4% chance
    // of a random 20-candidate coarse tier by a wide margin
    val recall = ham.count(m => bruteSet((m._1, m._2))).toDouble / ham.length
    assert(recall >= 0.15, s"hamming recall@5 = $recall")
  }

  test("edit-distance join: pigeonhole candidates equal the naive " +
      "quadratic pair set with no cartesian in the plan") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val q = SparkEntry.queries("q_join_edit_distance")(spark, sf)
    val got = q.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // naive reference on the collected vocabulary (bounded: 64 names)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.part(spark, sf).select(col("p_name"))
      .distinct().collect().map(_.getString(0))
    val naive = (for {
      a <- names; b <- names
      if a < b
      dist = lev(a, b)
      if dist <= 2
    } yield (a, b, dist)).toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
    assert(got.nonEmpty)
    // the scalable path must not degenerate into an all-pairs plan
    q.collect()
    val exec = q.queryExecution.executedPlan
    val bad = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def find(p: org.apache.spark.sql.execution.SparkPlan) =
        collectWithSubqueries(p) {
          case c: CartesianProductExec => c
          case b: BroadcastNestedLoopJoinExec => b
        }
    }.find(exec)
    assert(bad.isEmpty, s"cartesian/nested-loop in plan: $bad")
  }

  test("edit-distance join: short strings (< tau+1 chars) keep the " +
      "pigeonhole complete via empty-segment keys") {
    import spark.implicits._
    // every short-short pair is within ed 2 by construction; the crafted
    // vocabulary mixes 1-, 2- and longer strings
    val vocab = Seq("a", "b", "ab", "cd", "abc", "abd", "xyzw")
    val got = graft.operators.Joins.editDistanceSelfJoin(
        vocab.toDF("a"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = (for {
      a <- vocab; b <- vocab
      if a < b
      dist = lev(a, b)
      if dist <= 2
    } yield (a, b, dist)).toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
    // the class the filter used to lose: both-short pairs
    assert(got.contains(("a", "b", 1)) && got.contains(("ab", "cd", 2)))
  }

  test("edit-distance join: seeded random vocabularies match the naive " +
      "pair set (lengths 1..7, repeated trials)") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(99)
    (1 to 3).foreach { _ =>
      val vocab = (1 to 40).map(_ =>
        (1 to (1 + rnd.nextInt(7))).map(_ =>
          ('a' + rnd.nextInt(4)).toChar).mkString).distinct
      val got = graft.operators.Joins.editDistanceSelfJoin(vocab.toDF("a"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      val naive = (for {
        a <- vocab; b <- vocab
        if a < b
        dist = lev(a, b)
        if dist <= 2
      } yield (a, b, dist)).toSet
      assert(got == naive,
        s"missing=${naive -- got} extra=${got -- naive} vocab=$vocab")
    }
  }

  test("embedding near-dup pairs agree with the declared threshold") {
    val got = SparkEntry.queries("q_dedup_embedding")(spark, sf)
    assert(got.filter(col("cos") < 0.35).count() == 0)
  }

  test("cell-pruned exact embedding pairs == naive cross join (pair-set " +
      "parity; the angular tile bound only SKIPS provably-cold tiles)") {
    import graft.functions.VectorOps.{vec_dot, vec_norm}
    val e = Tables.embeddings(spark, sf)
      .withColumn("nrm", vec_norm(col("embedding")))
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"),
      col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"),
      col("nrm").as("n2"))
    val naive = a.crossJoin(broadcast(b)).filter(col("v1") < col("v2"))
      .withColumn("cos", graft.Det.r4(
        vec_dot(col("e1"), col("e2")) / (col("n1") * col("n2"))))
      .filter(col("cos") >= 0.35)
      .select(col("v1"), col("v2"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val pruned = SparkEntry.queries("q_dedup_embedding")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(pruned == naive,
      s"missing=${(naive -- pruned).take(5)} extra=${(pruned -- naive).take(5)}")
    assert(naive.nonEmpty)
  }

  test("q_dedup_embedding plan has no cartesian/broadcast-nested-loop " +
      "join (the quadratic is tiled, not materialized)") {
    val plan = SparkEntry.queries("q_dedup_embedding")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "cartesian product in the dedup plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "broadcast nested loop in the dedup plan")
  }

  test("similarity-tier construction schedules no corpus job (lazy persist)") {
    // the shingle-explosion frames inside ngramJaccard / containment /
    // minhash / incremental were eager localCheckpoints (a corpus-sized
    // job at query construction, blocks lost with their executor) —
    // now lazy persists: constructing these queries must schedule
    // nothing.
    val group = "graft-dedup-construct-probe"
    spark.sparkContext.setJobGroup(group, "construction must be lazy")
    try {
      SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      SparkEntry.queries("q_dedup_containment")(spark, sf)
      SparkEntry.queries("q_dedup_minhash")(spark, sf)
      SparkEntry.queries("q_dedup_incremental")(spark, sf)
    } finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    assert(jobs.isEmpty,
      s"query construction ran ${jobs.length} Spark job(s) - eager materialization")
  }
}
