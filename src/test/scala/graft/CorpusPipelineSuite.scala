package graft

import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end composition check: the full preprocessing pipeline built
  * from the engine's own operators, run on the real corpus.
  */
class CorpusPipelineSuite extends AnyFunSuite {
  import SparkFixture._

  test("pipeline stages only ever shrink the corpus; output is well-formed") {
    val out = Files.createTempDirectory("graft_pipe").toString + "/corpus"
    val r = CorpusPipeline.run(spark, sf, out)
    assert(r.input > 0)
    assert(r.afterQuality <= r.input)
    assert(r.afterCuration == r.afterQuality,
      "curation gates default off — the stage must be a no-op")
    assert(r.afterExact <= r.afterCuration)
    assert(r.afterNearDup <= r.afterExact)
    assert(r.afterQuota <= r.afterNearDup)
    assert(r.afterNearDup < r.input,
      "the planted near-dup pairs must cost some documents")
    val written = spark.read.parquet(out)
    assert(written.count() == r.afterQuota)
    // partitioned layout by lang survives the round-trip
    assert(written.select(countDistinct(col("lang"))).head().getLong(0) > 1)
    // packing invariant: bin ids are dense non-negative per lang
    assert(written.filter(col("bin") < 0).count() == 0)
    // near-dup victims are gone: re-running pair detection on the output
    // at the same threshold finds no cross-doc cluster (every survivor
    // is its own representative)
    val survivors = written.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val clusters = SparkEntry.queries("q_dedup_clusters")(spark, sf)
      .collect().map(rr => rr.getLong(0) -> rr.getLong(1))
    clusters.foreach { case (node, cluster) =>
      if (survivors.contains(node))
        assert(node == cluster || !survivors.contains(cluster),
          s"near-dup pair ($node, $cluster) both survived")
    }
  }

  test("curation gates drop contaminated and repetitive docs end-to-end") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_pipe_cur").toString + "/corpus"
    // benchmark = a verbatim 5-gram slice of a real corpus doc
    val probe = Tables.documents(spark, sf)
      .filter(col("doc_id") === 7).select("text").head().getString(0)
    val bench = Seq((9000L, probe.split(" ").take(5).mkString(" ")))
      .toDF("doc_id", "text")
    val r = CorpusPipeline.run(spark, sf, out,
      benchmark = Some(bench), maxRepetition = Some(0.9),
      maxXent = Some(100.0))
    assert(r.afterCuration < r.afterQuality,
      "the planted contamination must cost at least doc 7")
    assert(!spark.read.parquet(out).filter(col("doc_id") === 7)
      .head(1).nonEmpty, "contaminated doc must not be in the output")
  }

  test("incremental ingest is near-dup idempotent (re-ingest admits zero)") {
    val dir = Files.createTempDirectory("graft_inc").toString
    val docs = Tables.documents(spark, sf)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val seeded = CorpusPipeline.seedCorpus(
      spark, existing, s"$dir/corpus", s"$dir/idx")
    assert(seeded > 0)
    val r1 = CorpusPipeline.runIncremental(
      spark, batch, s"$dir/corpus", s"$dir/idx")
    assert(r1.admitted > 0, "non-duplicate batch docs must be admitted")
    assert(r1.admitted < r1.afterExact,
      "planted cross-split near-dups must be rejected by the index probe")
    assert(r1.corpusSize == seeded + r1.admitted,
      "corpus grows by exactly the admitted count")
    // the reference's idempotent-append invariant, generalized to
    // near-dup identity: replaying the same batch admits nothing
    val r2 = CorpusPipeline.runIncremental(
      spark, batch, s"$dir/corpus", s"$dir/idx")
    assert(r2.admitted == 0,
      s"re-ingest must admit zero, admitted ${r2.admitted}")
    assert(r2.corpusSize == r1.corpusSize)
  }

  test("incremental replay is idempotent on transitive near-dup chains") {
    import spark.implicits._
    // A~B and B~C above threshold, but A~C below: the transitive cluster
    // policy admits only A, and replay idempotence requires B's AND C's
    // sketches in the index (C matches nothing admitted). Constructed so
    // J(A,B)=J(B,C)=22/34≈0.65, J(A,C)=16/40=0.40 on word trigrams.
    def w(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val s24 = w("s", 24)
    val a = (w("x", 6) ++ s24).mkString(" ")
    val b = (s24 ++ w("y", 6)).mkString(" ")
    val c = (s24.drop(6) ++ w("y", 6) ++ w("z", 6)).mkString(" ")
    val dir = Files.createTempDirectory("graft_chain").toString
    val seedDocs = Seq((100L, "en", w("q", 30).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    CorpusPipeline.seedCorpus(spark, seedDocs, s"$dir/corpus", s"$dir/idx")
    val batch = Seq((1L, "en", a), (2L, "en", b), (3L, "en", c))
      .toDF("doc_id", "lang", "text")
    val r1 = CorpusPipeline.runIncremental(
      spark, batch, s"$dir/corpus", s"$dir/idx")
    assert(r1.admitted == 1, s"chain must collapse to its representative, got ${r1.admitted}")
    val r2 = CorpusPipeline.runIncremental(
      spark, batch, s"$dir/corpus", s"$dir/idx")
    assert(r2.admitted == 0,
      s"chain tail must stay rejected on replay, admitted ${r2.admitted}")
  }

  test("reconcile repairs a corpus/index gap from a torn publish") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rec").toString
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    CorpusPipeline.seedCorpus(spark, docs, s"$dir/corpus", s"$dir/idx")
    assert(CorpusPipeline.reconcile(spark, s"$dir/corpus", s"$dir/idx") == 0,
      "a clean publish needs no repair")
    // simulate the torn window: rebuild the index from only half the docs
    val half = spark.read.parquet(s"$dir/corpus").filter(col("doc_id") % 2 === 0)
    graft.operators.MinHashIndex.fit(half, s"$dir/idx")
    val repaired = CorpusPipeline.reconcile(spark, s"$dir/corpus", s"$dir/idx")
    assert(repaired > 0)
    assert(CorpusPipeline.reconcile(spark, s"$dir/corpus", s"$dir/idx") == 0,
      "reconcile is idempotent")
  }

  test("legacy and mixed corpora still exact-dedup (null digests derived)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_legacy").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    def words(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    CorpusPipeline.seedCorpus(spark,
      Seq((1L, "en", words("s"))).toDF("doc_id", "lang", "text"),
      corpus, idx)
    // simulate a legacy corpus: rewrite WITHOUT the content_hash column
    val legacy = spark.read.parquet(corpus).drop("content_hash")
      .localCheckpoint()
    legacy.write.mode("overwrite").parquet(corpus)
    // batch 1: new doc — admitted WITH a digest column (mixed schema now)
    val r1 = CorpusPipeline.runIncremental(spark,
      Seq((2L, "en", words("t"))).toDF("doc_id", "lang", "text"),
      corpus, idx)
    assert(r1.admitted == 1)
    // batch 2: exact dup of the LEGACY doc — its stored digest is NULL
    // in the mixed corpus, so a naive column read would re-admit it
    val r2 = CorpusPipeline.runIncremental(spark,
      Seq((3L, "en", words("s"))).toDF("doc_id", "lang", "text"),
      corpus, idx)
    assert(r2.admitted == 0,
      s"legacy doc's exact dup must still be rejected, got $r2")
  }

  test("incremental admission applies the batch-local curation gates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inc_cur").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    CorpusPipeline.seedCorpus(spark,
      Seq((1L, "en", words("s", 30))).toDF("doc_id", "lang", "text"),
      corpus, idx)
    val contaminated = "held out eval five gram " + words("c", 20)
    val batch = Seq(
      (10L, "en", contaminated),
      (11L, "en", words("ok", 30))
    ).toDF("doc_id", "lang", "text")
    val bench = Seq((900L, "held out eval five gram")).toDF("doc_id", "text")
    val r = CorpusPipeline.runIncremental(spark, batch, corpus, idx,
      benchmark = Some(bench))
    assert(r.afterQuality == 1 && r.admitted == 1,
      s"the contaminated batch doc must be gated out, got $r")
    assert(spark.read.parquet(corpus)
      .filter(col("doc_id") === 10L).count() == 0)
  }

  test("reconcile repairs BOTH torn-publish windows on a near-dup chain") {
    import spark.implicits._
    // same chain as the replay test: A~B~C above threshold, A~C below
    def w(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val s24 = w("s", 24)
    val a = (w("x", 6) ++ s24).mkString(" ")
    val b = (s24 ++ w("y", 6)).mkString(" ")
    val c = (s24.drop(6) ++ w("y", 6) ++ w("z", 6)).mkString(" ")
    val dir = Files.createTempDirectory("graft_torn").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    CorpusPipeline.seedCorpus(spark,
      Seq((100L, "en", w("q", 30).mkString(" ")))
        .toDF("doc_id", "lang", "text"), corpus, idx)
    val batch = Seq((1L, "en", a), (2L, "en", b), (3L, "en", c))
      .toDF("doc_id", "lang", "text")
    assert(CorpusPipeline.runIncremental(
      spark, batch, corpus, idx).admitted == 1)
    // window 2->3 (crash before the index append): rebuild the index
    // from corpus docs only — the cluster victims' sketches vanish, the
    // sidecar survives
    graft.operators.MinHashIndex.fit(spark.read.parquet(corpus), idx)
    assert(CorpusPipeline.reconcile(spark, corpus, idx) >= 2,
      "the victims' sketches must be restored from the sidecar")
    val replay = CorpusPipeline.runIncremental(spark, batch, corpus, idx)
    assert(replay.admitted == 0,
      s"chain tail must stay rejected after repair, admitted ${replay.admitted}")
    // window 1->2 (crash before the corpus append): a sidecar victim
    // whose representative never landed must be purged, not re-indexed
    Seq((50L, w("k", 30).mkString(" "), 999L))
      .toDF("doc_id", "text", "rep_id")
      .write.mode("append").parquet(s"${corpus}_victims")
    assert(CorpusPipeline.reconcile(spark, corpus, idx) >= 1)
    // the GC either rewrites the sidecar without the orphan or deletes
    // the (now empty) directory outright — both mean "purged"
    val orphanRows = scala.util.Try(
      spark.read.parquet(s"${corpus}_victims")
        .filter(col("doc_id") === 50L).count()).getOrElse(0L)
    assert(orphanRows == 0, "orphan purged")
    assert(CorpusPipeline.reconcile(spark, corpus, idx) == 0,
      "reconcile is idempotent after both repairs")
    // a fresh seed resets ALL admission state including the sidecar —
    // stale victims must not leak phantom sketches into the new index
    CorpusPipeline.seedCorpus(spark,
      Seq((1000L, "en", w("r", 30).mkString(" ")))
        .toDF("doc_id", "lang", "text"), corpus, idx)
    assert(CorpusPipeline.reconcile(spark, corpus, idx) == 0,
      "a re-seeded corpus starts consistent")
  }

  test("streaming admission drains batches and stays idempotent on replay") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_adm").toString
    val (src, corpus, idx) = (s"$dir/in", s"$dir/corpus", s"$dir/idx")
    def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    CorpusPipeline.seedCorpus(spark,
      Seq(doc(1L, (1 to 30).map(i => s"s$i").mkString(" ")))
        .toDF(cols: _*), corpus, idx)
    // two landed batch files: new doc + an exact dup of the seed
    Seq(doc(2L, (1 to 30).map(i => s"t$i").mkString(" ")))
      .toDF(cols: _*).write.parquet(s"$src/b1")
    Seq(doc(3L, (1 to 30).map(i => s"s$i").mkString(" ")))
      .toDF(cols: _*).write.parquet(s"$src/b2")
    def drain(): Unit = {
      val q = CorpusPipeline.streamIncremental(spark, s"$src/*", corpus,
        idx, s"$dir/ckpt", Trigger.AvailableNow())
      q.awaitTermination(120000); ()
    }
    drain()
    val admitted = spark.read.parquet(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 2L),
      s"new doc admitted, corpus dup rejected: got $admitted")
    // a FRESH checkpoint re-delivers both files — admission must not grow
    val q2 = CorpusPipeline.streamIncremental(spark, s"$src/*", corpus,
      idx, s"$dir/ckpt2", Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(spark.read.parquet(corpus).count() == 2,
      "replayed batches must admit nothing")
  }

  test("MinHash-LSH pair source composes into the pipeline (100 TB tier)") {
    val outE = Files.createTempDirectory("graft_pipe_e").toString + "/corpus"
    val outL = Files.createTempDirectory("graft_pipe_l").toString + "/corpus"
    val e = CorpusPipeline.run(spark, sf, outE)
    val l = CorpusPipeline.run(spark, sf, outL,
      pairSource = CorpusPipeline.lshPairs)
    // the pre-near-dup stages are pair-source-independent
    assert(l.afterExact == e.afterExact)
    // LSH candidates are exact-verified: it can only MISS pairs, so it
    // never removes more docs than the exact tier...
    assert(l.afterNearDup >= e.afterNearDup)
    // ...and with >= 80% pair recall it still catches most victims
    val eVictims = e.afterExact - e.afterNearDup
    val lVictims = l.afterExact - l.afterNearDup
    assert(eVictims > 0, "planted near-dups must cost docs in the exact run")
    assert(lVictims * 2 >= eVictims,
      s"LSH tier caught $lVictims of $eVictims exact victims")
    assert(spark.read.parquet(outL).count() == l.afterQuota)
  }

  test("perceptual-hash pair source composes into the pipeline (image tier)") {
    val out = Files.createTempDirectory("graft_pipe_p").toString + "/corpus"
    val r = CorpusPipeline.run(spark, sf, out,
      pairSource = CorpusPipeline.phashPairs)
    assert(r.afterNearDup < r.afterExact,
      "the planted near-dups must cost documents through the phash tier")
    assert(spark.read.parquet(out).count() == r.afterQuota)
    // row parity on the planted dups: the pipeline's survivors are
    // exactly the exact-tier survivors minus the victims the SAME pair
    // definition + CC + min-keep rule computes directly
    val survivors = spark.read.parquet(out)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val clusters = operators.PipelineOps.connectedComponents(
        SparkEntry.queries("q_dedup_phash")(spark, sf)
          .select(col("d1"), col("d2")))
      .collect().map(rr => rr.getLong(0) -> rr.getLong(1))
    clusters.foreach { case (node, cluster) =>
      if (node != cluster && survivors.contains(node))
        assert(!survivors.contains(cluster),
          s"phash pair ($node, $cluster) both survived the pipeline")
    }
  }

  test("takedown erases docs everywhere and leaves a reconcilable state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_td").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    // the same A~B~C chain as the replay tests so the victims sidecar is
    // non-empty: B and C are cluster victims of representative A
    def w(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val s24 = w("s", 24)
    val a = (w("x", 6) ++ s24).mkString(" ")
    val b = (s24 ++ w("y", 6)).mkString(" ")
    val c = (s24.drop(6) ++ w("y", 6) ++ w("z", 6)).mkString(" ")
    CorpusPipeline.seedCorpus(spark,
      Seq((100L, "en", w("q", 30).mkString(" ")))
        .toDF("doc_id", "lang", "text"), corpus, idx)
    val batch = Seq((1L, "en", a), (2L, "en", b), (3L, "en", c))
      .toDF("doc_id", "lang", "text")
    assert(CorpusPipeline.runIncremental(
      spark, batch, corpus, idx).admitted == 1)
    assert(spark.read.parquet(s"${corpus}_victims").count() == 2)
    // take down the representative (doc 1): it leaves the corpus, its
    // cluster victims' text leaves the sidecar, its sketches leave the
    // index
    val removed = CorpusPipeline.takedown(spark, corpus, idx,
      Seq(1L).toDF("doc_id"))
    assert(removed == 1)
    val left = spark.read.parquet(corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(left == Set(100L), s"corpus after takedown: $left")
    assert(spark.read.parquet(s"${corpus}_victims").count() == 0,
      "victims of a removed representative must be purged")
    assert(operators.MinHashIndex.indexedIds(spark, idx)
      .filter(col("doc_id").isin(1L, 2L, 3L)).count() == 0,
      "no chain member may stay probe-visible")
    // the erased state is CONSISTENT: reconcile repairs nothing (it must
    // not resurrect the removed doc's sketches)
    assert(CorpusPipeline.reconcile(spark, corpus, idx) == 0,
      "takedown must leave nothing for reconcile to repair")
    // erasure semantics: the same content in a FUTURE batch is new
    val again = CorpusPipeline.runIncremental(spark,
      Seq((11L, "en", a)).toDF("doc_id", "lang", "text"), corpus, idx)
    assert(again.admitted == 1, "re-submitted content is admissible again")
    // replayed takedown of an already-gone doc is an idempotent no-op
    assert(CorpusPipeline.takedown(spark, corpus, idx,
      Seq(1L).toDF("doc_id")) == 0)
  }

  /** The index's rows as a sorted multiset of `doc_id|kind|band|sh`
    * lines (each shingle set sorted: `collect_list` fixes no order),
    * digested so a step can pin the exact index contents.
    */
  private def indexDigest(idx: String): String = {
    val lines = spark.read.parquet(s"$idx/data")
      .select(col("doc_id"), col("kind"), col("band"), col("sh"))
      .collect().map { r =>
        val sh = if (r.isNullAt(3)) "" else r.getSeq[String](3).sorted.mkString(",")
        s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}|$sh"
      }.sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("admission equivalence: reports, corpus rows and index contents per batch shape") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_adm_eq").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(300)}").mkString(" ")
    def w(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val seedText = (1L to 12L).map(i => i -> words(40 + rnd.nextInt(20))).toMap
    CorpusPipeline.seedCorpus(spark,
      seedText.toSeq.map { case (i, t) => (i, "en", t) }
        .toDF("doc_id", "lang", "text"), corpus, idx)
    val fresh = (101L to 106L).map(i => (i, words(20 + rnd.nextInt(40))))
    val s24 = w("s", 24)
    val chain = Seq(
      401L -> (w("x", 6) ++ s24).mkString(" "),
      402L -> (s24 ++ w("y", 6)).mkString(" "),
      403L -> (s24.drop(6) ++ w("y", 6) ++ w("z", 6)).mkString(" "))
    val contaminated = "held out eval five gram " + words(20)
    val bench = Seq((900L, "held out eval five gram")).toDF("doc_id", "text")
    // (name, before the batch, batch, benchmark, expected report, corpus ids)
    case class Step(name: String, before: () => Unit,
        batch: Seq[(Long, String)], benchmark: Option[org.apache.spark.sql.DataFrame],
        want: CorpusPipeline.IncrementalReport, ids: Set[Long])
    val seedIds = (1L to 12L).toSet
    val freshIds = fresh.map(_._1).toSet
    var removed = -1L
    val steps = Seq(
      Step("fresh docs", () => (), fresh, None,
        CorpusPipeline.IncrementalReport(6, 6, 6, 6, 18), seedIds ++ freshIds),
      Step("exact duplicate of a corpus doc", () => (),
        Seq(201L -> seedText(1L).replace(" ", "  "), 202L -> words(30)), None,
        CorpusPipeline.IncrementalReport(2, 2, 1, 1, 19),
        seedIds ++ freshIds + 202L),
      Step("near duplicates of corpus docs", () => (),
        Seq(301L -> (seedText(2L) + " dup"), 302L -> (seedText(3L) + " dup"),
          303L -> words(30)), None,
        CorpusPipeline.IncrementalReport(3, 3, 3, 1, 20),
        seedIds ++ freshIds ++ Set(202L, 303L)),
      Step("in-batch A~B~C chain", () => (), chain, None,
        CorpusPipeline.IncrementalReport(3, 3, 3, 1, 21),
        seedIds ++ freshIds ++ Set(202L, 303L, 401L)),
      Step("sub-10-token doc", () => (),
        Seq(501L -> words(5), 502L -> words(30)), None,
        CorpusPipeline.IncrementalReport(2, 1, 1, 1, 22),
        seedIds ++ freshIds ++ Set(202L, 303L, 401L, 502L)),
      Step("replay of an admitted batch", () => (), fresh, None,
        CorpusPipeline.IncrementalReport(6, 6, 0, 0, 22),
        seedIds ++ freshIds ++ Set(202L, 303L, 401L, 502L)),
      // a takedown naming a chain representative, an id twice and an id
      // that is not in the corpus; then the erased content comes back
      Step("batch after a takedown",
        () => removed = CorpusPipeline.takedown(spark, corpus, idx,
          Seq(101L, 401L, 101L, 99999L).toDF("doc_id")),
        Seq(701L -> fresh.head._2, 702L -> chain(1)._2,
          703L -> (seedText(4L) + " dup")), None,
        CorpusPipeline.IncrementalReport(3, 3, 3, 2, 22),
        seedIds ++ freshIds - 101L ++ Set(202L, 303L, 502L, 701L, 702L)),
      Step("benchmark curation path", () => (),
        Seq(801L -> contaminated, 802L -> words(30)), Some(bench),
        CorpusPipeline.IncrementalReport(2, 1, 1, 1, 23),
        seedIds ++ freshIds - 101L ++ Set(202L, 303L, 502L, 701L, 702L, 802L)))
    // the index contents each step leaves, pinned from the admission
    // path that sketched the batch once per consumer (probe, in-batch
    // pairs, append): sketching the batch any other way must reproduce
    // them
    val wantIndex = Seq(
      "10af670e5dc6b86152e051376dff660f", "d2e6fe311c228274d7b3b7d7075dd553",
      "4953ef2ef875464bffd549e152bd05f2", "2dc67d5c8fecd708f790c0671450f13b",
      "00cd3e0ff6f7b9408bb6f698ef3fab61", "00cd3e0ff6f7b9408bb6f698ef3fab61",
      "d9dbcac91979c163439c6cc9a90c69c4", "9f82908c5c05fc5c69eb9d30ac9c15ff")
    steps.zip(wantIndex).foreach { case (st, wantDigest) =>
      st.before()
      val r = CorpusPipeline.runIncremental(spark,
        st.batch.map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text"),
        corpus, idx, benchmark = st.benchmark)
      assert(r == st.want, s"${st.name}: report")
      val got = spark.read.parquet(corpus).select("doc_id").collect()
        .map(_.getLong(0))
      assert(got.length == got.toSet.size && got.toSet == st.ids,
        s"${st.name}: corpus ids ${got.sorted.mkString(",")}")
      assert(indexDigest(idx) == wantDigest, s"${st.name}: index contents")
    }
    assert(removed == 2, s"takedown removes only rows it finds, got $removed")
    assert(CorpusPipeline.reconcile(spark, corpus, idx) == 0)
  }

  test("an admission without in-batch clusters: pinned job count, no victims sidecar") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_adm_jobs").toString
    val (corpus, idx) = (s"$dir/corpus", s"$dir/idx")
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(300)}").mkString(" ")
    val seedText = (1L to 12L).map(i => i -> words(40 + rnd.nextInt(20)))
    CorpusPipeline.seedCorpus(spark,
      seedText.map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text"),
      corpus, idx)
    // the benchmark's batch shape in small: fresh docs, an exact and two
    // near duplicates of corpus docs, one low-quality doc; no in-batch
    // cluster, so nothing goes to the victims sidecar
    val batch = ((101L to 106L).map(i => (i, words(20 + rnd.nextInt(40)))) ++
      Seq(201L -> seedText(0)._2, 202L -> (seedText(1)._2 + " dup"),
        203L -> (seedText(2)._2 + " dup"), 204L -> words(5)))
      .map { case (i, t) => (i, "en", t) }.toDF("doc_id", "lang", "text")
    var r: CorpusPipeline.IncrementalReport = null
    val jobs = jobsOf {
      r = CorpusPipeline.runIncremental(spark, batch, corpus, idx)
    }
    assert(r == CorpusPipeline.IncrementalReport(10, 9, 8, 6, 18))
    // 56 jobs when the probe, the in-batch pairs and the append each
    // sketched the batch and five counts ran as their own actions; 29
    // while the sketch shuffled trigram rows and the gated batch was
    // checkpointed without a curation gate
    assert(jobs.size == 26, s"admission ran ${jobs.size} jobs")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${corpus}_victims")),
      "a batch without cluster victims must not touch the victims sidecar")
    assert(CorpusPipeline.reconcile(spark, corpus, idx) == 0)
  }
}
