package graft.operators

import graft.{Det, Observed, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents`: deterministic
  * hash sampling, sequence packing, TF-IDF / BM25 relevance, inverted
  * index construction, PII redaction, and near-dup cluster resolution
  * (connected components over the pair graph).
  *
  * Everything except the CC iteration is a declarative one-or-two-shuffle
  * plan; sampling/redaction are map-only scans. The portable hash used
  * for sampling is an md5 prefix (not Spark's `hash()`/`xxhash64`) so
  * the SAME rows are selected by any engine that re-runs the recipe —
  * reproducible corpus splits are a pipeline requirement, not a nicety.
  */
object PipelineOps {

  /** Portable deterministic 32-bit hash of a column: first 8 hex chars of
    * md5, as a bigint. Identical in DuckDB via
    * `CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)`.
    */
  private[operators] def md5Hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")

  private def toks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  /** Connected components by alternating large-star/small-star edge
    * relabeling (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Each round is two grouped self-joins on node id —
    * the same equi-join shuffle shape as one min-label-propagation step —
    * but the edge set contracts toward a star forest rooted at each
    * component's minimum node in O(log n) rounds instead of O(diameter):
    * a 100-node chain (templated-spam shape) converges in ~6 alternations
    * where label propagation needs ~100.
    *
    *  - large-star: every node a connects its strictly-larger neighbors
    *    to m = min(N(a) ∪ {a}); keeps edges oriented large→small.
    *  - small-star: over the (u > v)-oriented edges, every node u rewires
    *    itself and its smaller neighbors to their minimum.
    *
    * Both steps preserve connectivity; the fixed point is a star forest,
    * from which labels read off directly (center = component min).
    * `localCheckpoint` truncates lineage each round so the plan does not
    * grow with the iteration count.
    *
    * Returns (labels, rounds): labels = (node, cluster) for every node
    * that appears in a NON-SELF pair, cluster = min doc_id of its
    * component; rounds = the number of distributed star rounds that ran
    * before the driver-local union-find endgame engaged (0 when the
    * input was already under `localFinishEdges`). Self-pairs (d, d) are ignored — a node with only
    * self-loops is its own singleton and gets no row (the engine's pair
    * sources emit d1 < d2 only); callers that want identity rows for
    * such nodes union them in explicitly.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 20,
      localFinishEdges: Long = 100000L): (DataFrame, Int) = {
    // cheap fixed-point detector: (count, xor of row hashes) per edge set
    // (xor, not sum: ANSI mode would throw on the intended wrap-around),
    // observed on the localCheckpoint that materializes each edge set,
    // so it costs no job of its own (a recount when AQE loses the
    // metric, see Observed). Equal checksums are CONFIRMED with the
    // deterministic exceptAll (paid once, on the final round), so a
    // 2^-64 hash collision can delay convergence detection but never
    // mis-report it.
    def checkpointWithSum(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val sumOf = Seq(count(lit(1)).as("n"), expr("bit_xor(xxhash64(u, v))").as("x"))
      val cp = e.observe(obs, sumOf.head, sumOf.tail: _*).localCheckpoint()
      val m = obs.get
      (cp, if (m.contains("n"))
        (Observed.observedLong(m, "n")(0L), Observed.observedLong(m, "x")(0L))
      else {
        val r = cp.agg(sumOf.head, sumOf.tail: _*).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      })
    }
    // canonical large→small orientation, self-loops dropped. The
    // (potentially expensive) pair-producing plan is read exactly ONCE —
    // greatest/least run in the same projection pass — and the distinct's
    // localCheckpoint materializes the result for the iteration, so no
    // separate checkpoint of the input is needed.
    var (edges, edgeSum) = checkpointWithSum(pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // small-graph fast path: once the (distinct, canonical) edge set fits
    // comfortably in driver memory, a local union-find beats ~4 Spark
    // jobs per star round on pure scheduling overhead. This is the
    // standard endgame for iterative graph algorithms — the star rounds
    // contract the edge set geometrically, so even a 100 TB run ends
    // here — and it is exact: same labels (component min), same output
    // frame. The bound is EDGES (collected ≤ 16 B × localFinishEdges),
    // not input rows; pass localFinishEdges = 0 to force the fully
    // distributed path.
    // Both star steps preserve the node set (every node keeps at least
    // one incident edge until the forest is read off) and component
    // connectivity, so finishing locally on a PARTIALLY contracted edge
    // set yields the same (node, component-min) labels as running the
    // rounds to their fixed point.
    def localFinish(e: DataFrame): DataFrame = {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = e.select(col("u"), col("v")).as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val labels = es.iterator.flatMap(p => Iterator(p._1, p._2))
        .toSet[Long].toSeq.map(n => (n, find(n)))
      labels.toDF("node", "cluster")
    }
    if (edgeSum._1 <= localFinishEdges)
      return (localFinish(edges), 0)
    var it = 0
    var converged = edges.isEmpty
    while (!converged && it < maxIter) {
      // large-star: N(a) from both directions; m = min(N(a) ∪ {a});
      // emit (b, m) for every neighbor b > a. b > a >= m keeps the
      // large→small orientation invariant.
      val nbrs = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val lMin = nbrs.groupBy(col("a"))
        .agg(least(min(col("b")), first(col("a"))).as("m"))
      // no distinct here: duplicate edges are harmless to the min
      // aggregations below and the round's final distinct canonicalizes —
      // dropping it saves one exchange per round
      val afterLarge = nbrs.join(lMin, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: per u, m = min of its smaller neighbors; rewire u and
      // every smaller neighbor v != m to m. All emitted edges stay
      // large→small (v > m by minimality).
      val sMin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      // fixed point: the oriented distinct edge sets are equal — checked
      // by checksum first, confirmed exactly only when checksums match
      val (next, nextSum) = checkpointWithSum(afterLarge
        .join(sMin, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMin.select(col("u"), col("m").as("v")))
        .distinct())
      it += 1
      // geometric contraction usually brings a huge graph under the
      // local bound within a few rounds — take the endgame as soon as
      // the per-round count (already paid for by the checksum) allows
      if (nextSum._1 <= localFinishEdges)
        return (localFinish(next), it)
      converged = nextSum == edgeSum &&
        next.exceptAll(edges).union(edges.exceptAll(next)).isEmpty
      edges = next
      edgeSum = nextSum
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "large-star/small-star needs O(log n) rounds, so this indicates " +
          "a pathological input; raise maxIter")
    // star forest: every non-center appears exactly once as u with its
    // center as v; centers appear only as v and label themselves
    val labels = edges.select(col("u").as("node"), col("v").as("cluster"))
      .union(edges.select(col("v").as("node"), col("v").as("cluster")))
      .distinct()
    (labels, it)
  }

  /** Connected components; see [[connectedComponentsWithRounds]]. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** THE definition of "near-dup clusters" over the documents table:
    * exact trigram-Jaccard pairs at 0.5 -> connected components ->
    * (doc_id, cluster = min doc_id in component). Shared by
    * `q_dedup_clusters` and `q_split_leakage_safe` (and anything else
    * that keys decisions on near-dup identity) so the two consumers can
    * never drift apart — the same sharing discipline as
    * `AnalyticsOps.orderPartSets`.
    */
  def nearDupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = DedupOps.ngramJaccardPairs(DedupOps.shingleRows(s, d), 0.5)
      .select(col("d1"), col("d2"))
    connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("cluster"))
  }

  /** Sequence packing by shard-and-offset — the 100 TB form of the
    * windowed pack in `q_pack_tokens`, producing IDENTICAL bins.
    *
    * A per-language running token sum is inherently sequential, so the
    * plain window serializes each language onto one task. Sharding fixes
    * that without changing the output: split each language into doc_id
    * RANGES (order-preserving, so global cumulative sum = previous
    * shards' totals + within-shard cumulative sum), compute the running
    * sum within each (lang, shard) in parallel, then offset by the
    * prefix-summed shard totals. The offset window runs over the
    * AGGREGATED (lang, shard) frame — id-range/shardWidth rows, never
    * the corpus — and joins back by broadcast. That frame is model-state
    * ONLY if shardWidth scales with the corpus (pick ~rows/cluster-cores;
    * the decomposition nests another level if even the shard frame grows
    * too large) — callers must size it, nothing here does.
    */
  def packTokensSharded(docs: DataFrame, binTokens: Int,
      shardWidth: Long): DataFrame = {
    val base = docs
      .withColumn("n_toks", size(split(col("text"), " ")))
      .withColumn("__shard", floor(col("doc_id") / shardWidth))
    val wIn = Window.partitionBy(col("lang"), col("__shard"))
      .orderBy(col("doc_id").asc)
    val within = base.withColumn("__cum_in", sum(col("n_toks")).over(wIn))
    val wShard = Window.partitionBy(col("lang")).orderBy(col("__shard").asc)
    val offsets = base.groupBy(col("lang"), col("__shard"))
      .agg(sum(col("n_toks")).as("__tot"))
      .withColumn("__off", sum(col("__tot")).over(wShard) - col("__tot"))
      .select(col("lang"), col("__shard"), col("__off"))
    // null-safe join keys: a plain inner join would silently DROP rows
    // with a null lang/doc_id, where the windowed form keeps them
    within.join(broadcast(offsets),
        within("lang") <=> offsets("lang") &&
          within("__shard") <=> offsets("__shard"))
      .select(within("doc_id"), within("lang"), within("n_toks"),
        floor((col("__off") + col("__cum_in") - col("n_toks")) / lit(binTokens))
          .cast("bigint").as("bin"))
  }

  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25Terms = Seq("join", "hash", "scan")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic hash sampling: keep ~25% of docs by md5-prefix hash,
    // with a 10-way shard bucket. No RNG state, no seed plumbing: the
    // sample is a pure function of the key, so re-runs, other engines,
    // and incremental arrivals all agree on membership. Map-only scan.
    "q_sample_hash" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("hv", md5Hash32(col("doc_id")))
        .filter(col("hv") % 100 < 25)
        .select(col("doc_id"), col("lang"), (col("hv") % 10).as("bucket"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // Entity resolution over a messy name vocabulary — the composition
    // showpiece of two scale paths: PassJoin edit-distance pairs
    // (Joins.editDistanceSelfJoin — equi-join candidates, no cross
    // product) feed large-star/small-star connected components, and
    // every name maps to its cluster's lexicographically-least member
    // as the canonical form (reference analog: the R15/R19 fuzzy
    // header/abbreviation machinery, generalized to resolving the
    // entities themselves). Names get dense ids via the parallel
    // global-rank pattern (no single-task window); rank order preserves
    // lexicographic order, so component-min id = component-min name.
    "q_entity_resolution" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name").as("a")).distinct()
      val ranked = ScalePatterns.withGlobalRank(names, "id", col("a").asc)
      val pairs = Joins.editDistanceSelfJoin(names)
      val withIds = pairs
        .join(ranked.select(col("a"), col("id").as("d1")), Seq("a"))
        .join(ranked.select(col("a").as("b"), col("id").as("d2")), Seq("b"))
        .select(col("d1"), col("d2"))
      val labels = connectedComponents(withIds)
      val canon = labels
        .join(ranked.select(col("id").as("cluster"),
          col("a").as("canonical")), Seq("cluster"))
        .join(ranked.select(col("id").as("node"), col("a").as("name")),
          Seq("node"))
        .select(col("name"), col("canonical"))
      val singles = names
        .join(canon.select(col("name").as("a")), Seq("a"), "left_anti")
        .select(col("a").as("name"), col("a").as("canonical"))
      canon.union(singles).orderBy(col("name").asc_nulls_first)
    }),

    // Deterministic WEIGHTED sampling without replacement — priority
    // sampling (Duffield/Lund/Thorup, JACM'07): each doc draws
    // u = (md5hash+1)/2^32 in (0,1] and gets priority w/u (weight =
    // token count — longer docs proportionally likelier); the k
    // largest priorities per language stratum are the sample. Chosen
    // over Efraimidis-Spirakis u^(1/w) because every operation here
    // (+, /, floor) is IEEE-exact and therefore bit-identical across
    // engines — pow/ln are not, and a last-ulp difference at a rank
    // boundary would break cross-engine reproducibility, which is the
    // point of hash-derived sampling. Like q_sample_hash: no RNG
    // state, membership is a pure function of the key, so re-runs and
    // incremental arrivals agree. Per-stratum top-k plans as a
    // WindowGroupLimit (map-side rank pruning), no global sort.
    "q_sample_weighted" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("prio").desc_nulls_last, col("doc_id").asc_nulls_first)
      Tables.documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")).cast("bigint"))
        .withColumn("prio",
          col("n_toks").cast("double") /
            ((md5Hash32(col("doc_id")).cast("double") + lit(1.0)) /
              lit(4294967296.0)))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk"), col("doc_id"), col("n_toks"),
          Det.r4(col("prio")).as("priority"))
        .orderBy(col("lang").asc_nulls_first, col("rk").asc_nulls_first)
    }),

    // Sequence packing: assign docs to fixed-capacity training bins
    // (2048 tokens) per language, in doc_id order — bin = the running
    // token count before this doc, div capacity. Window partitioned by
    // lang: each language packs independently and in parallel. The
    // running sum is inherently sequential per group, so at 100 TB the
    // partition key becomes (lang, shard) — pack within hash shards and
    // offset each shard's bins by the shards' token totals (one tiny
    // prefix-sum over shard aggregates); same outputs, group skew gone.
    "q_pack_tokens" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          floor((col("cum") - col("n_toks")) / lit(2048)).cast("bigint")
            .as("bin"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // The shard-and-offset form of q_pack_tokens (see packTokensSharded):
    // same bins, verified by the SAME oracle SQL — the scale path is
    // hash-gated against the sequential definition, not just documented.
    // shardWidth=1000 is sized to force MULTIPLE shards at verify scale
    // (exercising the offset stitch); production callers size it to the
    // corpus per the scaladoc.
    "q_pack_tokens_sharded" -> ((s, d) => {
      packTokensSharded(Tables.documents(s, d), 2048, shardWidth = 1000L)
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // TF-IDF: top-3 terms per document (docs < 100) with idf computed
    // over the FULL corpus. tf is pushed down to the filtered docs; df
    // and N are corpus-wide partial aggregations. Tie-break on term so
    // the top-3 cut is total-ordered.
    "q_text_tfidf" -> ((s, d) => {
      val t = toks(s, d)
      val tf = t.filter(col("doc_id") < 100)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfT = t.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfT, Seq("term")).crossJoin(broadcast(n))
        .withColumn("tfidf",
          Det.r4(col("tf") * log(col("n_docs") / col("df").cast("double"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("term").asc)))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"))
        .orderBy(col("doc_id").asc_nulls_first, col("term").asc_nulls_first)
    }),

    // BM25 (k1=1.2, b=0.75) for a fixed conjunctive query, top-20 docs.
    // Per-term contributions are summed via per-term conditional
    // aggregates in a FIXED order — a bare sum() over the melted rows
    // would add floats in partition order and diverge from the oracle in
    // the last bits. idf uses the +1 form (always positive).
    "q_text_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val tf = toks(s, d).filter(col("term").isin(bm25Terms: _*))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val contrib = tf.join(broadcast(dfT), Seq("term"))
        .join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("c", col("idf") * (col("tf") * lit(bm25K1 + 1.0)) /
          (col("tf") + lit(bm25K1) *
            (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
      val perTerm = bm25Terms.map(t =>
        sum(when(col("term") === t, col("c"))).as(s"c_$t"))
      contrib.groupBy(col("doc_id"))
        .agg(perTerm.head, perTerm.tail: _*)
        .withColumn("bm25", Det.r4(bm25Terms.map(t =>
          coalesce(col(s"c_$t"), lit(0.0))).reduce(_ + _)))
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc_nulls_first)
        .limit(20)
    }),

    // Inverted index: term -> document frequency + first-10 posting list
    // (CSV string — scalar output only). The posting list is rank-limited
    // BEFORE collect_list: collecting every doc_id and slicing afterwards
    // would buffer a stop-word term's entire posting set (millions of ids
    // at corpus scale) in one aggregation state. The row_number window
    // and the groupBy share the `term` hash partitioning, so the limit
    // costs no extra shuffle; df is a separate partial-agg count joined
    // back on the same key. The rank filter plans as WindowGroupLimit
    // (plan-asserted): every map task emits at most 10 rows per term
    // BEFORE the shuffle, so even a term present in every document moves
    // O(partitions x 10), not O(corpus).
    "q_text_inverted_index" -> ((s, d) => {
      val p = toks(s, d).distinct()
      val dfc = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5)
      val top10 = p.withColumn("rk", row_number().over(
          Window.partitionBy(col("term")).orderBy(col("doc_id").asc)))
        .filter(col("rk") <= 10)
        .groupBy(col("term"))
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
      dfc.join(top10, Seq("term"))
        .select(col("term"), col("df"), col("postings"))
        .orderBy(col("term").asc_nulls_first)
    }),

    // PII redaction: plant a deterministic email + phone per row, then
    // scrub both with regexes portable across Java regex and RE2.
    // Map-only scan; the count column audits what was removed.
    "q_text_pii_redact" -> ((s, d) => {
      val emailPat = "[A-Za-z0-9.]+@[A-Za-z.]+"
      val phonePat = "\\b555-[0-9]{4}\\b"
      Tables.documents(s, d)
        .withColumn("planted", concat(
          lit("contact "), col("lang"), col("doc_id").cast("string"),
          lit("@mail.com call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" "), substring(col("text"), 1, 40)))
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("planted"), emailPat, "[EMAIL]"),
            phonePat, "[PHONE]").as("redacted"),
          regexp_count(col("planted"), lit(emailPat)).as("n_emails"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // Near-dup cluster resolution: connected components over the exact
    // n-gram Jaccard pair graph; cluster id = min doc_id in component.
    // This is the step that turns pairwise dedup output into "keep one
    // per cluster" decisions.
    "q_dedup_clusters" -> ((s, d) =>
      nearDupClusters(s, d).orderBy(col("doc_id").asc_nulls_first)),

    // Leakage-safe train/val/test split: the split is hashed from the
    // near-dup CLUSTER representative, not the document — so a pair of
    // near-duplicates can never straddle train and test (the classic
    // eval-contamination channel that a plain per-doc hash split leaves
    // wide open). Composition: near-dup pairs -> connected components
    // -> coalesce singletons to themselves -> portable md5 split on the
    // cluster id. 80/10/10.
    "q_split_leakage_safe" -> ((s, d) => {
      val cc = nearDupClusters(s, d)
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(cc, Seq("doc_id"), "left_outer")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
        .withColumn("hv", md5Hash32(col("cluster")))
        .withColumn("split",
          when(col("hv") % 100 < 80, "train")
            .when(col("hv") % 100 < 90, "val")
            .otherwise("test"))
        .select(col("doc_id"), col("lang"), col("cluster"), col("split"))
        .orderBy(col("doc_id").asc_nulls_first)
    }),

    // PageRank (3 fixed power iterations, damping 0.85) over the
    // part co-purchase graph — the second graph-analytics shape next to
    // connected components. Each iteration is the canonical
    // edges-join-ranks shuffle: contributions flow src -> dst through
    // one equi-join keyed on src and one aggregation keyed on dst, so
    // an iteration costs exactly two key shuffles of the edge list at
    // any graph size (the same shape GraphX/Pregel lowers to). The
    // iteration count is a FIXED unroll so the DuckDB oracle can state
    // the identical computation as chained CTEs.
    "q_graph_pagerank" -> ((s, d) => {
      // shared edge mining with q_basket_pairs (AnalyticsOps
      // orderPartSets/coPurchasePairs): one definition, two consumers
      val pairs = AnalyticsOps.coPurchasePairs(
        AnalyticsOps.orderPartSets(s, d), minSupport = 2)
      val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"))
        .union(pairs.select(col("p2").as("src"), col("p1").as("dst")))
        .localCheckpoint() // every iteration re-reads the edge list
      val nodes = edges.select(col("src").as("node")).distinct()
        .localCheckpoint()
      val n = nodes.count().toDouble
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      var pr = nodes.withColumn("pr", lit(1.0 / n))
      (0 until 3).foreach { _ =>
        val contrib = edges
          .join(pr, col("src") === col("node"))
          .join(deg, Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col("pr") / col("d")).as("s"))
        pr = nodes.join(contrib, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (lit(0.15 / n) + lit(0.85) * coalesce(col("s"), lit(0.0))).as("pr"))
      }
      pr.select(col("node"), graft.Det.r4(col("pr")).as("pagerank"))
        .orderBy(col("node").asc_nulls_first)
    }),

    // The production composition: connected components over the
    // MinHash-LSH candidate pairs (each verified >= threshold by exact
    // Jaccard) instead of the quadratic exact pair join. HARD ORACLE
    // since round 11: the band derivation is md5-portable
    // (DedupOps.minhashPairCtes), so DuckDB rebuilds the identical pair
    // set and closes it transitively; DedupSimilaritySuite additionally
    // asserts LSH-sourced clusters refine the exact clusters with >= 80%
    // doc coverage.
    "q_dedup_clusters_lsh" -> ((s, d) => {
      val pairs = DedupOps.minhashLshPairs(Tables.documents(s, d), 0.5)
        .select(col("d1"), col("d2"))
      connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("cluster"))
        .orderBy(col("doc_id").asc_nulls_first)
    })
  )

  private def r4sql(inner: String, alias: String) =
    s"floor(($inner) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS $alias"

  private val packTokensOracle =
    """WITH t AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
      |  FROM documents)
      |SELECT doc_id, lang, CAST(n_toks AS INT) AS n_toks,
      |  CAST(floor((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id ASC
      |    ROWS UNBOUNDED PRECEDING) - n_toks) / 2048) AS BIGINT) AS bin
      |FROM t ORDER BY doc_id ASC NULLS FIRST""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_sample_hash" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS hv
        |  FROM documents)
        |SELECT doc_id, lang, hv % 10 AS bucket FROM h
        |WHERE hv % 100 < 25 ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    // the engine's star-contraction CC restated as a transitive-closure
    // recursive CTE (vocabulary-bounded: |names|^2 reach rows at most)
    "q_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS a FROM part),
        |pairs AS (
        |  SELECT x.a AS u, y.a AS v FROM names x JOIN names y
        |  ON x.a < y.a AND levenshtein(x.a, y.a) <= 2),
        |bidir AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |reach(s, t) AS (
        |  SELECT a, a FROM names
        |  UNION
        |  SELECT r.s, b.v FROM reach r JOIN bidir b ON r.t = b.u)
        |SELECT s AS name, min(t) AS canonical FROM reach
        |GROUP BY s ORDER BY name ASC NULLS FIRST""".stripMargin,
    // same exact-portable arithmetic: u from the md5 prefix, one IEEE
    // division for the priority, rank ties broken by doc_id
    "q_sample_weighted" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS hv
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_toks,
        |    CAST(n_toks AS DOUBLE) /
        |      ((CAST(hv AS DOUBLE) + 1.0) / 4294967296.0) AS prio
        |  FROM h),
        |r AS (
        |  SELECT lang, doc_id, n_toks, prio,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY prio DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rk
        |  FROM p)
        |SELECT lang, rk, doc_id, n_toks,
        |  floor((prio) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE)
        |    AS priority
        |FROM r WHERE rk <= 50
        |ORDER BY lang ASC NULLS FIRST, rk ASC NULLS FIRST""".stripMargin,
    "q_pack_tokens" -> packTokensOracle,
    // the sharded pack must reproduce the sequential definition exactly
    "q_pack_tokens_sharded" -> packTokensOracle,
    "q_text_tfidf" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(1) AS tf FROM t
         |       WHERE doc_id < 100 GROUP BY doc_id, term),
         |dft AS (SELECT term, count(1) AS df
         |        FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY term),
         |n AS (SELECT count(1) AS n_docs FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |    ${r4sql("tf.tf * ln(n.n_docs / CAST(dft.df AS DOUBLE))", "tfidf")}
         |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY tfidf DESC, term ASC) AS rn FROM sc)
         |SELECT doc_id, term, tf, tfidf FROM r WHERE rn <= 3
         |ORDER BY doc_id ASC NULLS FIRST, term ASC NULLS FIRST""".stripMargin,
    "q_text_bm25" ->
      s"""WITH dl AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         |st AS (SELECT count(1) AS n_docs, avg(dl) AS avgdl FROM dl),
         |tf AS (
         |  SELECT doc_id, term, count(1) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, term),
         |dft AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
         |c AS (
         |  SELECT tf.doc_id, tf.term,
         |    ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0) *
         |      (tf.tf * (1.2 + 1.0)) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS c
         |  FROM tf JOIN dft ON tf.term = dft.term
         |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |agg AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN term = 'join' THEN c END) AS c_join,
         |    sum(CASE WHEN term = 'hash' THEN c END) AS c_hash,
         |    sum(CASE WHEN term = 'scan' THEN c END) AS c_scan
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id,
         |  ${r4sql("coalesce(c_join, 0.0) + coalesce(c_hash, 0.0) + coalesce(c_scan, 0.0)", "bm25")}
         |FROM agg
         |ORDER BY bm25 DESC, doc_id ASC NULLS FIRST LIMIT 20""".stripMargin,
    "q_text_inverted_index" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |p AS (SELECT DISTINCT doc_id, term FROM t)
        |SELECT term, count(1) AS df,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',')
        |    AS postings
        |FROM p GROUP BY term HAVING count(1) >= 5
        |ORDER BY term ASC NULLS FIRST""".stripMargin,
    "q_text_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'contact ' || lang || CAST(doc_id AS VARCHAR) ||
        |    '@mail.com call 555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
        |    substring(text, 1, 40) AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(planted, '[A-Za-z0-9.]+@[A-Za-z.]+', '[EMAIL]', 'g'),
        |    '\b555-[0-9]{4}\b', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(planted, '[A-Za-z0-9.]+@[A-Za-z.]+'))
        |    AS INT) AS n_emails
        |FROM p ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    // the same 3 power iterations, unrolled as chained CTEs; edge
    // mining shared with q_basket_pairs (AnalyticsOps.coPurchaseCte)
    "q_graph_pagerank" ->
      s"""WITH ${AnalyticsOps.coPurchaseCte},
        |edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
        |  UNION ALL SELECT p2, p1 FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, count(1) AS d FROM edges GROUP BY src),
        |pr0 AS (SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
        |agg1 AS (SELECT e.dst, sum(p.pr / d.d) AS s FROM edges e
        |  JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |pr1 AS (SELECT node, 0.15 / n + 0.85 * coalesce(s, 0.0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN agg1 ON node = agg1.dst),
        |agg2 AS (SELECT e.dst, sum(p.pr / d.d) AS s FROM edges e
        |  JOIN pr1 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |pr2 AS (SELECT node, 0.15 / n + 0.85 * coalesce(s, 0.0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN agg2 ON node = agg2.dst),
        |agg3 AS (SELECT e.dst, sum(p.pr / d.d) AS s FROM edges e
        |  JOIN pr2 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |pr3 AS (SELECT node, 0.15 / n + 0.85 * coalesce(s, 0.0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN agg3 ON node = agg3.dst)
        |SELECT node,
        |  floor((pr) * 10000 + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE)
        |    AS pagerank
        |FROM pr3 ORDER BY node ASC NULLS FIRST""".stripMargin,
    // the engine's star-contraction CC over the md5-portable LSH pair
    // derivation (DedupOps.minhashPairCtes), restated as a transitive
    // closure — same tail as the q_dedup_clusters oracle below
    "q_dedup_clusters_lsh" ->
      s"""WITH RECURSIVE ${DedupOps.minhashPairCtes},
         |sym AS (SELECT d1 AS a, d2 AS b FROM lsh_pairs
         |        UNION SELECT d2, d1 FROM lsh_pairs),
         |nodes AS (SELECT DISTINCT a AS n FROM sym),
         |reach(n, r) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.n)
         |SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n
         |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
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
        |  GROUP BY 1, 2, 3, 4),
        |edges AS (
        |  SELECT d1, d2 FROM pairs
        |  WHERE floor((inter / (sz1 + sz2 - inter)) * 10000
        |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5),
        |sym AS (SELECT d1 AS a, d2 AS b FROM edges
        |        UNION SELECT d2, d1 FROM edges),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach(n, r) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.n)
        |SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin,
    "q_split_leakage_safe" ->
      """WITH RECURSIVE sh AS (
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
        |  GROUP BY 1, 2, 3, 4),
        |edges AS (
        |  SELECT d1, d2 FROM pairs
        |  WHERE floor((inter / (sz1 + sz2 - inter)) * 10000
        |    + CAST(0.5 AS DOUBLE)) / CAST(10000 AS DOUBLE) >= 0.5),
        |sym AS (SELECT d1 AS a, d2 AS b FROM edges
        |        UNION SELECT d2, d1 FROM edges),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |reach(n, r) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.n),
        |cc AS (SELECT n AS doc_id, min(r) AS cluster FROM reach GROUP BY n),
        |labeled AS (
        |  SELECT d.doc_id, d.lang, coalesce(cc.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
        |hashed AS (
        |  SELECT doc_id, lang, cluster,
        |    CAST(('0x' || substring(md5(CAST(cluster AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS hv
        |  FROM labeled)
        |SELECT doc_id, lang, cluster,
        |  CASE WHEN hv % 100 < 80 THEN 'train'
        |    WHEN hv % 100 < 90 THEN 'val' ELSE 'test' END AS split
        |FROM hashed
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin
  )
}
